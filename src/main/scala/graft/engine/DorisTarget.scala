package graft.engine

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** An ANN (vector) index baked into the Doris table DDL (reference
  * `VectorIndexDef` → `INDEX idx_vec_f (f) USING ANN PROPERTIES …`,
  * python/cocoindex/connectors/doris/_target.py:730-789). */
final case class DorisVectorIndex(field: String, indexType: String = "HNSW",
    metric: String = "l2_distance", maxDegree: Option[Int] = None,
    efConstruction: Option[Int] = None, nlist: Option[Int] = None)

/** An inverted (full-text) index (reference `InvertedIndexDef`,
  * `_target.py:731-800`). */
final case class DorisInvertedIndex(field: String,
    parser: Option[String] = None)

/** Apache Doris table target over the store's BOTH real transports —
  * the reference's doris connector
  * (python/cocoindex/connectors/doris/_target.py) statement for
  * statement:
  *
  *   - DDL, deletes and reads travel the MySQL wire protocol on the
  *     query port ([[MysqlWire.Client]] = what pymysql does,
  *     `:519-545`): `CREATE TABLE IF NOT EXISTS … ENGINE = OLAP
  *     DUPLICATE KEY(pk) DISTRIBUTED BY HASH(pk) BUCKETS AUTO`
  *     with ANN/INVERTED index defs inline (`:738-815`), `ALTER
  *     TABLE ADD/DROP COLUMN` for shape drift (`:1104-1121`),
  *     `DELETE … WHERE (pk='…') OR …` with escaped literals
  *     (`:690-704`);
  *   - bulk upserts travel HTTP Stream Load (`PUT
  *     /api/{db}/{table}/_stream_load`, format=json +
  *     strip_outer_array + a unique label, `:565-676`), preceded by
  *     a keyed DELETE — the DUPLICATE KEY model appends without
  *     uniqueness, so delete-before-insert is what makes the upsert
  *     converge (`:875-888`).
  *
  * Writes run executor-side (key-hashed partitions, one MySQL + one
  * HTTP session per task), chunked by `batchSize` with the HTTP retry
  * taxonomy on loads. Vector columns (`ARRAY<FLOAT>`) carry their
  * JSON-array text form; `BOOLEAN` round-trips as Doris's 1/0.
  */
final case class DorisTableTarget(host: String, mysqlPort: Int,
    httpPort: Int, database: String, table: String,
    user: String = "root", password: String = "",
    vectorIndexes: Seq[DorisVectorIndex] = Nil,
    invertedIndexes: Seq[DorisInvertedIndex] = Nil,
    writePartitions: Int = 4, batchSize: Int = 4096) extends WireTarget {

  import DorisTableTarget._

  SurrealTableTarget.validateIdentifier(database, "database name")
  SurrealTableTarget.validateIdentifier(table, "table name")

  override def containerSignature: String =
    s"doris;$host:$mysqlPort/$database;table=$table;pk=$RowKey"

  override def truncate(spark: SparkSession): Unit =
    withConn { c =>
      c.query(s"DROP TABLE IF EXISTS `$database`.`$table`"); ()
    }

  /** The reference's CREATE TABLE shape (`:738-815`): key column
    * first (TEXT keys become VARCHAR(512), `:493-496`), ANN/INVERTED
    * index defs inline, OLAP DUPLICATE KEY + hash distribution. */
  private def createTableSql(schema: StructType): String = {
    val valueFields = schema.fields.filter(_.name != RowKey)
    val colDefs =
      (s"    `$RowKey` VARCHAR(512) NOT NULL" +:
        valueFields.toSeq.map { f =>
          val vec = f.dataType match {
            case ArrayType(FloatType, _) => true
            case _ => false
          }
          val nullable = if (vec) "NOT NULL" else "NULL"
          s"    `${f.name}` ${dorisType(f.dataType)} $nullable"
        }) ++
        vectorIndexes.map { vi =>
          val dim = valueFields.find(_.name == vi.field)
            .map(_ => vectorDimOf(vi.field))
          val props =
            Seq(s""""index_type" = "${vi.indexType.toLowerCase}"""",
              s""""metric_type" = "${vi.metric.toLowerCase}"""") ++
              dim.flatten.map(d => s""""dim" = "$d"""") ++
              vi.maxDegree.map(v => s""""max_degree" = "$v"""") ++
              vi.efConstruction.map(v => s""""ef_construction" = "$v"""") ++
              vi.nlist.map(v => s""""nlist" = "$v"""")
          s"    INDEX idx_vec_${vi.field} (`${vi.field}`) USING ANN " +
            s"PROPERTIES (${props.mkString(", ")})"
        } ++
        invertedIndexes.map { inv =>
          s"    INDEX idx_inv_${inv.field} (`${inv.field}`) USING INVERTED" +
            inv.parser.map(p => s""" PROPERTIES ("parser" = "$p")""")
              .getOrElse("")
        }
    s"CREATE TABLE IF NOT EXISTS `$database`.`$table` (\n" +
      colDefs.mkString(",\n") + "\n)\n" +
      s"ENGINE = OLAP\nDUPLICATE KEY(`$RowKey`)\n" +
      s"DISTRIBUTED BY HASH(`$RowKey`) BUCKETS AUTO\n" +
      "PROPERTIES (\n    \"replication_num\" = \"1\"\n)"
  }

  /** Declared vector dimensions are discovered lazily from the first
    * apply's rows — Doris's ANN index wants a "dim" property, but the
    * Spark schema doesn't carry one; absent rows, the property is
    * simply omitted (legal: the store infers from the column). */
  @transient private var observedDims: Map[String, Int] = Map.empty
  private def vectorDimOf(field: String): Option[Int] =
    observedDims.get(field)

  private def observedColumns(c: MysqlWire.Client): Map[String, String] =
    try c.query(s"DESC `$database`.`$table`").rows
      .map(r => r(0).get -> r(1).getOrElse("")).toMap
    catch {
      case e: MysqlWire.MysqlErrorException if e.code == 1146 => Map.empty
    }

  private def ensureTable(c: MysqlWire.Client, schema: StructType,
      observed: Map[String, String]): Unit = {
    if (observed.isEmpty)
      c.query(createTableSql(schema))
    else
      schema.fields.filter(_.name != RowKey).foreach { f =>
        if (!observed.contains(f.name)) {
          // the reference adds drifted columns best-effort and
          // tolerates the concurrent-creator race (:1113-1121)
          try c.query(s"ALTER TABLE `$database`.`$table` " +
            s"ADD COLUMN `${f.name}` ${dorisType(f.dataType)} NULL")
          catch {
            case e: MysqlWire.MysqlErrorException if e.code == 1060 => ()
          }
          ()
        }
      }
  }

  /** Records vector dims for the ANN DDL before the table exists
    * (one bounded peek per not-yet-seen vector column), then the
    * shared wire apply. */
  override def apply(spark: SparkSession, upserts: DataFrame,
      deleteKeys: DataFrame): TargetStats = {
    upserts.schema.fields.foreach { f =>
      f.dataType match {
        case ArrayType(FloatType, _) if !observedDims.contains(f.name) =>
          upserts.select(size(col(f.name)).as("d")).filter(col("d") > 0)
            .limit(1).collect().headOption
            .foreach(r => observedDims += f.name -> r.getInt(0))
        case _ => ()
      }
    }
    super.apply(spark, upserts, deleteKeys)
  }

  protected type Conn = MysqlWire.Client
  protected type Container = Map[String, String]

  protected def connect(): MysqlWire.Client =
    new MysqlWire.Client(host, mysqlPort, user, database, password)

  protected def observe(c: MysqlWire.Client): Option[Map[String, String]] =
    Some(observedColumns(c)).filter(_.nonEmpty)

  protected def prepare(c: MysqlWire.Client, schema: StructType,
      existing: Option[Map[String, String]]): WireWriter[MysqlWire.Client] = {
    ensureTable(c, schema, existing.getOrElse(Map.empty))
    val (h, hp, db, usr, pw, t, bs) =
      (host, httpPort, database, user, password, table, batchSize)
    val keyIdx = schema.fieldIndex(RowKey)
    WireWriter(
      upsert = (c, rows) => rows.grouped(bs).foreach { chunk =>
        // delete-before-insert: the DUPLICATE KEY model has no ON
        // CONFLICT — convergence comes from clearing the keys first
        // (:875-888)
        c.query(deleteSql(db, t, chunk.map(_.getString(keyIdx))))
        streamLoad(h, hp, db, t, usr, pw, chunk.map(rowJson(_, schema)))
      },
      delete = (c, keys) => keys.grouped(bs).foreach { chunk =>
        c.query(deleteSql(db, t, chunk))
      })
  }

  /** Doris's ANN serving query over the MySQL wire — the reference's
    * `build_vector_search_query` (doris/_target.py:1338-1392):
    * `SELECT cols, fn(`vf`, [v…]) as _distance FROM t ORDER BY
    * _distance LIMIT n`, metric → (`l2_distance_approximate` ASC /
    * `inner_product_approximate` DESC / named fn), vector inlined;
    * a deterministic key tiebreak appended for stable pagination.
    * Returns the selected columns plus `_distance DOUBLE`. */
  def knnQuery(spark: SparkSession, queryVec: Seq[Float], k: Int,
      metric: String = "l2_distance", vectorCol: String = "embedding",
      selectCols: Seq[String] = Seq(RowKey)): DataFrame = {
    selectCols.foreach(
      SurrealTableTarget.validateIdentifier(_, "column name"))
    SurrealTableTarget.validateIdentifier(vectorCol, "column name")
    val (fn, order) = metric match {
      case "l2_distance" => ("l2_distance_approximate", "ASC")
      case "inner_product" => ("inner_product_approximate", "DESC")
      case other =>
        (other, if (other.contains("distance")) "ASC" else "DESC")
    }
    val vecLit = queryVec.map(v => v.toDouble.toString)
      .mkString("[", ", ", "]")
    val select = selectCols.map(c => s"`$c`").mkString(", ")
    val sql =
      s"SELECT $select, $fn(`$vectorCol`, $vecLit) as _distance\n" +
        s"FROM `$database`.`$table`\n" +
        s"ORDER BY _distance $order, `$RowKey`\nLIMIT $k"
    val (types, res) = withConn { c =>
      val desc = c.query(s"DESC `$database`.`$table`").rows
        .map(r => r(0).get -> r(1).getOrElse("TEXT")).toMap
      (desc, c.query(sql))
    }
    val schema = StructType(res.columns.map(mc =>
      StructField(mc.name,
        if (mc.name == "_distance") DoubleType
        else sparkTypeOf(types.getOrElse(mc.name, "TEXT")), nullable = true)))
    val data = res.rows.map { r =>
      Row.fromSeq(res.columns.zipWithIndex.map { case (mc, i) =>
        if (mc.name == "_distance")
          r(i) match { case Some(s) => s.toDouble; case None => null }
        else decodeValue(r(i), types.getOrElse(mc.name, "TEXT"))
      })
    }
    spark.createDataFrame(spark.sparkContext.parallelize(data, 1), schema)
  }

  /** Read back over the MySQL wire — driver-side, gate/serve-sized;
    * values decode by the DESC-observed column types. */
  def read(spark: SparkSession): DataFrame = {
    val (types, res) = withConn { c =>
      val desc = c.query(s"DESC `$database`.`$table`").rows
        .map(r => r(0).get -> r(1).getOrElse("TEXT"))
      (desc, c.query(s"SELECT * FROM `$database`.`$table`"))
    }
    val typeOf = types.toMap
    val schema = StructType(res.columns.map(mc =>
      StructField(mc.name,
        sparkTypeOf(typeOf.getOrElse(mc.name, "TEXT")), nullable = true)))
    val data = res.rows.map { r =>
      Row.fromSeq(res.columns.zipWithIndex.map { case (mc, i) =>
        decodeValue(r(i), typeOf.getOrElse(mc.name, "TEXT"))
      })
    }
    spark.createDataFrame(spark.sparkContext.parallelize(data, 1), schema)
  }
}

object DorisTableTarget {
  val RowKey = "row_key"

  /** Spark type → Doris DDL type (reference `_LEAF_TYPE_MAPPINGS`,
    * doris/_target.py:263-277: str→TEXT, int→BIGINT, float→DOUBLE,
    * bool→BOOLEAN, datetime→DATETIME(6), date→DATE, Decimal→TEXT,
    * ndarray→ARRAY&lt;FLOAT&gt;). */
  private[engine] def dorisType(dt: DataType): String = dt match {
    case StringType => "TEXT"
    case LongType => "BIGINT"
    case IntegerType => "INT"
    case ShortType => "SMALLINT"
    case DoubleType => "DOUBLE"
    case FloatType => "FLOAT"
    case BooleanType => "BOOLEAN"
    case TimestampType => "DATETIME(6)"
    case DateType => "DATE"
    case _: DecimalType => "TEXT"
    case ArrayType(FloatType, _) => "ARRAY<FLOAT>"
    case other =>
      throw new IllegalArgumentException(s"unsupported doris type $other")
  }

  /** `DATETIME(6)` → `DATETIME`, `ARRAY<FLOAT>` → `ARRAY`. */
  private def baseType(dorisType: String): String =
    dorisType.takeWhile(c => c != '(' && c != '<')

  private[engine] def sparkTypeOf(dorisType: String): DataType =
    baseType(dorisType) match {
      case "BIGINT" => LongType
      case "INT" => IntegerType
      case "SMALLINT" => ShortType
      case "DOUBLE" => DoubleType
      case "FLOAT" => FloatType
      case "BOOLEAN" => BooleanType
      case "DATETIME" => TimestampType
      case "DATE" => DateType
      case "ARRAY" => ArrayType(FloatType)
      case _ => StringType
    }

  private val TsFormat = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")

  /** One row as the Stream Load JSON object (the reference sends
    * `json.dumps(rows)` with isoformat datetimes, doris/_target.py:
    * 272-273,599). */
  private[engine] def rowJson(row: Row, schema: StructType): JValue =
    JObject(schema.fields.toList.zipWithIndex.map { case (f, i) =>
      val v: JValue =
        if (row.isNullAt(i)) JNull
        else f.dataType match {
          case StringType => JString(row.getString(i))
          case LongType => JInt(row.getLong(i))
          case IntegerType => JInt(row.getInt(i))
          case ShortType => JInt(row.getShort(i).toInt)
          case DoubleType => JDouble(row.getDouble(i))
          case FloatType => JDouble(row.getFloat(i).toDouble)
          case BooleanType => JBool(row.getBoolean(i))
          case TimestampType => JString(TsFormat.format(
            row.getTimestamp(i).toInstant.atZone(java.time.ZoneOffset.UTC)))
          case DateType => JString(row.getDate(i).toString)
          case _: DecimalType => JString(row.getDecimal(i).toPlainString)
          case ArrayType(FloatType, _) =>
            JArray(row.getSeq[Float](i).toList.map(x => JDouble(x.toDouble)))
          case other => throw new IllegalArgumentException(
            s"unsupported doris value type $other")
        }
      f.name -> v
    })

  private[engine] def decodeValue(v: Option[String],
      dorisType: String): Any = v match {
    case None => null
    case Some(s) => baseType(dorisType) match {
      case "BIGINT" => s.toLong
      case "INT" => s.toInt
      case "SMALLINT" => s.toShort
      case "DOUBLE" => s.toDouble
      case "FLOAT" => s.toFloat
      case "BOOLEAN" => s == "1" || s.equalsIgnoreCase("true")
      case "DATETIME" => java.sql.Timestamp.from(
        java.time.LocalDateTime.parse(s.replace(' ', 'T'))
          .toInstant(java.time.ZoneOffset.UTC))
      case "DATE" => java.sql.Date.valueOf(s)
      case "ARRAY" => JsonMethods.parse(s) match {
        case JArray(xs) =>
          xs.map(QdrantCollectionTarget.doubleOf(_).toFloat)
        case _ => null
      }
      case _ => s
    }
  }

  /** `DELETE … WHERE (pk='…') OR …` with the reference's literal
    * escaping (doris/_target.py:690-704). */
  private[engine] def deleteSql(database: String, table: String,
      keys: Seq[String]): String = {
    val conds = keys.map { k =>
      val escaped = k.replace("\\", "\\\\").replace("'", "\\'")
      s"(`$RowKey` = '$escaped')"
    }
    s"DELETE FROM `$database`.`$table` WHERE ${conds.mkString(" OR ")}"
  }

  /** One Stream Load call (`PUT /api/{db}/{table}/_stream_load`,
    * format=json + strip_outer_array + unique label + Basic auth,
    * doris/_target.py:584-656), under the HTTP retry taxonomy; a
    * JSON body whose Status is neither Success nor Publish Timeout
    * fails the chunk. */
  private[engine] def streamLoad(host: String, httpPort: Int,
      database: String, table: String, user: String, password: String,
      rows: Seq[JValue]): Unit = {
    if (rows.isEmpty) return
    val label = s"graft_${System.currentTimeMillis()}_" +
      java.util.UUID.randomUUID().toString.take(8)
    val auth = java.util.Base64.getEncoder.encodeToString(
      s"$user:$password".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val payload = JsonMethods.compact(JsonMethods.render(JArray(rows.toList)))
    // "Expect: 100-continue" (which the reference client sends) is a
    // JDK-restricted header that setRequestProperty silently drops —
    // omitted rather than pretended.
    val hdrs = Map("format" -> "json", "strip_outer_array" -> "true",
      "label" -> label, "Authorization" -> s"Basic $auth")
    // A real FE answers Stream Load with a 307 to a BE address and the
    // client must re-PUT the body there with auth intact
    // (doris/_target.py:613-622); HttpURLConnection refuses to replay
    // a PUT body on 307, so redirects are followed by hand.
    val resp = HttpJson.retrying() {
      var url = s"http://$host:$httpPort/api/$database/$table/_stream_load"
      var r = HttpJson.requestText("PUT", url, payload,
        contentType = "application/json", headers = hdrs,
        followRedirects = false)
      var hops = 0
      while ((r.status == 307 || r.status == 308) && hops < 3) {
        url = r.location.getOrElse(throw new IllegalStateException(
          s"stream load ${r.status} redirect without Location"))
        r = HttpJson.requestText("PUT", url, payload,
          contentType = "application/json", headers = hdrs,
          followRedirects = false)
        hops += 1
      }
      r
    }
    resp.body \ "Status" match {
      case JString("Success") | JString("Publish Timeout") => ()
      case other => throw new IllegalStateException(
        s"stream load failed (${other}): ${resp.body \ "Message"}")
    }
  }
}
