package graft.engine

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** A pgvector index on the table (reference `_VectorIndexSpec` +
  * handler, python/cocoindex/connectors/postgres/_target.py:480-557):
  * physical name `{table}__vector__{name}`, drop-then-recreate DDL,
  * `USING ivfflat|hnsw ("col" vector_<metric>_ops) WITH (…)`. */
final case class PgVectorIndex(name: String, column: String,
    method: String = "ivfflat", metric: String = "cosine",
    lists: Option[Int] = Some(100), m: Option[Int] = None,
    efConstruction: Option[Int] = None) {

  def opClass: String = metric match {
    case "cosine" => "vector_cosine_ops"
    case "l2" => "vector_l2_ops"
    case "ip" => "vector_ip_ops"
    case other =>
      throw new IllegalArgumentException(s"unknown pgvector metric $other")
  }

  def createSql(table: String): String = {
    val withParams = method match {
      case "ivfflat" => lists.map(v => s"lists = $v").toSeq
      case "hnsw" =>
        m.map(v => s"m = $v").toSeq ++
          efConstruction.map(v => s"ef_construction = $v").toSeq
      case other =>
        throw new IllegalArgumentException(s"unknown pgvector method $other")
    }
    val withClause =
      if (withParams.isEmpty) "" else withParams.mkString(" WITH (", ", ", ")")
    s"""CREATE INDEX "${physicalName(table)}" ON "$table" """ +
      s"""USING $method ("$column" $opClass)$withClause"""
  }

  def physicalName(table: String): String = s"${table}__vector__$name"
}

/** PostgreSQL table target over the real v3 wire protocol — the
  * reference's flagship connector transport
  * (python/cocoindex/connectors/postgres/_target.py) executed
  * against [[graft.fixtures.MiniPg]] in this environment and against
  * a real server anywhere else, statement for statement:
  *
  *   - bulk writes (default `copyBulk=true`): COPY into a TEMPORARY
  *     stage + ONE `INSERT … SELECT … ON CONFLICT DO UPDATE` per
  *     writer partition — the store's canonical bulk-upsert recipe;
  *     `copyBulk=false` emits the reference's exact statements: ONE
  *     multi-row `INSERT INTO t (cols) VALUES ($1,…),(…) ON CONFLICT
  *     (pk) DO UPDATE SET c = EXCLUDED.c` per chunk, chunk size
  *     `max(1, 32767 / numCols)` —
  *     the store's int16 bind-parameter ceiling (`_BIND_LIMIT`,
  *     :71,:755); key-only tables get `DO NOTHING` (:747-749);
  *   - batched deletes: `DELETE FROM t WHERE pk IN ($1,…)`, chunked
  *     under the same limit (:813-836);
  *   - managed DDL: `CREATE TABLE IF NOT EXISTS` with an inline
  *     `PRIMARY KEY` (:1068-1103); new columns via `ALTER TABLE ADD
  *     COLUMN IF NOT EXISTS` (:1156-1158); a changed column type
  *     tries `ALTER COLUMN TYPE` first and falls back to the lossy
  *     DROP+ADD rebuild when the cast fails (:1160-1186) — the
  *     engine's schema-version bump re-upserts every row, refilling
  *     the rebuilt column in the same apply;
  *   - pgvector: `ARRAY<FLOAT>` columns declared `vector(N)` after
  *     `CREATE EXTENSION IF NOT EXISTS vector` (:1055,:1083-1085),
  *     values in the extension's text form `[x,y,…]`; vector indexes
  *     drop-and-recreate as `{table}__vector__{name}` (:524-556).
  *
  * The observed table shape is read back from
  * `information_schema.columns` and reconciled against the desired
  * schema — the store itself is the tracking record, the same stance
  * as [[JdbcTableTarget]]: a crash between DDL and commit re-observes
  * and converges. Writes happen executor-side (`foreachPartition`,
  * key-hashed so each key has exactly one writer), each partition on
  * its own wire connection with the engine's lock-conflict retry
  * taxonomy (40001/40P01/55P03 + convergent 23505).
  */
final case class PgTableTarget(host: String, port: Int, database: String,
    table: String, user: String = "graft",
    vectorDims: Map[String, Int] = Map.empty,
    vectorIndexes: Seq[PgVectorIndex] = Nil,
    sqlAttachments: Seq[String] = Nil,
    /** Engine-reconciled attachments (create/change/remove lifecycle
      * over the wire — the reference's declare_sql_command_attachment
      * on THIS connector, postgres/_target.py:1362). */
    override val attachments: Seq[TargetAttachment] = Nil,
    writePartitions: Int = 4,
    /** Bulk-load path: per writer partition, rows stream into a
      * TEMPORARY stage over the COPY sub-protocol (one statement +
      * framed data instead of one bind tuple per row), then ONE
      * `INSERT … SELECT … FROM stage ON CONFLICT DO UPDATE` applies
      * the partition — PostgreSQL's canonical bulk-upsert recipe.
      * `false` keeps the reference-faithful chunked multi-row
      * INSERT…ON CONFLICT binds (postgres/_target.py:769-791). */
    copyBulk: Boolean = true) extends WireTarget {

  import PgTableTarget._

  SurrealTableTarget.validateIdentifier(table, "table name")

  override def containerSignature: String =
    s"postgres;$host:$port/$database;table=$table;pk=$RowKey"

  override def truncate(spark: SparkSession): Unit =
    withConn { c => c.query(s"""DROP TABLE IF EXISTS "$table""""); () }

  override def execAttachmentSql(spark: SparkSession, sql: String,
      tolerateMissing: Boolean): Unit =
    withConn { c =>
      try { c.query(sql); () }
      catch {
        case e: PgWire.PgErrorException
            if SqlDialect.Postgres.ddlExistsStates.contains(e.sqlState) ||
              (tolerateMissing &&
                SqlDialect.Postgres.ddlMissingStates.contains(e.sqlState)) =>
          ()
      }
    }

  private def declaredType(f: StructField): String = f.dataType match {
    case ArrayType(FloatType, _) =>
      val dim = vectorDims.getOrElse(f.name, throw new IllegalArgumentException(
        s"vector column ${f.name} needs a dimension in vectorDims"))
      s"vector($dim)"
    case other => SqlDialect.Postgres.sqlType(other)
  }

  /** Observed column shape via information_schema — name → canonical
    * comparable type. Extension types report `USER-DEFINED` +
    * `udt_name` (how a real server surfaces pgvector); the dimension
    * is not in information_schema, so vector columns compare on the
    * udt_name alone. */
  private def observedColumns(c: PgWire.Client): Map[String, String] = {
    val res = c.execute(
      "SELECT column_name, data_type, udt_name, character_maximum_length, " +
        "numeric_precision, numeric_scale FROM information_schema.columns " +
        "WHERE table_name = $1", Seq(Some(table)))
    res.rows.map { r =>
      val name = r(0).get
      val dataType = r(1).get
      val udt = r(2).getOrElse("")
      val rendered = dataType match {
        case "USER-DEFINED" => udt
        case "character varying" =>
          r(3).map(n => s"varchar($n)").getOrElse("varchar")
        case "numeric" => (r(4), r(5)) match {
          case (Some(p), Some(s)) => s"numeric($p,$s)"
          case _ => "numeric"
        }
        case other => other
      }
      name -> rendered
    }.toMap
  }

  /** Declared DDL type → the information_schema rendering, for
    * change detection. */
  private def comparable(declared: String): String = {
    val d = declared.toLowerCase
    if (d.startsWith("vector")) "vector"
    else if (d == "timestamptz") "timestamp with time zone"
    else if (d == "timestamp") "timestamp without time zone"
    else if (d.startsWith("varchar")) d
    else d
  }

  private def ensureTable(c: PgWire.Client, schema: StructType,
      observed: Map[String, String]): Unit = {
    val valueFields = schema.fields.filter(_.name != RowKey)
    valueFields.foreach(f =>
      SurrealTableTarget.validateIdentifier(f.name, "column name"))
    if (valueFields.exists(f =>
        f.dataType.isInstanceOf[ArrayType] || vectorDims.contains(f.name)))
      c.query("CREATE EXTENSION IF NOT EXISTS vector")

    if (observed.isEmpty) {
      val colDefs = (s""""$RowKey" text NOT NULL""" +:
        valueFields.toSeq.map(f => s""""${f.name}" ${declaredType(f)}""")) :+
        s"""PRIMARY KEY ("$RowKey")"""
      c.query(colDefs.mkString(
        s"""CREATE TABLE IF NOT EXISTS "$table" (""", ", ", ")"))
    } else valueFields.foreach { f =>
      val want = declaredType(f)
      observed.get(f.name) match {
        case None =>
          c.query(
            s"""ALTER TABLE "$table" ADD COLUMN IF NOT EXISTS "${f.name}" $want""")
        case Some(have) if have != comparable(want) =>
          // reference replace semantics (:1160-1186): in-place ALTER
          // TYPE when the store can cast, lossy DROP+ADD when not —
          // the schema-version bump upstream re-upserts every row
          try c.query(
            s"""ALTER TABLE "$table" ALTER COLUMN "${f.name}" TYPE $want""")
          catch {
            case _: PgWire.PgErrorException =>
              c.query(
                s"""ALTER TABLE "$table" DROP COLUMN IF EXISTS "${f.name}"""")
              c.query(
                s"""ALTER TABLE "$table" ADD COLUMN "${f.name}" $want""")
          }
        case _ => ()
      }
    }
    // vector indexes: the reference drops-and-recreates when the
    // SPEC changes (:533-556, fired off a tracking-record diff); the
    // store-as-tracking equivalent observes pg_indexes and rebuilds
    // only an absent or definition-changed index — a steady-state
    // apply never pays an index rebuild
    if (vectorIndexes.nonEmpty) {
      val existing = c.execute(
        "SELECT indexname, indexdef FROM pg_indexes WHERE tablename = $1",
        Seq(Some(table))).rows
        .map(r => r(0).get -> r(1).getOrElse("")).toMap
      vectorIndexes.foreach { vi =>
        val name = vi.physicalName(table)
        val want = vi.createSql(table)
        if (!existing.get(name).contains(want)) {
          c.query(s"""DROP INDEX IF EXISTS "$name"""")
          c.query(want)
        }
      }
    }
    sqlAttachments.foreach { sql =>
      try { c.query(sql); () }
      catch {
        case e: PgWire.PgErrorException
            if SqlDialect.Postgres.ddlExistsStates.contains(e.sqlState) => ()
      }
    }
  }

  protected type Conn = PgWire.Client
  protected type Container = Map[String, String]

  protected def connect(): PgWire.Client =
    new PgWire.Client(host, port, user, database)

  protected def observe(c: PgWire.Client): Option[Map[String, String]] =
    Some(observedColumns(c)).filter(_.nonEmpty)

  protected def prepare(c: PgWire.Client, schema: StructType,
      existing: Option[Map[String, String]]): WireWriter[PgWire.Client] = {
    ensureTable(c, schema, existing.getOrElse(Map.empty))
    val t = table
    val fields = schema.fields.toSeq
    val keyIdx = schema.fieldIndex(RowKey)
    val names = RowKey +: fields.filter(_.name != RowKey).map(_.name)
    val valueIdx = names.drop(1).map(schema.fieldIndex)
    val valueTypes = valueIdx.map(i => schema.fields(i).dataType)
    val nCols = names.length
    val chunkSize = math.max(1, BindLimit / nCols)
    val colList = names.map(n => s""""$n"""").mkString(", ")
    val conflict =
      if (nCols == 1) s"""ON CONFLICT ("$RowKey") DO NOTHING"""
      else names.drop(1).map(n => s""""$n" = EXCLUDED."$n"""")
        .mkString(s"""ON CONFLICT ("$RowKey") DO UPDATE SET """, ", ", "")
    val stageCols = ((s""""$RowKey" text NOT NULL""" +:
      fields.filter(_.name != RowKey).map(f =>
        s""""${f.name}" ${declaredType(f)}""")) :+
      s"""PRIMARY KEY ("$RowKey")""").mkString(" (", ", ", ")")
    val useCopy = copyBulk
    def tuple(row: Row): Seq[Option[String]] =
      Some(row.getString(keyIdx)) +:
        valueIdx.zip(valueTypes).map { case (i, dt) => renderValue(row, i, dt) }
    WireWriter(
      upsert = (c, rows) =>
        if (useCopy) {
          // COPY into a TEMPORARY stage, ONE upsert from it
          val stage = t + "__stage_" + java.util.UUID.randomUUID()
            .toString.replace("-", "").take(8)
          c.query(s"""CREATE TEMPORARY TABLE "$stage"""" + stageCols)
          try {
            c.copyIn(s"""COPY "$stage" ($colList) FROM STDIN""", rows.map(tuple))
            PgWire.retrying() {
              c.query(s"""INSERT INTO "$t" ($colList) """ +
                s"""SELECT $colList FROM "$stage" $conflict""")
              ()
            }
          } finally c.query(s"""DROP TABLE IF EXISTS "$stage"""")
        } else rows.grouped(chunkSize).foreach { chunk =>
          val placeholders = chunk.indices.map { r =>
            (0 until nCols).map(j => s"$$${r * nCols + j + 1}")
              .mkString("(", ", ", ")")
          }.mkString(", ")
          val sql =
            s"""INSERT INTO "$t" ($colList) VALUES $placeholders $conflict"""
          PgWire.retrying() { c.execute(sql, chunk.flatMap(tuple)); () }
        },
      delete = (c, keys) => keys.grouped(BindLimit).foreach { chunk =>
        val placeholders = chunk.indices.map(i => s"$$${i + 1}").mkString(", ")
        val sql = s"""DELETE FROM "$t" WHERE "$RowKey" IN ($placeholders)"""
        PgWire.retrying() { c.execute(sql, chunk.map(Some(_))); () }
      })
  }

  /** The reference's flagship retrieval statement served over the
    * wire — `SELECT …, "vcol" <=> $1 AS distance FROM t ORDER BY
    * distance ASC LIMIT $2` (examples/text_embedding/main.py:146-155;
    * `<=>` = pgvector cosine distance), with a deterministic key
    * tiebreak appended for stable pagination. Returns the selected
    * columns plus `distance DOUBLE`. */
  def knnQuery(spark: SparkSession, queryVec: Seq[Float], k: Int,
      vectorCol: String = "embedding",
      selectCols: Seq[String] = Seq(RowKey)): DataFrame = {
    selectCols.foreach(
      SurrealTableTarget.validateIdentifier(_, "column name"))
    SurrealTableTarget.validateIdentifier(vectorCol, "column name")
    val cols = selectCols.map(c => s""""$c"""").mkString(", ")
    val res = withConn(_.execute(
      s"""SELECT $cols, "$vectorCol" <=> $$1 AS distance FROM "$table"""" +
        s""" ORDER BY distance ASC, "$RowKey" LIMIT $$2""",
      Seq(Some(queryVec.mkString("[", ",", "]")), Some(k.toString))))
    val schema = StructType(res.columns.map(c =>
      StructField(c.name, sparkTypeOf(c.oid), nullable = true)))
    val data = res.rows.map { r =>
      Row.fromSeq(res.columns.zipWithIndex.map { case (c, i) =>
        decodeValue(r(i), c.oid)
      })
    }
    spark.createDataFrame(spark.sparkContext.parallelize(data, 1), schema)
  }

  /** Read back over the wire: `SELECT * FROM t` decoded by result
    * OID — driver-side, gate/serve-sized (large scans belong to
    * [[PgWireTableSource]], which partitions by key range). */
  def read(spark: SparkSession): DataFrame = {
    val (cols, rows) = withConn { c =>
      val res = c.query(s"""SELECT * FROM "$table"""").head
      (res.columns, res.rows)
    }
    val schema = StructType(cols.map(c =>
      StructField(c.name, sparkTypeOf(c.oid), nullable = true)))
    val data = rows.map { r =>
      Row.fromSeq(cols.zipWithIndex.map { case (c, i) =>
        decodeValue(r(i), c.oid)
      })
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(data, 1), schema)
  }
}

object PgTableTarget {
  val RowKey = "row_key"
  /** The store's int16 bind-parameter ceiling — the chunking bound
    * (`_BIND_LIMIT`, postgres/_target.py:71). */
  val BindLimit = 32767

  private val TsFormat = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  /** Spark value → wire text form. Timestamps render in UTC (the
    * same mixed-executor-TZ stance as JdbcTableTarget's UTC
    * calendar); bytea as `\x` hex; float vectors as pgvector's
    * `[x,y,…]` literal. */
  private[engine] def renderValue(row: Row, i: Int,
      dt: DataType): Option[String] =
    if (row.isNullAt(i)) None
    else Some(dt match {
      case StringType => row.getString(i)
      case IntegerType => row.getInt(i).toString
      case LongType => row.getLong(i).toString
      case ShortType => row.getShort(i).toString
      case DoubleType => row.getDouble(i).toString
      case FloatType => row.getFloat(i).toString
      case BooleanType => if (row.getBoolean(i)) "true" else "false"
      case BinaryType =>
        "\\x" + row.getAs[Array[Byte]](i).map("%02x".format(_)).mkString
      case TimestampType =>
        // explicit +00 offset: a timestamptz literal without one is
        // parsed in the session TimeZone, so a non-UTC server would
        // shift every written instant (the startup TimeZone=UTC pin
        // is belt; this is suspenders)
        TsFormat.format(row.getTimestamp(i).toInstant
          .atZone(java.time.ZoneOffset.UTC)) + "+00"
      case DateType => row.getDate(i).toString
      case _: DecimalType => row.getDecimal(i).toPlainString
      case ArrayType(FloatType, _) =>
        row.getSeq[Float](i).mkString("[", ",", "]")
      case other =>
        throw new IllegalArgumentException(s"unsupported pg bind type $other")
    })

  private[engine] def sparkTypeOf(oid: Int): DataType = oid match {
    case PgWire.OidText | PgWire.OidVarchar => StringType
    case PgWire.OidInt4 => IntegerType
    case PgWire.OidInt8 => LongType
    case PgWire.OidInt2 => ShortType
    case PgWire.OidFloat8 => DoubleType
    case PgWire.OidFloat4 => FloatType
    case PgWire.OidBool => BooleanType
    case PgWire.OidBytea => BinaryType
    case PgWire.OidTimestamp | PgWire.OidTimestamptz => TimestampType
    case PgWire.OidDate => DateType
    case PgWire.OidNumeric => DecimalType(38, 18)
    case PgWire.OidVector => ArrayType(FloatType)
    case _ => StringType
  }

  private[engine] def decodeValue(v: Option[String], oid: Int): Any =
    v match {
      case None => null
      case Some(s) => oid match {
        case PgWire.OidInt4 => s.toInt
        case PgWire.OidInt8 => s.toLong
        case PgWire.OidInt2 => s.toShort
        case PgWire.OidFloat8 => s.toDouble
        case PgWire.OidFloat4 => s.toFloat
        case PgWire.OidBool => s == "t" || s == "true"
        case PgWire.OidBytea =>
          s.stripPrefix("\\x").grouped(2)
            .map(Integer.parseInt(_, 16).toByte).toArray
        case PgWire.OidTimestamp | PgWire.OidTimestamptz =>
          // a real server renders timestamptz with an offset suffix
          // ("2024-01-01 12:00:00.123456+00"); timestamp (and the
          // fixture) without one — parse both
          val iso = s.replace(' ', 'T')
          val m = """([+-]\d{2})(:?\d{2})?$""".r.findFirstMatchIn(iso)
          m match {
            case Some(om) =>
              val base = iso.substring(0, om.start)
              val off = om.group(1) +
                Option(om.group(2)).map(_.stripPrefix(":"))
                  .map(":" + _).getOrElse(":00")
              java.sql.Timestamp.from(
                java.time.OffsetDateTime.parse(base + off).toInstant)
            case None =>
              java.sql.Timestamp.from(
                java.time.LocalDateTime.parse(iso)
                  .toInstant(java.time.ZoneOffset.UTC))
          }
        case PgWire.OidDate => java.sql.Date.valueOf(s)
        case PgWire.OidNumeric => new java.math.BigDecimal(s)
        case PgWire.OidVector =>
          s.stripPrefix("[").stripSuffix("]").split(',')
            .filter(_.nonEmpty).map(_.trim.toFloat).toSeq
        case _ => s
      }
    }
}
