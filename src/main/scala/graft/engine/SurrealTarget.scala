package graft.engine

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** A vector index on a SurrealDB table (reference `_VectorIndexSpec`,
  * python/cocoindex/connectors/surrealdb/_target.py:539-551 /
  * `declare_vector_index` :1141-1170). */
final case class SurrealVectorIndex(name: String, field: String,
    dimension: Int, metric: String = "cosine", method: String = "mtree",
    vectorType: String = "f32")

/** SurrealDB multi-model target over the store's HTTP `/sql` endpoint
  * — the reference's surrealdb connector
  * (python/cocoindex/connectors/surrealdb/_target.py:1096-1388,
  * record applier :455-533):
  *
  *   - each apply batch is ONE multi-statement SurrealQL transaction
  *     (`BEGIN TRANSACTION; …; COMMIT TRANSACTION;`) — the
  *     reference's explicit N-round-trips-to-one optimization, with
  *     CONTENT inlined as JSON literals because variable binding does
  *     not span batched statements (:490-492);
  *   - normal rows: `UPSERT table:⟨id⟩ CONTENT {…}`; relation rows:
  *     `DELETE rel:⟨id⟩; RELATE from:⟨fid⟩->rel:⟨id⟩->to:⟨tid⟩
  *     CONTENT {…}` (delete-before-RELATE because in/out are part of
  *     a relation record's identity, :505-516); deletes are
  *     `DELETE table:⟨id⟩`;
  *   - the v0 apply ordering: normal upserts → relation upserts →
  *     relation deletes → normal deletes (:471-487);
  *   - record ids inline per `_format_record_id` (:86-99): numerics
  *     bare, strings backtick-quoted with `\`/backtick escaping;
  *   - vector indexes: `REMOVE INDEX IF EXISTS … ; DEFINE INDEX … ON
  *     … FIELDS f MTREE|HNSW DIMENSION d DIST COSINE TYPE F32`
  *     (drop-and-recreate, :572-594), applied idempotently with DDL;
  *   - namespace/database scoping via the `Surreal-NS`/`Surreal-DB`
  *     headers of every request.
  *
  * Row convention is [[GraphTarget]]'s: `row_key` prefixed `n:` →
  * normal record, `e:` → relation with `src`/`dst` (+ optional
  * `src_label`/`dst_label` naming the endpoint tables; they default
  * to `table`). Writes run executor-side, one transaction per
  * `batchSize` rows, under the HTTP retry taxonomy.
  *
  * No SurrealDB server exists in the environment; specs and the q86
  * gate run against [[graft.fixtures.MiniSurreal]], a real in-JVM
  * HTTP peer executing exactly these canonical statements.
  */
final case class SurrealTableTarget(baseUrl: String, namespace: String,
    database: String, table: String, relTable: String = "",
    vectorIndexes: Seq[SurrealVectorIndex] = Nil,
    readCols: Seq[(String, DataType)] = Nil,
    writePartitions: Int = 4, batchSize: Int = 256) extends WireTarget {

  import SurrealTableTarget._

  validateIdentifier(table, "table name")
  if (relTable.nonEmpty) validateIdentifier(relTable, "table name")
  vectorIndexes.foreach { vi =>
    validateIdentifier(vi.name, "vector index name")
    validateIdentifier(vi.field, "vector index field")
  }

  private def headers = Map(
    "Surreal-NS" -> namespace, "Surreal-DB" -> database,
    "Accept" -> "application/json")

  /** POST raw SurrealQL to `/sql`; each statement's status is
    * checked (an ERR status anywhere fails the call — the store ran
    * it, the transaction semantics make the retry convergent). */
  private def postSql(text: String): List[JValue] = {
    val resp = HttpJson.retrying()(HttpJson.requestText("POST",
      s"$baseUrl/sql", text, headers = headers))
    resp.body match {
      case JArray(results) =>
        results.foreach { r =>
          (r \ "status") match {
            case JString("OK") => ()
            case JString(other) => throw new IllegalStateException(
              s"surql statement failed ($other): ${r \ "result"}")
            case _ => ()
          }
        }
        results
      case other => throw new IllegalStateException(s"bad /sql reply: $other")
    }
  }

  override def containerSignature: String =
    s"surrealdb;$baseUrl;$namespace/$database;table=$table;rel=$relTable"

  private def ensureIndexes(): Unit =
    if (vectorIndexes.nonEmpty)
      postSql(vectorIndexes.map(defineIndexSurql(table, _)).mkString)

  /** A relation row (`e:…`) with no relation table declared must fail
    * loudly before any write, not silently skip; then the shared wire
    * apply. */
  override def apply(spark: SparkSession, upserts: DataFrame,
      deleteKeys: DataFrame): TargetStats = {
    if (relTable.isEmpty) {
      val isRel = !col(RowKey).startsWith("n:")
      val nRel = upserts.filter(isRel).count()
      require(nRel == 0,
        s"$nRel relation rows (e:…) but no relTable declared on $table")
      require(deleteKeys.filter(isRel).isEmpty,
        s"relation delete keys (e:…) but no relTable declared on $table")
    }
    super.apply(spark, upserts, deleteKeys)
  }

  /** Stateless HTTP: every request carries its own scope headers. */
  protected type Conn = Unit
  /** Tables are schemaless and created by their first write. */
  protected type Container = Unit

  protected def connect(): Unit = ()

  protected def observe(c: Unit): Option[Unit] = Some(())

  override protected def phases = WireTarget.GraphPhases

  protected def prepare(c: Unit, schema: StructType,
      existing: Option[Unit]): WireWriter[Unit] = {
    ensureIndexes()
    val (t, rel, bs) = (table, relTable, batchSize)
    val keyIdx = schema.fieldIndex(RowKey)
    def send(stmts: Iterator[String]): Unit =
      stmts.grouped(bs).foreach { batch =>
        postSql("BEGIN TRANSACTION;\n" + batch.mkString +
          "COMMIT TRANSACTION;\n")
        ()
      }
    WireWriter(
      upsert = (_, rows) => send(rows.map(r =>
        if (r.getString(keyIdx).startsWith("n:")) upsertSurql(t, r, schema)
        else relateSurql(rel, t, r, schema))),
      delete = (_, keys) => send(keys.map(key =>
        s"DELETE ${if (key.startsWith("n:")) t else rel}:" +
          s"${recordId(key.drop(2))};\n")))
  }

  /** Read back: `SELECT * FROM table` (+ relation table), driver-side
    * — gate/serve-sized. Normal rows come back as (row_key n:…,
    * readCols…); relation rows as (row_key e:…, src, dst). */
  def read(spark: SparkSession): DataFrame = {
    val nodeRes = postSql(s"SELECT * FROM $table;\n").head \ "result"
    val nodeRows = (nodeRes match { case JArray(a) => a; case _ => Nil })
      .map { r =>
        val id = plainId(r \ "id")
        Row.fromSeq(("n:" + id) +: readCols.map { case (n, dt) =>
          jvToScala(r \ n, dt) })
      }
    val nodeSchema = StructType(StructField(RowKey, StringType) +:
      readCols.map { case (n, dt) => StructField(n, dt) })
    val n = spark.createDataFrame(
      spark.sparkContext.parallelize(nodeRows, 1), nodeSchema)
    if (relTable.isEmpty) return n
    val relRes = postSql(s"SELECT * FROM $relTable;\n").head \ "result"
    val relRows = (relRes match { case JArray(a) => a; case _ => Nil })
      .map { r =>
        Row.fromSeq(Seq("e:" + plainId(r \ "id"),
          plainId(r \ "in"), plainId(r \ "out")) ++
          readCols.map { case (nm, dt) => jvToScala(r \ nm, dt) })
      }
    val relSchema = StructType(
      Seq(StructField(RowKey, StringType), StructField("src", StringType),
        StructField("dst", StringType)) ++
        readCols.map { case (nm, dt) => StructField(nm, dt) })
    val e = spark.createDataFrame(
      spark.sparkContext.parallelize(relRows, 1), relSchema)
    n.unionByName(e, allowMissingColumns = true)
  }

  override def truncate(spark: SparkSession): Unit = {
    postSql(s"REMOVE TABLE IF EXISTS $table;\n" +
      (if (relTable.nonEmpty) s"REMOVE TABLE IF EXISTS $relTable;\n" else ""))
    ()
  }
}

object SurrealTableTarget {
  val RowKey = "row_key"
  private val Routing = Set(RowKey, "label", "src", "dst", "rel_type",
    "src_label", "dst_label")
  private val IdentRe = "^[a-zA-Z_][a-zA-Z0-9_]*$".r

  def validateIdentifier(name: String, kind: String): String = {
    if (!IdentRe.matches(name))
      throw new IllegalArgumentException(s"Invalid SurrealDB $kind: '$name'")
    name
  }

  /** `_format_record_id` (:86-99): numerics bare, strings
    * backtick-quoted with backslash/backtick escapes. */
  def recordId(value: Any): String = value match {
    case n: Int => n.toString
    case n: Long => n.toString
    case n: Double => n.toString
    case other =>
      val s = String.valueOf(other)
        .replace("\\", "\\\\").replace("`", "\\`")
      s"`$s`"
  }

  /** `table:id` back to the plain id. Replies carry the RAW id after
    * the table prefix (backtick quoting is STATEMENT syntax, not
    * data — stripping quote-looking characters here would corrupt an
    * id that legitimately starts and ends with a backtick). Table
    * names are `\w+`, so the first ':' is always the separator. */
  private[engine] def plainId(j: JValue): String = j match {
    case JString(s) =>
      val cut = s.indexOf(':')
      if (cut < 0) s else s.substring(cut + 1)
    case other => String.valueOf(other)
  }

  private[engine] def jvToScala(j: JValue, dt: DataType): Any = j match {
    case JNothing | JNull => null
    case _ => dt match {
      case LongType => QdrantCollectionTarget.doubleOf(j).toLong
      case IntegerType => QdrantCollectionTarget.doubleOf(j).toInt
      case DoubleType => QdrantCollectionTarget.doubleOf(j)
      case FloatType => QdrantCollectionTarget.doubleOf(j).toFloat
      case BooleanType => j.asInstanceOf[JBool].value
      case ArrayType(FloatType, _) => j match {
        case JArray(xs) => xs.map(QdrantCollectionTarget.doubleOf(_).toFloat)
        case _ => null
      }
      case _ => j match {
        case JString(s) => s
        case other => JsonMethods.compact(JsonMethods.render(other))
      }
    }
  }

  /** Row payload (non-routing columns) as the inline CONTENT JSON
    * literal (`json.dumps`, :498). */
  private[engine] def contentJson(row: Row, schema: StructType): String = {
    val obj = schema.fields.zipWithIndex
      .filter { case (f, _) => !Routing.contains(f.name) }
      .foldLeft(JObject()) { case (o, (f, i)) =>
        val v: JValue =
          if (row.isNullAt(i)) JNull
          else f.dataType match {
            case StringType => JString(row.getString(i))
            case LongType => JInt(row.getLong(i))
            case IntegerType => JInt(row.getInt(i))
            case DoubleType => JDouble(row.getDouble(i))
            case FloatType => JDouble(row.getFloat(i).toDouble)
            case BooleanType => JBool(row.getBoolean(i))
            case ArrayType(FloatType, _) =>
              JArray(row.getSeq[Float](i).toList.map(f => JDouble(f.toDouble)))
            case ArrayType(DoubleType, _) =>
              JArray(row.getSeq[Double](i).toList.map(JDouble(_)))
            case other => throw new IllegalArgumentException(
              s"unsupported CONTENT type $other for ${f.name}")
          }
        JObject(o.obj :+ (f.name -> v))
      }
    JsonMethods.compact(JsonMethods.render(obj))
  }

  private[engine] def upsertSurql(table: String, row: Row,
      schema: StructType): String = {
    val id = row.getString(schema.fieldIndex(RowKey)).drop(2)
    s"UPSERT $table:${recordId(id)} CONTENT ${contentJson(row, schema)};\n"
  }

  /** Delete-before-RELATE (:505-516). Endpoint tables come from
    * `src_label`/`dst_label` when present, else the normal table. */
  private[engine] def relateSurql(relTable: String, defaultTable: String,
      row: Row, schema: StructType): String = {
    def colOpt(name: String): Option[String] =
      if (!schema.fieldNames.contains(name)) None
      else {
        val i = schema.fieldIndex(name)
        if (row.isNullAt(i)) None else Some(row.getString(i))
      }
    val id = row.getString(schema.fieldIndex(RowKey)).drop(2)
    val fromT = colOpt("src_label").map(validateIdentifier(_, "table name"))
      .getOrElse(defaultTable)
    val toT = colOpt("dst_label").map(validateIdentifier(_, "table name"))
      .getOrElse(defaultTable)
    val from = colOpt("src").getOrElse(
      throw new IllegalArgumentException(s"relation row e:$id has no src"))
    val to = colOpt("dst").getOrElse(
      throw new IllegalArgumentException(s"relation row e:$id has no dst"))
    s"DELETE $relTable:${recordId(id)};\n" +
      s"RELATE $fromT:${recordId(from)}->$relTable:${recordId(id)}" +
      s"->$toT:${recordId(to)} CONTENT ${contentJson(row, schema)};\n"
  }

  /** Drop-and-recreate DDL (:572-594). */
  private[engine] def defineIndexSurql(table: String,
      vi: SurrealVectorIndex): String =
    s"REMOVE INDEX IF EXISTS ${vi.name} ON TABLE $table;\n" +
      s"DEFINE INDEX ${vi.name} ON $table FIELDS ${vi.field} " +
      s"${vi.method.toUpperCase} DIMENSION ${vi.dimension} " +
      s"DIST ${vi.metric.toUpperCase} TYPE ${vi.vectorType.toUpperCase};\n"
}
