package graft.engine

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** The Snowflake client REST protocol — what
  * `snowflake-connector-python` (the client the reference's
  * snowflake connector drives, snowflake/_target.py:335-352) speaks
  * over the wire, from the connector's public source: a
  * `POST /session/v1/login-request` exchanging credentials for a
  * session token, then `POST /queries/v1/query-request` per
  * statement with `Authorization: Snowflake Token="…"`, SQL text in
  * `sqlText`, and a JSON `rowtype`/`rowset` result. The python
  * connector's default `pyformat` paramstyle binds CLIENT-side —
  * parameters are escaped and inlined into the SQL text before it
  * ever reaches the wire — so the transport carries complete
  * statements, exactly what [[graft.fixtures.MiniSnowflake]]
  * receives.
  */
object SnowflakeRest {

  final case class SnowflakeError(code: String, sqlState: String,
      message: String)
      extends RuntimeException(s"$code ($sqlState): $message")

  /** One result column: the rowtype's name/type plus the numeric
    * scale (real servers report every integral/decimal column as
    * `fixed` and distinguish them ONLY by scale). */
  final case class SfColumn(name: String, colType: String, scale: Int)

  final case class SfResult(rowtype: Vector[SfColumn],
      rowset: Vector[Vector[Option[String]]])

  /** One session (login happens eagerly). Not thread-safe — one per
    * writer task. */
  final class Client(baseUrl: String, account: String, user: String,
      password: String) {

    private var seq = 0
    private val token: String = {
      val body = JObject("data" -> JObject(
        "ACCOUNT_NAME" -> JString(account),
        "LOGIN_NAME" -> JString(user),
        "PASSWORD" -> JString(password)))
      val resp = HttpJson.retrying()(HttpJson.request("POST",
        s"$baseUrl/session/v1/login-request?request_id=" +
          java.util.UUID.randomUUID(), Some(body)))
      resp.body \ "success" match {
        case JBool(true) =>
          (resp.body \ "data" \ "token") match {
            case JString(t) => t
            case other => throw new IllegalStateException(s"no token: $other")
          }
        case _ => throw SnowflakeError("390100", "08004",
          JsonMethods.compact(JsonMethods.render(resp.body \ "message")))
      }
    }

    def execute(sql: String): SfResult = {
      seq += 1
      val body = JObject("sqlText" -> JString(sql), "sequenceId" -> JInt(seq))
      val resp = HttpJson.retrying()(HttpJson.request("POST",
        s"$baseUrl/queries/v1/query-request?requestId=" +
          java.util.UUID.randomUUID(), Some(body),
        headers = Map("Authorization" -> s"""Snowflake Token="$token"""")))
      resp.body \ "success" match {
        case JBool(true) =>
          val cols = (resp.body \ "data" \ "rowtype") match {
            case JArray(items) => items.toVector.map { it =>
              val name = (it \ "name") match {
                case JString(s) => s; case _ => ""
              }
              val typ = (it \ "type") match {
                case JString(s) => s; case _ => "text"
              }
              val scale = (it \ "scale") match {
                case JInt(n) => n.toInt
                case JLong(n) => n.toInt
                case _ => 0
              }
              SfColumn(name, typ, scale)
            }
            case _ => Vector.empty
          }
          val rows = (resp.body \ "data" \ "rowset") match {
            case JArray(rs) => rs.toVector.map {
              case JArray(vs) => vs.toVector.map {
                case JNull => None
                case JString(s) => Some(s)
                case other => Some(JsonMethods.compact(JsonMethods.render(other)))
              }
              case other => throw new IllegalStateException(s"bad row: $other")
            }
            case _ => Vector.empty
          }
          SfResult(cols, rows)
        case _ =>
          val code = (resp.body \ "code") match {
            case JString(s) => s; case _ => "000000"
          }
          val state = (resp.body \ "data" \ "sqlState") match {
            case JString(s) => s; case _ => "HY000"
          }
          val msg = (resp.body \ "message") match {
            case JString(s) => s; case _ => "error"
          }
          throw SnowflakeError(code, state, msg)
      }
    }
  }

  /** `'` doubles — the client-side escape `pyformat` applies before
    * inlining (standard SQL literal escaping). */
  def lit(v: String): String = "'" + v.replace("'", "''") + "'"
}

/** Snowflake table target over the client REST protocol — the
  * reference's snowflake connector statement for statement
  * (python/cocoindex/connectors/snowflake/_target.py):
  *
  *   - one `MERGE INTO t AS target USING (SELECT … AS "c") AS source
  *     ON target."k" = source."k" WHEN MATCHED … WHEN NOT MATCHED …`
  *     per row (`_merge_sql` :270-293, executed per action :407-415 —
  *     the store has no multi-row bind shape for MERGE), parameters
  *     inlined client-side per the connector's pyformat default;
  *   - keyed `DELETE … WHERE "k" IN (…)` batches (:296-311);
  *   - managed DDL: `CREATE DATABASE/SCHEMA IF NOT EXISTS`,
  *     `CREATE TABLE IF NOT EXISTS … PRIMARY KEY (…)` (:556-583),
  *     drifted columns via `ALTER TABLE ADD COLUMN IF NOT EXISTS`
  *     and the lossy `DROP COLUMN IF EXISTS` + `ADD COLUMN` rebuild
  *     on a type change (:585-637), shape observed with `DESC TABLE`.
  *
  * Writes run executor-side (key-hashed partitions, one session per
  * task). The per-row MERGE makes one HTTP round trip per changed
  * row — the store client's own contract; HTTP keep-alive amortizes
  * the connection, and only CHANGED rows reach the sink at all.
  */
final case class SnowflakeTableTarget(baseUrl: String, account: String,
    database: String, schemaName: String, table: String,
    user: String = "graft", password: String = "graft",
    writePartitions: Int = 4, deleteBatch: Int = 1000,
    /** Rows per staging INSERT in the bulk write path (the scale
      * shape: per writer partition, a TEMPORARY stage table is
      * multi-row-INSERTed in chunks of this size, then ONE
      * MERGE-from-stage applies the whole partition — HTTP round
      * trips are O(rows / bulkBatch), not O(rows). `<= 0` falls back
      * to the reference-faithful per-row MERGE
      * (snowflake/_target.py:407-415). */
    bulkBatch: Int = 500) extends WireTarget {

  import SnowflakeRest._
  import SnowflakeTableTarget._

  SurrealTableTarget.validateIdentifier(table, "table name")
  SurrealTableTarget.validateIdentifier(database, "database name")
  SurrealTableTarget.validateIdentifier(schemaName, "schema name")

  private def qname = s""""$database"."$schemaName"."$table""""

  override def containerSignature: String =
    s"snowflake;$baseUrl;$database.$schemaName.$table;pk=$RowKey"

  override def truncate(spark: SparkSession): Unit = {
    withConn(_.execute(s"DROP TABLE IF EXISTS $qname")); ()
  }

  private def observedColumns(c: Client): Map[String, String] =
    try c.execute(s"DESC TABLE $qname").rowset
      .map(r => r(0).get -> r(1).getOrElse("")).toMap
    catch { case e: SnowflakeError if e.sqlState == "42S02" => Map.empty }

  private def ensureTable(c: Client, schema: StructType,
      observed: Map[String, String]): Unit = {
    val valueFields = schema.fields.filter(_.name != RowKey)
    if (observed.isEmpty) {
      c.execute(s"""CREATE DATABASE IF NOT EXISTS "$database"""")
      c.execute(s"""CREATE SCHEMA IF NOT EXISTS "$database"."$schemaName"""")
      val colDefs = (s""""$RowKey" VARCHAR NOT NULL""" +:
        valueFields.toSeq.map(f =>
          s""""${f.name}" ${SqlDialect.Snowflake.sqlType(f.dataType)}""")) :+
        s"""PRIMARY KEY ("$RowKey")"""
      c.execute(colDefs.mkString(
        s"CREATE TABLE IF NOT EXISTS $qname (", ", ", ")"))
    } else valueFields.foreach { f =>
      val want = SqlDialect.Snowflake.sqlType(f.dataType)
      observed.get(f.name) match {
        case None =>
          c.execute(s"ALTER TABLE $qname " +
            s"""ADD COLUMN IF NOT EXISTS "${f.name}" $want""")
        case Some(have) if have.toUpperCase.takeWhile(_ != '(') !=
            want.toUpperCase.takeWhile(_ != '(') =>
          // the statediff `replace` transition (:625-637): lossy
          // DROP+ADD; the engine's schema-version bump re-upserts
          c.execute(s"ALTER TABLE $qname " +
            s"""DROP COLUMN IF EXISTS "${f.name}"""")
          c.execute(s"ALTER TABLE $qname ADD COLUMN \"${f.name}\" $want")
        case _ => ()
      }
      ()
    }
  }

  protected type Conn = Client
  protected type Container = Map[String, String]

  protected def connect(): Client = new Client(baseUrl, account, user, password)

  protected def observe(c: Client): Option[Map[String, String]] =
    Some(observedColumns(c)).filter(_.nonEmpty)

  protected def prepare(c: Client, schema: StructType,
      existing: Option[Map[String, String]]): WireWriter[Client] = {
    ensureTable(c, schema, existing.getOrElse(Map.empty))
    val (qn, bb, bs) = (qname, bulkBatch, deleteBatch)
    val (db, sch, tbl) = (database, schemaName, table)
    WireWriter(
      upsert = (c, rows) =>
        if (bb > 0) {
          // staged bulk: TEMPORARY stage → chunked multi-row INSERT →
          // one MERGE-from-stage → drop. The suffix keeps concurrent
          // partitions' stages disjoint (real TEMPORARY tables are
          // session-scoped anyway).
          val sfx = java.util.UUID.randomUUID().toString
            .replace("-", "").take(8)
          val stage = s""""$db"."$sch"."${tbl}__stage_$sfx""""
          c.execute(createStageSql(stage, schema))
          try {
            rows.grouped(bb).foreach { chunk =>
              c.execute(insertStageSql(stage, chunk, schema)); ()
            }
            c.execute(mergeFromStageSql(qn, stage, schema)); ()
          } finally c.execute(s"DROP TABLE IF EXISTS $stage")
        } else rows.foreach { row => c.execute(mergeSql(qn, row, schema)); () },
      delete = (c, keys) => keys.grouped(bs).foreach { chunk =>
        c.execute(s"""DELETE FROM $qn WHERE "$RowKey" IN (""" +
          chunk.map(lit).mkString(", ") + ")")
        ()
      })
  }

  /** Read back: `SELECT * FROM t`, decoded by the result rowtype —
    * driver-side, gate/serve-sized. */
  def read(spark: SparkSession): DataFrame = {
    val res = withConn(_.execute(s"SELECT * FROM $qname"))
    val schema = StructType(res.rowtype.map(c =>
      StructField(c.name, sparkTypeOf(c.colType, c.scale), nullable = true)))
    val data = res.rowset.map { r =>
      Row.fromSeq(res.rowtype.zipWithIndex.map { case (c, i) =>
        decodeValue(r(i), c.colType, c.scale)
      })
    }
    spark.createDataFrame(spark.sparkContext.parallelize(data, 1), schema)
  }
}

object SnowflakeTableTarget {
  val RowKey = "row_key"

  import SnowflakeRest.lit

  /** Column order shared by every statement builder: key first. */
  private def colNames(schema: StructType): Seq[String] =
    RowKey +: schema.fields.filter(_.name != RowKey).map(_.name).toSeq

  /** pyformat client-side binding: one column of one row as an
    * inlined SQL literal (snowflake/_target.py:262-293). */
  private[engine] def litOf(row: Row, schema: StructType,
      name: String): String = {
    val i = schema.fieldIndex(name)
    if (row.isNullAt(i)) "NULL"
    else schema.fields(i).dataType match {
      case StringType => lit(row.getString(i))
      case IntegerType => row.getInt(i).toString
      case LongType => row.getLong(i).toString
      case ShortType => row.getShort(i).toString
      case DoubleType => row.getDouble(i).toString
      case FloatType => row.getFloat(i).toString
      case BooleanType => row.getBoolean(i).toString.toUpperCase
      case _: DecimalType => row.getDecimal(i).toPlainString
      case TimestampType => lit(row.getTimestamp(i).toInstant.toString)
      case DateType => lit(row.getDate(i).toString)
      case BinaryType =>
        lit(row.getAs[Array[Byte]](i).map("%02x".format(_)).mkString)
      case ArrayType(FloatType, _) =>
        // vectors ride the BINARY column as hex (the dialect's
        // float32-LE mapping); snowflake hex literal = TO_BINARY
        lit(Float32LE.encode(row.getSeq[Float](i))
          .map("%02x".format(_)).mkString)
      case other => throw new IllegalArgumentException(
        s"unsupported snowflake literal type $other")
    }
  }

  /** The reference's `_merge_sql` with pyformat client-side binding
    * applied: the source row is a SELECT of inlined literals
    * (snowflake/_target.py:262-293). */
  private[engine] def mergeSql(qname: String, row: Row,
      schema: StructType): String = {
    val names = colNames(schema)
    val sourceSel = names
      .map(n => s"""${litOf(row, schema, n)} AS "$n"""").mkString(", ")
    s"MERGE INTO $qname AS target USING (SELECT $sourceSel) AS source" +
      mergeTail(names)
  }

  /** Shared MERGE ON/UPDATE/INSERT tail over `source.*`. */
  private def mergeTail(names: Seq[String]): String = {
    val nonKey = names.filterNot(_ == RowKey)
    val update =
      if (nonKey.isEmpty) ""
      else nonKey.map(c => s""""$c" = source."$c"""")
        .mkString(" WHEN MATCHED THEN UPDATE SET ", ", ", "")
    val insertCols = names.map(n => s""""$n"""").mkString(", ")
    val insertVals = names.map(n => s"""source."$n"""").mkString(", ")
    s""" ON target."$RowKey" = source."$RowKey"""" + update +
      s" WHEN NOT MATCHED THEN INSERT ($insertCols) VALUES ($insertVals)"
  }

  /** Session-scoped staging table matching the write schema — the
    * bulk path's COPY-target analog (real Snowflake would PUT a file
    * and COPY INTO this table; over the query REST surface the load
    * is a chunked multi-row INSERT). */
  private[engine] def createStageSql(stage: String,
      schema: StructType): String = {
    val defs = colNames(schema).map { n =>
      if (n == RowKey) s""""$RowKey" VARCHAR NOT NULL"""
      else s""""$n" ${SqlDialect.Snowflake.sqlType(
        schema.fields(schema.fieldIndex(n)).dataType)}"""
    } :+ s"""PRIMARY KEY ("$RowKey")"""
    defs.mkString(s"CREATE TEMPORARY TABLE $stage (", ", ", ")")
  }

  /** One chunk of the staging load: a multi-row VALUES INSERT —
    * one HTTP round trip per `bulkBatch` rows. */
  private[engine] def insertStageSql(stage: String, chunk: Seq[Row],
      schema: StructType): String = {
    val names = colNames(schema)
    val cols = names.map(n => s""""$n"""").mkString(", ")
    val tuples = chunk.map(r =>
      names.map(n => litOf(r, schema, n)).mkString("(", ", ", ")"))
    s"INSERT INTO $stage ($cols) VALUES " + tuples.mkString(", ")
  }

  /** ONE MERGE applying the whole staged partition — the
    * MERGE-from-stage that replaces per-row round trips at scale. */
  private[engine] def mergeFromStageSql(qname: String, stage: String,
      schema: StructType): String =
    s"MERGE INTO $qname AS target USING (SELECT * FROM $stage) AS source" +
      mergeTail(colNames(schema))

  /** Snowflake result `rowtype.type` → Spark type. Every integral or
    * decimal column reports `fixed`; the SCALE tells them apart — a
    * scaled fixed decodes as DECIMAL, not Long. */
  private[engine] def sparkTypeOf(t: String, scale: Int = 0): DataType =
    t.toLowerCase.takeWhile(_ != '(') match {
      case "fixed" | "integer" | "bigint" =>
        if (scale > 0) DecimalType(38, scale) else LongType
      case "real" | "double" => DoubleType
      case "boolean" => BooleanType
      case "binary" => BinaryType
      case "timestamp_tz" | "timestamp_ntz" | "timestamp" => TimestampType
      case "date" => DateType
      case _ => StringType
    }

  private[engine] def decodeValue(v: Option[String], t: String,
      scale: Int = 0): Any =
    v match {
      case None => null
      case Some(s) => t.toLowerCase.takeWhile(_ != '(') match {
        case "fixed" | "integer" | "bigint" =>
          if (scale > 0) new java.math.BigDecimal(s) else s.toLong
        case "real" | "double" => s.toDouble
        case "boolean" => s.equalsIgnoreCase("true")
        case "binary" => s.grouped(2)
          .map(Integer.parseInt(_, 16).toByte).toArray
        case "timestamp_tz" | "timestamp_ntz" | "timestamp" =>
          // the real rowset form is epoch seconds with nano fraction,
          // timestamp_tz with a trailing " <minutes+1440>" tz token
          // ("1674220800.000000000 1440") — the instant is the epoch
          // part; ISO-8601 kept as fallback
          val epochPart = s.split(' ')(0)
          if (epochPart.matches("""-?\d+(\.\d+)?""")) {
            val bd = new java.math.BigDecimal(epochPart)
            val secs = bd.setScale(0, java.math.RoundingMode.FLOOR)
            val nanos = bd.subtract(secs)
              .movePointRight(9).longValueExact()
            java.sql.Timestamp.from(
              java.time.Instant.ofEpochSecond(secs.longValueExact(), nanos))
          } else java.sql.Timestamp.from(java.time.Instant.parse(s))
        case "date" => java.sql.Date.valueOf(s)
        case _ => s
      }
    }
}
