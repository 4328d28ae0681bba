package graft.engine

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** The BigQuery v2 REST API — what `google-cloud-bigquery` (the
  * client the reference's bigquery connector drives,
  * bigquery/_target.py:404-459) calls under the hood, from the
  * public API reference (cloud.google.com/bigquery/docs/reference/
  * rest): `POST /bigquery/v2/projects/{p}/queries` (jobs.query) with
  * GoogleSQL text + NAMED query parameters
  * (`@pN` / `parameterType`/`parameterValue`), Bearer auth, results
  * as `schema.fields` + `rows[].f[].v` (every value a string), and
  * `GET /bigquery/v2/projects/{p}/datasets/{d}/tables/{t}` for
  * table-shape observation. The OAuth exchange is the one piece not
  * modeled — the token is injected, as with the Drive transport.
  */
object BigQueryRest {

  final case class BqParam(name: String, paramType: String, value: Option[String])

  final case class BqResult(fields: Vector[(String, String)],
      rows: Vector[Vector[Option[String]]])

  final class Client(baseUrl: String, project: String, token: String) {

    private def auth = Map("Authorization" -> s"Bearer $token")

    /** jobs.query — one statement, NAMED parameters. A slow query
      * (`jobComplete=false`) is polled via getQueryResults, and a
      * result beyond one page (the API's default maxResults / 10 MB
      * cap) is followed through `pageToken` until exhausted — the
      * first page alone would silently truncate reads. */
    def query(sql: String, params: Seq[BqParam] = Nil): BqResult = {
      val qp = JArray(params.toList.map { p =>
        JObject(
          "name" -> JString(p.name),
          "parameterType" -> JObject("type" -> JString(p.paramType)),
          "parameterValue" -> (p.value match {
            case None => JObject()
            case Some(v) => JObject("value" -> JString(v))
          }))
      })
      val body = JObject(
        "query" -> JString(sql),
        "useLegacySql" -> JBool(false),
        "parameterMode" -> JString("NAMED"),
        "queryParameters" -> qp)
      var page = HttpJson.retrying()(HttpJson.request("POST",
        s"$baseUrl/bigquery/v2/projects/$project/queries", Some(body),
        headers = auth)).body
      def jobId: String = (page \ "jobReference" \ "jobId") match {
        case JString(s) => s
        case _ => throw new IllegalStateException(
          "jobs.query response has no jobReference.jobId to poll/page")
      }
      def getResults(token: Option[String]): JValue = {
        val q = token.map(t => s"?pageToken=$t").getOrElse("")
        HttpJson.retrying()(HttpJson.request("GET",
          s"$baseUrl/bigquery/v2/projects/$project/queries/$jobId$q",
          headers = auth)).body
      }
      // incomplete job: poll getQueryResults until the server reports done
      var polls = 0
      while ((page \ "jobComplete") == JBool(false)) {
        polls += 1
        if (polls > 600) throw new IllegalStateException(
          s"jobs.query job $jobId still not complete after $polls polls")
        Thread.sleep(math.min(100L * polls, 2000L))
        page = getResults(None)
      }
      val fields = parseFields(page)
      val rows = Vector.newBuilder[Vector[Option[String]]]
      rows ++= parseRows(page)
      var token = (page \ "pageToken") match {
        case JString(t) if t.nonEmpty => Some(t); case _ => None
      }
      while (token.isDefined) {
        page = getResults(token)
        rows ++= parseRows(page)
        token = (page \ "pageToken") match {
          case JString(t) if t.nonEmpty => Some(t); case _ => None
        }
      }
      BqResult(fields, rows.result())
    }

    private def parseFields(body: JValue): Vector[(String, String)] =
      (body \ "schema" \ "fields") match {
        case JArray(fs) => fs.toVector.map { f =>
          val n = (f \ "name") match { case JString(s) => s; case _ => "" }
          val t = (f \ "type") match { case JString(s) => s; case _ => "STRING" }
          n -> t
        }
        case _ => Vector.empty
      }

    private def parseRows(body: JValue): Vector[Vector[Option[String]]] =
      (body \ "rows") match {
        case JArray(rs) => rs.toVector.map { r =>
          (r \ "f") match {
            case JArray(cells) => cells.toVector.map { c =>
              (c \ "v") match {
                case JNull | JNothing => None
                case JString(s) => Some(s)
                case other => Some(JsonMethods.compact(JsonMethods.render(other)))
              }
            }
            case other => throw new IllegalStateException(s"bad row: $other")
          }
        }
        case _ => Vector.empty
      }

    /** tables.get — `Some(fields)` when the table exists, None on 404. */
    def getTable(dataset: String, table: String)
        : Option[Vector[(String, String)]] =
      try {
        // under the transport's retry taxonomy like every other call;
        // 404 classifies as a global (non-retried) error and falls
        // through to the None below
        val resp = HttpJson.retrying()(HttpJson.request("GET",
          s"$baseUrl/bigquery/v2/projects/$project/datasets/$dataset/tables/$table",
          headers = auth))
        Some((resp.body \ "schema" \ "fields") match {
          case JArray(fs) => fs.toVector.map { f =>
            val n = (f \ "name") match { case JString(s) => s; case _ => "" }
            val t = (f \ "type") match { case JString(s) => s; case _ => "STRING" }
            n -> t
          }
          case _ => Vector.empty
        })
      } catch {
        case e: Batching.ApiStatusException if e.status == 404 => None
      }
  }
}

/** BigQuery table target over the v2 REST API — the reference's
  * bigquery connector statement for statement
  * (python/cocoindex/connectors/bigquery/_target.py):
  *
  *   - one `MERGE `proj.ds.t` AS target USING (SELECT @p0 AS `c`, …)
  *     AS source ON target.`k` = source.`k` …` per row with NAMED
  *     parameters (`_merge_sql` :284-307, `_row_query_params`
  *     :380-386 — the client executes row-at-a-time, :509-523);
  *   - keyed `DELETE … WHERE `k` IN (@p0, …)` batches (:309-328);
  *   - managed DDL: `CREATE SCHEMA IF NOT EXISTS`, `CREATE TABLE IF
  *     NOT EXISTS … PRIMARY KEY (…) NOT ENFORCED` (:655-682),
  *     drifted columns via `ALTER TABLE ADD COLUMN IF NOT EXISTS`
  *     and lossy `DROP COLUMN IF EXISTS` + `ADD COLUMN` on a type
  *     change (:700-736); the observed shape comes from the
  *     `tables.get` REST resource.
  *
  * Value mapping follows [[SqlDialect.BigQuery]]: vectors ride BYTES
  * as float32-LE, carried base64 in parameters and results (the
  * API's BYTES wire form). Writes run executor-side, key-hashed.
  */
final case class BigQueryTableTarget(baseUrl: String, project: String,
    dataset: String, table: String, token: String,
    writePartitions: Int = 4, deleteBatch: Int = 1000,
    /** Rows per staging INSERT in the bulk write path: per writer
      * partition, a stage table is loaded with chunked multi-row
      * parameterized INSERTs, then ONE MERGE-from-stage applies the
      * whole partition — jobs.query round trips are O(rows /
      * bulkBatch), not O(rows) (the REST-surface analog of a load job
      * + MERGE). Chunks additionally cap at ~9000 bound parameters
      * per request (the API's 10k limit). `<= 0` falls back to the
      * reference-faithful per-row MERGE (bigquery/_target.py:509-523). */
    bulkBatch: Int = 500) extends WireTarget {

  import BigQueryRest._
  import BigQueryTableTarget._

  SurrealTableTarget.validateIdentifier(dataset, "dataset name")
  SurrealTableTarget.validateIdentifier(table, "table name")
  // GCP project ids allow dashes (and dots for domain-scoped ids) —
  // a dedicated check keeps the backtick quoting unbreakable
  require(project.matches("^[a-zA-Z0-9_.:-]+$"),
    s"invalid BigQuery project id: '$project'")

  private def qname = s"`$project.$dataset.$table`"

  override def containerSignature: String =
    s"bigquery;$baseUrl;$project.$dataset.$table;pk=$RowKey"

  override def truncate(spark: SparkSession): Unit = {
    withConn(_.query(s"DROP TABLE IF EXISTS $qname")); ()
  }

  private def ensureTable(c: Client, schema: StructType,
      observed0: Option[Vector[(String, String)]]): Unit = {
    val valueFields = schema.fields.filter(_.name != RowKey)
    observed0 match {
      case None =>
        c.query(s"CREATE SCHEMA IF NOT EXISTS `$project.$dataset`")
        val colDefs = (s"`$RowKey` STRING NOT NULL" +:
          valueFields.toSeq.map(f =>
            s"`${f.name}` ${SqlDialect.BigQuery.sqlType(f.dataType)}")) :+
          s"PRIMARY KEY (`$RowKey`) NOT ENFORCED"
        c.query(colDefs.mkString(
          s"CREATE TABLE IF NOT EXISTS $qname (", ", ", ")"))
        ()
      case Some(fields) =>
        val observed = fields.toMap
        valueFields.foreach { f =>
          val want = SqlDialect.BigQuery.sqlType(f.dataType)
          observed.get(f.name) match {
            case None =>
              c.query(s"ALTER TABLE $qname " +
                s"ADD COLUMN IF NOT EXISTS `${f.name}` $want")
            case Some(have) if have.toUpperCase.takeWhile(_ != '(') !=
                want.toUpperCase.takeWhile(_ != '(') =>
              // the statediff replace transition (:729-736): lossy
              // DROP+ADD; the schema-version bump re-upserts
              c.query(s"ALTER TABLE $qname " +
                s"DROP COLUMN IF EXISTS `${f.name}`")
              c.query(s"ALTER TABLE $qname ADD COLUMN `${f.name}` $want")
            case _ => ()
          }
          ()
        }
    }
  }

  protected type Conn = Client
  protected type Container = Vector[(String, String)]

  protected def connect(): Client = new Client(baseUrl, project, token)

  protected def observe(c: Client): Option[Vector[(String, String)]] =
    c.getTable(dataset, table)

  protected def prepare(c: Client, schema: StructType,
      existing: Option[Vector[(String, String)]]): WireWriter[Client] = {
    ensureTable(c, schema, existing)
    val (proj, ds, tbl, qn) = (project, dataset, table, qname)
    val (bb, bs) = (bulkBatch, deleteBatch)
    WireWriter(
      upsert = (c, rows) =>
        if (bb > 0) {
          val sfx = java.util.UUID.randomUUID().toString
            .replace("-", "").take(8)
          val stage = s"`$proj.$ds.${tbl}__stage_$sfx`"
          c.query(createStageSql(stage, schema))
          try {
            // stay under the API's named-parameter cap as well as the
            // row batch size
            val ncols = schema.fields.length.max(1)
            val chunkRows = bb.min((9000 / ncols).max(1))
            rows.grouped(chunkRows).foreach { chunk =>
              val (sql, params) = insertStageSql(stage, chunk, schema)
              c.query(sql, params)
              ()
            }
            c.query(mergeFromStageSql(qn, stage, schema))
            ()
          } finally c.query(s"DROP TABLE IF EXISTS $stage")
        } else rows.foreach { row =>
          val (sql, params) = mergeSql(qn, row, schema)
          c.query(sql, params)
          ()
        },
      delete = (c, keys) => keys.grouped(bs).foreach { chunk =>
        val params = chunk.zipWithIndex.map { case (k, i) =>
          BqParam(s"p$i", "STRING", Some(k))
        }
        c.query(s"DELETE FROM $qn WHERE `$RowKey` IN (" +
          params.map("@" + _.name).mkString(", ") + ")", params)
        ()
      })
  }

  /** Read back: `SELECT * FROM t` decoded by the result schema —
    * driver-side, gate/serve-sized. */
  def read(spark: SparkSession): DataFrame = {
    val res = withConn(_.query(s"SELECT * FROM $qname"))
    val schema = StructType(res.fields.map { case (n, t) =>
      StructField(n, sparkTypeOf(t), nullable = true)
    })
    val data = res.rows.map { r =>
      Row.fromSeq(res.fields.zipWithIndex.map { case ((_, t), i) =>
        decodeValue(r(i), t)
      })
    }
    spark.createDataFrame(spark.sparkContext.parallelize(data, 1), schema)
  }
}

object BigQueryTableTarget {
  val RowKey = "row_key"

  import BigQueryRest.BqParam

  /** Spark type → the query-parameter type (the reference's
    * `_query_param_type`, bigquery/_target.py:352-377, over the
    * [[SqlDialect.BigQuery]] column map). */
  private[engine] def paramType(dt: DataType): String = dt match {
    case StringType => "STRING"
    case IntegerType | LongType | ShortType => "INT64"
    case DoubleType | FloatType => "FLOAT64"
    case BooleanType => "BOOL"
    case BinaryType | ArrayType(FloatType, _) => "BYTES"
    case TimestampType => "TIMESTAMP"
    case DateType => "DATE"
    case _: DecimalType => "NUMERIC"
    case other =>
      throw new IllegalArgumentException(s"unsupported bq param type $other")
  }

  private[engine] def paramValue(row: Row, i: Int,
      dt: DataType): Option[String] =
    if (row.isNullAt(i)) None
    else Some(dt match {
      case StringType => row.getString(i)
      case IntegerType => row.getInt(i).toString
      case LongType => row.getLong(i).toString
      case ShortType => row.getShort(i).toString
      case DoubleType => row.getDouble(i).toString
      case FloatType => row.getFloat(i).toString
      case BooleanType => row.getBoolean(i).toString
      case BinaryType => java.util.Base64.getEncoder
        .encodeToString(row.getAs[Array[Byte]](i))
      case TimestampType => row.getTimestamp(i).toInstant.toString
      case DateType => row.getDate(i).toString
      case _: DecimalType => row.getDecimal(i).toPlainString
      case ArrayType(FloatType, _) => java.util.Base64.getEncoder
        .encodeToString(Float32LE.encode(row.getSeq[Float](i)))
      case other =>
        throw new IllegalArgumentException(s"unsupported bq value type $other")
    })

  private def colNames(schema: StructType): Seq[String] =
    RowKey +: schema.fields.filter(_.name != RowKey).map(_.name).toSeq

  /** Shared MERGE ON/UPDATE/INSERT tail over `source.*`. */
  private def mergeTail(names: Seq[String]): String = {
    val nonKey = names.filterNot(_ == RowKey)
    val update =
      if (nonKey.isEmpty) ""
      else nonKey.map(c => s"`$c` = source.`$c`")
        .mkString(" WHEN MATCHED THEN UPDATE SET ", ", ", "")
    val insertCols = names.map(n => s"`$n`").mkString(", ")
    val insertVals = names.map(n => s"source.`$n`").mkString(", ")
    s" ON target.`$RowKey` = source.`$RowKey`" + update +
      s" WHEN NOT MATCHED THEN INSERT ($insertCols) VALUES ($insertVals)"
  }

  /** The reference's `_merge_sql` + `_row_query_params`: one MERGE
    * with `@p0…@pN` named parameters per row (:284-307,:380-386). */
  private[engine] def mergeSql(qname: String, row: Row,
      schema: StructType): (String, Seq[BqParam]) = {
    val names = colNames(schema)
    val params = names.zipWithIndex.map { case (n, i) =>
      val fi = schema.fieldIndex(n)
      BqParam(s"p$i", paramType(schema.fields(fi).dataType),
        paramValue(row, fi, schema.fields(fi).dataType))
    }
    val sourceSel = names.zipWithIndex
      .map { case (n, i) => s"@p$i AS `$n`" }.mkString(", ")
    (s"MERGE $qname AS target USING (SELECT $sourceSel) AS source" +
      mergeTail(names), params)
  }

  /** Stage table for the bulk path (the REST-surface analog of a
    * load-job destination; unique-named per writer partition). */
  private[engine] def createStageSql(stage: String,
      schema: StructType): String = {
    val defs = colNames(schema).map { n =>
      if (n == RowKey) s"`$RowKey` STRING NOT NULL"
      else s"`$n` ${SqlDialect.BigQuery.sqlType(
        schema.fields(schema.fieldIndex(n)).dataType)}"
    }
    // expiration backstop: a writer JVM dying between CREATE and the
    // finally-DROP must not leak a permanent table into the dataset
    defs.mkString(s"CREATE TABLE $stage (", ", ", ")") +
      " OPTIONS (expiration_timestamp = TIMESTAMP_ADD(" +
      "CURRENT_TIMESTAMP(), INTERVAL 1 HOUR))"
  }

  /** One chunk of the staging load: a multi-row VALUES INSERT with
    * named parameters — one jobs.query round trip per chunk. */
  private[engine] def insertStageSql(stage: String, chunk: Seq[Row],
      schema: StructType): (String, Seq[BqParam]) = {
    val names = colNames(schema)
    val params = Seq.newBuilder[BqParam]
    var p = 0
    val tuples = chunk.map { row =>
      names.map { n =>
        val fi = schema.fieldIndex(n)
        val nm = s"p$p"; p += 1
        params += BqParam(nm, paramType(schema.fields(fi).dataType),
          paramValue(row, fi, schema.fields(fi).dataType))
        s"@$nm"
      }.mkString("(", ", ", ")")
    }
    val cols = names.map(n => s"`$n`").mkString(", ")
    (s"INSERT INTO $stage ($cols) VALUES " + tuples.mkString(", "),
      params.result())
  }

  /** ONE MERGE applying the whole staged partition. */
  private[engine] def mergeFromStageSql(qname: String, stage: String,
      schema: StructType): String =
    s"MERGE $qname AS target USING (SELECT * FROM $stage) AS source" +
      mergeTail(colNames(schema))

  private[engine] def sparkTypeOf(t: String): DataType =
    t.toUpperCase.takeWhile(_ != '(') match {
      case "INT64" | "INTEGER" => LongType
      case "FLOAT64" | "FLOAT" => DoubleType
      case "BOOL" | "BOOLEAN" => BooleanType
      case "BYTES" => BinaryType
      case "TIMESTAMP" | "DATETIME" => TimestampType
      case "DATE" => DateType
      case "NUMERIC" | "BIGNUMERIC" => DecimalType(38, 9)
      case _ => StringType
    }

  private[engine] def decodeValue(v: Option[String], t: String): Any =
    v match {
      case None => null
      case Some(s) => t.toUpperCase.takeWhile(_ != '(') match {
        case "INT64" | "INTEGER" => s.toLong
        case "FLOAT64" | "FLOAT" => s.toDouble
        case "BOOL" | "BOOLEAN" => s.equalsIgnoreCase("true")
        case "BYTES" => java.util.Base64.getDecoder.decode(s)
        case "TIMESTAMP" | "DATETIME" =>
          // real jobs.query renders TIMESTAMP as epoch seconds in
          // scientific notation ("1.6742208E9"); DATETIME (and the
          // fallback) as an ISO civil string
          if (s.matches("""-?\d+(\.\d+)?([eE][+-]?\d+)?""")) {
            val bd = new java.math.BigDecimal(s)
            val secs = bd.setScale(0, java.math.RoundingMode.FLOOR)
            val nanos = bd.subtract(secs)
              .movePointRight(9).longValueExact()
            java.sql.Timestamp.from(
              java.time.Instant.ofEpochSecond(secs.longValueExact(), nanos))
          } else if (s.contains("T") || s.contains(" ")) {
            val iso = s.replace(' ', 'T')
            java.sql.Timestamp.from(
              if (iso.endsWith("Z")) java.time.Instant.parse(iso)
              else java.time.LocalDateTime.parse(iso)
                .toInstant(java.time.ZoneOffset.UTC))
          } else java.sql.Timestamp.from(java.time.Instant.parse(s))
        case "DATE" => java.sql.Date.valueOf(s)
        case "NUMERIC" | "BIGNUMERIC" => new java.math.BigDecimal(s)
        case _ => s
      }
    }
}
