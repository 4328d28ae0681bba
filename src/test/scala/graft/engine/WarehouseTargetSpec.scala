package graft.engine

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.SparkSpec
import graft.fixtures.{MiniBigQuery, MiniSnowflake}

/** The warehouse REST transports: Snowflake's login/query-request
  * protocol and BigQuery's jobs.query API, each driving the
  * reference's per-row MERGE-USING-SELECT upserts, IN-list deletes
  * and IF [NOT] EXISTS DDL against the shared
  * [[graft.fixtures.KeyedSqlStore]] interpreter. */
class WarehouseTargetSpec extends SparkSpec {

  private val chunkSchema = StructType(Seq(
    StructField("row_key", StringType),
    StructField("doc_id", LongType),
    StructField("chunk_idx", IntegerType),
    StructField("chunk_text", StringType)))

  private def chunkDf(rows: (String, Long, Int, String)*) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r =>
        Row(r._1, r._2, r._3, r._4)), 2), chunkSchema)

  private def emptyKeys = spark.createDataFrame(
    spark.sparkContext.emptyRDD[Row],
    StructType(Seq(StructField("row_key", StringType))))

  // ---- snowflake ---------------------------------------------------

  test("snowflake: login token gates query-request; errors carry sqlState") {
    val sf = new MiniSnowflake
    try {
      val c = new SnowflakeRest.Client(sf.baseUrl, "acct", "graft", "pw")
      c.execute("""CREATE TABLE IF NOT EXISTS "d"."s"."t" """ +
        """("row_key" VARCHAR NOT NULL, "v" VARCHAR, PRIMARY KEY ("row_key"))""")
      val missing = intercept[SnowflakeRest.SnowflakeError] {
        c.execute("""DESC TABLE "d"."s"."nope"""")
      }
      assert(missing.code == "002003" && missing.sqlState == "42S02")
      // a forged token is rejected before any SQL runs
      val forged = intercept[SnowflakeRest.SnowflakeError] {
        // bypass login by hand-rolling a client call through HttpJson
        val resp = HttpJson.request("POST",
          s"${sf.baseUrl}/queries/v1/query-request?requestId=x",
          Some(org.json4s.JObject(
            "sqlText" -> org.json4s.JString("SELECT 1"))),
          headers = Map("Authorization" -> "Snowflake Token=\"bogus\""))
        (resp.body \ "success") match {
          case org.json4s.JBool(true) => ()
          case _ => throw SnowflakeRest.SnowflakeError("390104", "08004",
            "Session token invalid.")
        }
      }
      assert(forged.code == "390104")
    } finally sf.close()
  }

  test("SnowflakeTableTarget: per-row MERGE converges; escaping; deletes") {
    val sf = new MiniSnowflake
    try {
      val target = SnowflakeTableTarget(sf.baseUrl, "acct",
        "graftdb", "public", "chunks", bulkBatch = 0) // reference per-row path
      val df1 = chunkDf(("1#0", 1L, 0, "it's alpha"), ("1#1", 1L, 1, "beta"),
        ("2#0", 2L, 0, "gamma"))
      target.apply(spark, df1, emptyKeys)
      // re-apply converges (MERGE matches, updates in place)
      target.apply(spark, df1, emptyKeys)
      assert(sf.table("chunks").get.rows.size == 3)
      val back1 = target.read(spark).orderBy("row_key").collect()
      // the quote in "it's alpha" survived the '' escaping round trip
      assert(back1.head.getString(3) == "it's alpha")
      assert(back1.head.getLong(1) == 1L)

      val keys = spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(Row("2#0")), 1),
        StructType(Seq(StructField("row_key", StringType))))
      target.apply(spark, chunkDf(("1#1", 1L, 1, "beta*")), keys)
      val back2 = target.read(spark).orderBy("row_key").collect()
      assert(back2.map(r => (r.getString(0), r.getString(3))).toSeq ==
        Seq(("1#0", "it's alpha"), ("1#1", "beta*")))

      val sql = sf.observedSql.toArray.map(_.toString)
      assert(sql.exists(_.startsWith("CREATE TABLE IF NOT EXISTS \"graftdb\".\"public\".\"chunks\"")))
      assert(sql.exists(_.startsWith("MERGE INTO \"graftdb\".\"public\".\"chunks\" AS target USING (SELECT")))
      assert(sql.exists(_.startsWith("DELETE FROM \"graftdb\".\"public\".\"chunks\" WHERE \"row_key\" IN")))
    } finally sf.close()
  }

  test("SnowflakeTableTarget: drift ALTER ADD; lossy rebuild; binary vectors") {
    val sf = new MiniSnowflake
    try {
      val target = SnowflakeTableTarget(sf.baseUrl, "acct",
        "graftdb", "public", "evolving")
      target.apply(spark, chunkDf(("1#0", 1L, 0, "alpha")), emptyKeys)
      // widened schema: new column via ALTER ADD IF NOT EXISTS, and a
      // type change via the lossy DROP+ADD rebuild
      val widened = StructType(Seq(
        StructField("row_key", StringType),
        StructField("doc_id", LongType),
        StructField("chunk_idx", IntegerType),
        StructField("chunk_text", BinaryType), // was VARCHAR
        StructField("emb", ArrayType(FloatType)))) // new, rides BINARY
      val df2 = spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(
          Row("1#0", 1L, 0, "alpha".getBytes("UTF-8"),
            Seq(0.5f, -1.25f))), 1), widened)
      target.apply(spark, df2, emptyKeys)
      val cols = sf.table("evolving").get.cols
      assert(cols("chunk_text").sqlType == "BINARY")
      assert(cols("emb").sqlType == "BINARY")
      val back = target.read(spark).collect().head
      assert(new String(back.getAs[Array[Byte]]("chunk_text"), "UTF-8")
        == "alpha")
      assert(Float32LE.decode(back.getAs[Array[Byte]]("emb")).toSeq
        == Seq(0.5f, -1.25f))
    } finally sf.close()
  }

  test("snowflake: DECIMAL columns decode with scale; delete-only absent table no-ops") {
    val sf = new MiniSnowflake
    try {
      val decSchema = StructType(Seq(
        StructField("row_key", StringType),
        StructField("qty", LongType),
        StructField("price", DecimalType(12, 2))))
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(
          Row("a", 3L, new java.math.BigDecimal("1.50"))), 1), decSchema)
      val target = SnowflakeTableTarget(sf.baseUrl, "acct",
        "graftdb", "public", "priced")
      target.apply(spark, df, emptyKeys)
      val back = target.read(spark).collect().head
      // every integral/decimal column reports `fixed` — scale tells
      // them apart: qty stays Long, price comes back as a DECIMAL
      assert(back.getAs[Long]("qty") == 3L)
      assert(back.getAs[java.math.BigDecimal]("price")
        .compareTo(new java.math.BigDecimal("1.50")) == 0)

      // delete-only against an absent table: converged no-op
      val ghost = SnowflakeTableTarget(sf.baseUrl, "acct",
        "graftdb", "public", "ghost")
      val keys = spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(Row("k")), 1),
        StructType(Seq(StructField("row_key", StringType))))
      ghost.apply(spark, spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], chunkSchema), keys)
      assert(sf.table("ghost").isEmpty)
    } finally sf.close()
  }

  // ---- bigquery ----------------------------------------------------

  test("BigQueryTableTarget: named-param MERGE converges; tables.get observes") {
    val bq = new MiniBigQuery("bq-test-token")
    try {
      val target = BigQueryTableTarget(bq.baseUrl, "proj", "ds", "chunks",
        token = "bq-test-token", bulkBatch = 0) // reference per-row path
      val keys = spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(Row("2#0")), 1),
        StructType(Seq(StructField("row_key", StringType))))
      // delete-only and empty applies against the absent table are
      // converged no-ops: nothing is created, no DELETE would 404
      assert(target.apply(spark, chunkDf(), keys) == TargetStats(0, 0))
      assert(target.apply(spark, chunkDf(), emptyKeys) == TargetStats(0, 0))
      assert(bq.table("chunks").isEmpty)
      assert(!bq.observedSql.toArray.map(_.toString)
        .exists(s => s.startsWith("CREATE") || s.startsWith("DELETE")))

      val df1 = chunkDf(("1#0", 1L, 0, "alpha"), ("1#1", 1L, 1, "beta"),
        ("2#0", 2L, 0, "gamma"))
      target.apply(spark, df1, emptyKeys)
      target.apply(spark, df1, emptyKeys)
      assert(bq.table("chunks").get.rows.size == 3)

      target.apply(spark, chunkDf(("1#1", 1L, 1, "beta*")), keys)
      val back = target.read(spark).orderBy("row_key").collect()
      assert(back.map(r => (r.getString(0), r.getString(3))).toSeq ==
        Seq(("1#0", "alpha"), ("1#1", "beta*")))
      // INT64 results decode typed
      assert(back.head.getLong(1) == 1L)

      val sql = bq.observedSql.toArray.map(_.toString)
      assert(sql.exists(_.startsWith("CREATE TABLE IF NOT EXISTS `proj.ds.chunks`")))
      assert(sql.exists(s => s.startsWith("MERGE `proj.ds.chunks` AS target")
        && s.contains("@p0 AS `row_key`")))
      assert(sql.exists(_.startsWith("DELETE FROM `proj.ds.chunks` WHERE `row_key` IN (@p0")))
    } finally bq.close()
  }

  test("BigQueryTableTarget: auth gate, drift ALTER, BYTES vector roundtrip") {
    val bq = new MiniBigQuery("bq-test-token")
    try {
      // a wrong bearer token fails fast (the 401 is a global error in
      // the retry taxonomy, not a retried transient)
      val bad = BigQueryTableTarget(bq.baseUrl, "proj", "ds", "chunks",
        token = "wrong")
      val e = intercept[Exception] {
        bad.apply(spark, chunkDf(("1#0", 1L, 0, "x")), emptyKeys)
      }
      assert(e.getMessage.contains("401") ||
        String.valueOf(e.getCause).contains("401"))

      val target = BigQueryTableTarget(bq.baseUrl, "proj", "ds", "evolving",
        token = "bq-test-token")
      target.apply(spark, chunkDf(("1#0", 1L, 0, "alpha")), emptyKeys)
      val widened = StructType(chunkSchema.fields :+
        StructField("emb", ArrayType(FloatType)))
      val df2 = spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(
          Row("1#0", 1L, 0, "alpha", Seq(0.5f, -1.25f))), 1), widened)
      target.apply(spark, df2, emptyKeys)
      assert(bq.table("evolving").get.cols("emb").sqlType == "BYTES")
      val back = target.read(spark).collect().head
      assert(Float32LE.decode(back.getAs[Array[Byte]]("emb")).toSeq
        == Seq(0.5f, -1.25f))
    } finally bq.close()
  }

  test("BigQuery: multi-page results and jobComplete=false polling") {
    val bq = new MiniBigQuery("bq-test-token")
    try {
      val target = BigQueryTableTarget(bq.baseUrl, "proj", "ds", "paged",
        token = "bq-test-token")
      val rows = (0 until 10).map(i => (s"k$i", i.toLong, i, s"text $i"))
      target.apply(spark, chunkDf(rows: _*), emptyKeys)

      // a result beyond one page is followed through pageToken — a
      // first-page-only client would silently return 3 of 10 rows
      bq.pageRows = 3
      val paged = target.read(spark).orderBy("row_key").collect()
      assert(paged.length == 10)
      assert(paged.map(_.getString(0)).toSeq ==
        (0 until 10).map(i => s"k$i").sorted)

      // a slow query (jobComplete=false) is polled via getQueryResults
      bq.pageRows = Int.MaxValue
      bq.deferJobs = 1
      val deferred = target.read(spark).collect()
      assert(deferred.length == 10)
      assert(bq.deferJobs == 0)
    } finally bq.close()
  }

  test("warehouse timestamps decode from the real epoch wire forms") {
    // MiniSnowflake renders timestamp rowset values as
    // "epoch.nnnnnnnnn 1440" and MiniBigQuery as "1.6742208E9" — the
    // documented wire forms — so these round trips prove the epoch
    // decoders, not an ISO-echo shortcut.
    val tsSchema = StructType(Seq(
      StructField("row_key", StringType),
      StructField("at", TimestampType)))
    val inst = java.time.Instant.parse("2023-01-20T12:34:56.123456Z")
    def tsDf = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row("a", java.sql.Timestamp.from(inst))), 1), tsSchema)

    val sf = new MiniSnowflake
    try {
      val t = SnowflakeTableTarget(sf.baseUrl, "acct", "graftdb",
        "public", "stamped")
      t.apply(spark, tsDf, emptyKeys)
      val back = t.read(spark).collect().head
      assert(back.getAs[java.sql.Timestamp]("at").toInstant == inst)
    } finally sf.close()

    val bq = new MiniBigQuery("bq-test-token")
    try {
      val t = BigQueryTableTarget(bq.baseUrl, "proj", "ds", "stamped",
        token = "bq-test-token")
      t.apply(spark, tsDf, emptyKeys)
      val back = t.read(spark).collect().head
      // the API's double rendering caps precision near the microsecond
      val got = back.getAs[java.sql.Timestamp]("at").toInstant
      assert(math.abs(java.time.Duration.between(got, inst).toNanos) < 1000)
    } finally bq.close()
  }

  // ---- staged bulk write path (the 100x-scale shape) ---------------

  private def manyRows(n: Int) = chunkDf(
    (0 until n).map(i => (f"k$i%04d", i.toLong, i, s"text $i")): _*)

  test("snowflake bulk: round trips are O(batches), not O(rows)") {
    val sf = new MiniSnowflake
    try {
      val n = 60
      val target = SnowflakeTableTarget(sf.baseUrl, "acct",
        "graftdb", "public", "bulked", writePartitions = 2, bulkBatch = 10)
      target.apply(spark, manyRows(n), emptyKeys)
      assert(sf.table("bulked").get.rows.size == n)

      val sql = sf.observedSql.toArray.map(_.toString)
      val inserts = sql.count(_.startsWith("INSERT INTO"))
      val merges = sql.count(_.startsWith("MERGE INTO"))
      val stages = sql.count(_.contains("CREATE TEMPORARY TABLE"))
      val drops = sql.count(_.startsWith("DROP TABLE IF EXISTS"))
      // per non-empty partition: 1 stage + ceil(rows/10) inserts +
      // 1 MERGE-from-stage + 1 drop. With 2 partitions of ~30 rows
      // that is ≤ 2 + 6+2slack + 2 + 2 — far below the 60 per-row
      // MERGEs the reference-faithful path would have issued.
      assert(merges <= 2, s"expected ≤2 bulk MERGEs, saw $merges")
      assert(stages >= 1 && stages <= 2 && drops == stages)
      assert(inserts >= 6 && inserts <= 8,
        s"expected ~ceil(60/10) staging INSERTs, saw $inserts")
      assert(sql.count(s => s.startsWith("MERGE") || s.startsWith("INSERT"))
        < n / 2, "total write statements must be O(batches)")
      assert(sql.exists(_.matches(
        "(?s)MERGE INTO \"graftdb\"\\.\"public\"\\.\"bulked\" AS target " +
          "USING \\(SELECT \\* FROM \"graftdb\".*")))

      // convergence + update-in-place through the staged path
      target.apply(spark, manyRows(n), emptyKeys)
      assert(sf.table("bulked").get.rows.size == n)
      val keys = spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(Row("k0001")), 1),
        StructType(Seq(StructField("row_key", StringType))))
      target.apply(spark, chunkDf(("k0000", 0L, 0, "text 0*")), keys)
      val back = target.read(spark).orderBy("row_key").collect()
      assert(back.length == n - 1)
      assert(back.head.getString(3) == "text 0*")
      // no stage table leaked: every CREATE TEMPORARY has its DROP
      val allSql = sf.observedSql.toArray.map(_.toString)
      assert(allSql.count(_.contains("CREATE TEMPORARY TABLE")) ==
        allSql.count(_.startsWith("DROP TABLE IF EXISTS")))
    } finally sf.close()
  }

  test("bigquery bulk: staged INSERT+MERGE; param cap respected") {
    val bq = new MiniBigQuery("bq-test-token")
    try {
      val n = 50
      val target = BigQueryTableTarget(bq.baseUrl, "proj", "ds", "bulked",
        token = "bq-test-token", writePartitions = 2, bulkBatch = 10)
      target.apply(spark, manyRows(n), emptyKeys)
      assert(bq.table("bulked").get.rows.size == n)

      val sql = bq.observedSql.toArray.map(_.toString)
      val merges = sql.count(_.startsWith("MERGE `proj.ds.bulked`"))
      val inserts = sql.count(_.startsWith("INSERT INTO"))
      assert(merges <= 2, s"expected ≤2 bulk MERGEs, saw $merges")
      assert(inserts >= 5 && inserts <= 7,
        s"expected ~ceil(50/10) staging INSERTs, saw $inserts")
      assert(sql.exists(_.contains("AS target USING (SELECT * FROM")))

      // update flows through the stage; delete unchanged
      val keys = spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(Row("k0001")), 1),
        StructType(Seq(StructField("row_key", StringType))))
      target.apply(spark, chunkDf(("k0000", 0L, 0, "text 0*")), keys)
      val back = target.read(spark).orderBy("row_key").collect()
      assert(back.length == n - 1 && back.head.getString(3) == "text 0*")
    } finally bq.close()
  }
}
