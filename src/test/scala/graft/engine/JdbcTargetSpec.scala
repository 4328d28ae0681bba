package graft.engine

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.Files
import java.sql.{BatchUpdateException, SQLException, Timestamp}

/** The JDBC table-target transport against embedded Derby — the
  * reference's relational connector contract
  * (python/cocoindex/connectors/postgres/_target.py: reconcile
  * :850-881, batched upserts :769-791, batched deletes :813-836,
  * managed DDL :1468) proven end-to-end:
  *
  *   - create + convergent MERGE upsert + keyed DELETE + readback;
  *   - re-applying the same delta converges (idempotent);
  *   - ALTER ADD for a new column; lossy DROP+ADD rebuild for a
  *     changed column type (incl. a DECIMAL precision widening —
  *     the statediff Replace sub-record transition);
  *   - metadata LIKE-pattern safety: a sibling table whose name
  *     matches the target's name as a pattern must not pollute the
  *     observed shape;
  *   - float32-LE BLOB vector round-trip;
  *   - UTC-calendar timestamp round-trip;
  *   - deadlock-retry chain walk through BatchUpdateException;
  *   - a full Flow run (reconcile → JDBC apply → rerun no-op →
  *     delta update/delete) against `derbyUrl`.
  */
class JdbcTargetSpec extends SparkSpec {

  private def freshDb(prefix: String): String = {
    val d = Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit()
    JdbcTableTarget.derbyUrl(d.resolve("db").toString)
  }

  private def df(rows: Seq[(String, Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("row_key", "n", "txt")
  }

  private def noDeletes: DataFrame = {
    import spark.implicits._
    Seq.empty[String].toDF("row_key")
  }

  private def contents(t: JdbcTableTarget): Map[String, (Long, String)] =
    t.read(spark).select("row_key", "n", "txt").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getString(2))).toMap

  test("create, upsert, readback, idempotent re-apply, delete") {
    import spark.implicits._
    val t = JdbcTableTarget(freshDb("jdbc-basic"), "doc_chunks")
    // delete-only and empty applies against the absent table are
    // converged no-ops: nothing is created, no DELETE can fail on it
    assert(t.apply(spark, df(Nil), Seq("zz").toDF("row_key")) ==
      TargetStats(0, 0))
    assert(t.apply(spark, df(Nil), noDeletes) == TargetStats(0, 0))
    assert(!JdbcTableTarget.withConnection(t.url)(
      _.getMetaData.getTables(null, null, "doc_chunks", null).next()))

    val s1 = t.apply(spark, df(Seq(("a", 1L, "alpha"), ("b", 2L, "beta"))),
      noDeletes)
    assert(s1 == TargetStats(2, 0))
    assert(contents(t) == Map("a" -> (1L, "alpha"), "b" -> (2L, "beta")))

    // convergent: the same delta re-applied lands the same state
    t.apply(spark, df(Seq(("a", 1L, "alpha"), ("b", 2L, "beta"))), noDeletes)
    assert(contents(t) == Map("a" -> (1L, "alpha"), "b" -> (2L, "beta")))

    // update one, insert one, delete one — in a single apply
    val s2 = t.apply(spark, df(Seq(("a", 10L, "ALPHA"), ("c", 3L, "gamma"))),
      Seq("b").toDF("row_key"))
    assert(s2 == TargetStats(2, 1))
    assert(contents(t) == Map("a" -> (10L, "ALPHA"), "c" -> (3L, "gamma")))

    // empty delta: no-op without touching the store
    assert(t.apply(spark, df(Nil), noDeletes) == TargetStats(0, 0))
  }

  test("ALTER ADD for a new column; extra observed columns survive") {
    val t = JdbcTableTarget(freshDb("jdbc-alter"), "doc_chunks")
    t.apply(spark, df(Seq(("a", 1L, "alpha"))), noDeletes)

    // same rows, one more column: the table gains it via ALTER ADD
    import spark.implicits._
    t.apply(spark,
      Seq(("a", 1L, "alpha", 0.5), ("b", 2L, "beta", 1.5))
        .toDF("row_key", "n", "txt", "score"),
      noDeletes)
    val got = t.read(spark).select("row_key", "score").collect()
      .map(r => r.getString(0) -> Option(r.get(1))).toMap
    assert(got == Map("a" -> Some(0.5), "b" -> Some(1.5)))

    // a deletion-only apply (key-only schema) must not drop payload
    // columns
    t.apply(spark, Seq("b").toDF("row_key").limit(0),
      Seq("b").toDF("row_key"))
    assert(t.read(spark).columns.toSet ==
      Set("row_key", "n", "txt", "score"))
    assert(t.read(spark).count() == 1)
  }

  test("lossy column rebuild on type change and DECIMAL widening") {
    val t = JdbcTableTarget(freshDb("jdbc-lossy"), "doc_chunks")
    import spark.implicits._
    t.apply(spark,
      Seq(("a", 1), ("b", 2)).toDF("row_key", "v")
        .select(col("row_key"), col("v"),
          lit(BigDecimal("12345678.90")).cast(DecimalType(10, 2)).as("d")),
      noDeletes)

    // v: INT → VARCHAR (type change), d: DECIMAL(10,2) → DECIMAL(12,2)
    // (precision widening the base-name comparison would miss). The
    // engine's lossy transition re-upserts EVERY row, so the rebuilt
    // columns refill within the same apply — mirrored here by sending
    // all rows.
    val widened = Seq(("a", "one"), ("b", "two")).toDF("row_key", "v")
      .select(col("row_key"), col("v"),
        lit(BigDecimal("1234567890.12")).cast(DecimalType(12, 2)).as("d"))
    t.apply(spark, widened, noDeletes)
    val got = t.read(spark).select("row_key", "v", "d").collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getDecimal(2))).toMap
    assert(got("a")._1 == "one" && got("b")._1 == "two")
    assert(got("a")._2 == new java.math.BigDecimal("1234567890.12"))
  }

  test("metadata LIKE-pattern safety: sibling table must not pollute") {
    val url = freshDb("jdbc-like")
    // `docXchunks` matches the pattern `doc_chunks` ('_' = any char);
    // give the sibling the column the target will need via ALTER ADD —
    // an unescaped metadata lookup would see it and skip the ALTER,
    // failing the MERGE
    JdbcTableTarget.withConnection(url) { conn =>
      JdbcTableTarget.exec(conn,
        """CREATE TABLE "docXchunks" ("row_key" VARCHAR(64) NOT NULL PRIMARY KEY, "score" DOUBLE)""")
    }
    val t = JdbcTableTarget(url, "doc_chunks")
    import spark.implicits._
    t.apply(spark, Seq(("a", 1L, "alpha")).toDF("row_key", "n", "txt"),
      noDeletes)
    t.apply(spark,
      Seq(("a", 1L, "alpha", 0.5)).toDF("row_key", "n", "txt", "score"),
      noDeletes)
    val got = t.read(spark).select("row_key", "score").collect()
    assert(got.map(r => r.getString(0) -> r.getDouble(1)).toMap ==
      Map("a" -> 0.5))
  }

  test("vector columns round-trip as float32-LE BLOBs") {
    val t = JdbcTableTarget(freshDb("jdbc-vec"), "embeddings")
    import spark.implicits._
    val vec = Array(1.5f, -2.25f, 3.125f, 0f)
    t.apply(spark,
      Seq(("a", vec.toSeq)).toDF("row_key", "emb"),
      noDeletes)
    val back = t.read(spark)
      .select(col("row_key"),
        JdbcTableTarget.floatVectorFromBinary(col("emb")).as("emb"))
      .collect()
    assert(back.head.getSeq[Float](1).toArray.toSeq == vec.toSeq)
    // codec is exactly float32-LE
    assert(JdbcTableTarget.decodeFloats(
      JdbcTableTarget.encodeFloats(vec.toSeq)).toSeq == vec.toSeq)
  }

  test("timestamps bind through a UTC calendar") {
    val t = JdbcTableTarget(freshDb("jdbc-ts"), "events")
    import spark.implicits._
    val ts = Timestamp.from(java.time.Instant.parse("2026-03-01T12:34:56.789Z"))
    // run the WRITE under a non-UTC default timezone: on a UTC-default
    // JVM a same-calendar write/read round-trips even without the UTC
    // bind, so the regression gate would be vacuous. With New York as
    // the default, an unfixed bind would store the wall clock
    // 07:34:56 instead of 12:34:56.
    val saved = java.util.TimeZone.getDefault
    try {
      java.util.TimeZone.setDefault(
        java.util.TimeZone.getTimeZone("America/New_York"))
      t.apply(spark,
        Seq(("a", ts)).toDF("row_key", "at"),
        noDeletes)
    } finally java.util.TimeZone.setDefault(saved)
    JdbcTableTarget.withConnection(t.url) { conn =>
      val st = conn.createStatement()
      try {
        val rs = st.executeQuery("""SELECT "at" FROM "events"""")
        try {
          assert(rs.next())
          // the stored WALL CLOCK itself must be the UTC rendering —
          // asserted on the string so no calendar can mask a
          // wrong-zone bind
          assert(rs.getString(1).startsWith("2026-03-01 12:34:56"),
            s"stored wall clock: ${rs.getString(1)}")
          val got = rs.getTimestamp(1, JdbcTableTarget.utcCalendar())
          assert(got.toInstant == ts.toInstant, s"$got vs $ts")
        } finally rs.close()
      } finally st.close()
    }
  }

  test("retriable-state detection walks the BatchUpdateException chain") {
    val deadlock = new SQLException("deadlock", "40001")
    val timeout = new SQLException("lock timeout", "40XL1")
    val generic = new SQLException("boom", "42X01")
    assert(JdbcTableTarget.retriableState(deadlock))
    assert(JdbcTableTarget.retriableState(timeout))
    assert(!JdbcTableTarget.retriableState(generic))
    // executeBatch surfaces failures as BatchUpdateException with the
    // real state chained behind a generic head — the walk must find it
    val batch = new BatchUpdateException("batch failed", "XJ208", 0,
      Array.empty[Int], null)
    batch.setNextException(generic)
    generic.setNextException(deadlock)
    assert(JdbcTableTarget.retriableState(batch))
    val cleanBatch = new BatchUpdateException("batch failed", "XJ208", 0,
      Array.empty[Int], null)
    cleanBatch.setNextException(new SQLException("syntax", "42X01"))
    assert(!JdbcTableTarget.retriableState(cleanBatch))
  }

  test("truncate drops the table; rerun recreates it") {
    val t = JdbcTableTarget(freshDb("jdbc-trunc"), "doc_chunks")
    t.apply(spark, df(Seq(("a", 1L, "x"))), noDeletes)
    t.truncate(spark)
    intercept[IllegalStateException](t.read(spark))
    t.truncate(spark) // idempotent on an absent table
    t.apply(spark, df(Seq(("b", 2L, "y"))), noDeletes)
    assert(contents(t) == Map("b" -> (2L, "y")))
  }

  test("full Flow against derbyUrl: reconcile → apply → rerun no-op → delta") {
    val work = Files.createTempDirectory("jdbc-flow")
    work.toFile.deleteOnExit()
    val url = JdbcTableTarget.derbyUrl(work.resolve("db").toString)
    import spark.implicits._

    val base = new java.util.concurrent.atomic.AtomicReference(
      Map("d1" -> "alpha text", "d2" -> "beta text", "d3" -> "gamma text"))
    def src = TableSource(
      sp => {
        import sp.implicits._
        base.get().toSeq.toDF("doc_id", "text")
      },
      keyCol = "doc_id")
    val stage = CocoFn("upper", 1, fn = df => df.select(
      col("item_key"), col("item_key").as("row_key"),
      upper(col("text")).as("txt"), length(col("text")).as("n")))
    val flow = new Flow("jdbc_e2e", src, Seq(stage),
      JdbcTableTarget(url, "docs_upper", writePartitions = 2, batchSize = 2),
      work.resolve("state").toString)

    val r1 = flow.run(spark)
    assert(r1.rowsInserted == 3 && r1.rowsDeleted == 0, s"$r1")
    assert(flow.run(spark).isNoop, "rerun over unchanged source must no-op")

    // edit one, delete one: exactly that delta reaches the store
    base.set(Map("d1" -> "alpha text", "d2" -> "beta EDITED"))
    val r2 = flow.run(spark)
    assert(r2.rowsUpdated == 1 && r2.rowsDeleted == 1 &&
      r2.rowsInserted == 0, s"$r2")
    val got = flow.target.read(spark).select("row_key", "txt").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("d1" -> "ALPHA TEXT", "d2" -> "BETA EDITED"))
    assert(flow.run(spark).isNoop)
  }
}
