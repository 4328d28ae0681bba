package graft.engine

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.SparkSpec
import graft.fixtures.MiniDoris

/** The Apache Doris two-protocol transport: the MySQL wire codec
  * ([[MysqlWire.Client]] against [[MiniDoris]]'s query port), HTTP
  * Stream Load, and [[DorisTableTarget]]'s delete-before-insert
  * convergence over the DUPLICATE KEY table model. */
class DorisTargetSpec extends SparkSpec {

  private def withDoris[T](f: MiniDoris => T): T = {
    val server = new MiniDoris
    try f(server) finally server.close()
  }

  private def withMysql[T](d: MiniDoris)(f: MysqlWire.Client => T): T = {
    val c = new MysqlWire.Client(d.host, d.mysqlPort, "root", "graft")
    try f(c) finally c.close()
  }

  private val CreateItems =
    """CREATE TABLE IF NOT EXISTS `graft`.`items` (
      |    `row_key` VARCHAR(512) NOT NULL,
      |    `name` TEXT NULL,
      |    `qty` BIGINT NULL
      |)
      |ENGINE = OLAP
      |DUPLICATE KEY(`row_key`)
      |DISTRIBUTED BY HASH(`row_key`) BUCKETS AUTO
      |PROPERTIES (
      |    "replication_num" = "1"
      |)""".stripMargin

  // ---- MySQL wire protocol ----------------------------------------

  test("multi-packet framing: a >=16MB payload splits and reassembles") {
    import java.io.{ByteArrayInputStream, ByteArrayOutputStream,
      DataInputStream, DataOutputStream}
    // 0xffffff + a remainder, plus the boundary case of EXACTLY
    // 0xffffff (which requires an empty terminating frame)
    for (size <- Seq(0xffffff + 12345, 0xffffff, 100)) {
      val payload = new Array[Byte](size)
      new java.util.Random(size).nextBytes(payload)
      val sink = new ByteArrayOutputStream()
      MysqlWire.writePacket(new DataOutputStream(sink), 0, payload)
      val framed = sink.toByteArray
      // full frames + one terminating frame (empty when size is an
      // exact multiple of 0xffffff), 4 header bytes each
      val frames = size / 0xffffff + 1
      assert(framed.length == size + 4 * frames)
      val (seq, back) = MysqlWire.readPacket(
        new DataInputStream(new ByteArrayInputStream(framed)))
      assert(back.length == size)
      assert(java.util.Arrays.equals(back, payload))
      assert(seq == frames - 1)
    }
  }

  test("mysql handshake, COM_QUERY DDL, DESC, typed SELECT") {
    withDoris { d =>
      withMysql(d) { c =>
        c.ping()
        c.query(CreateItems)
        c.query(CreateItems) // IF NOT EXISTS converges
        val desc = c.query("DESC `graft`.`items`")
        assert(desc.rows.map(_(0).get) == Vector("row_key", "name", "qty"))
        assert(desc.rows.head(1).get == "VARCHAR(512)")

        val err = intercept[MysqlWire.MysqlErrorException] {
          c.query("SELECT `nope` FROM `graft`.`items`")
        }
        assert(err.code == 1054 && err.sqlState == "42S22")
        val missing = intercept[MysqlWire.MysqlErrorException] {
          c.query("DESC `graft`.`zzz`")
        }
        assert(missing.code == 1146 && missing.sqlState == "42S02")
        // the connection survives errors
        assert(c.query("SELECT * FROM `graft`.`items`").rows.isEmpty)
      }
    }
  }

  test("stream load appends; DELETE WHERE (pk=…) OR … removes; escaping") {
    withDoris { d =>
      withMysql(d) { c =>
        c.query(CreateItems)
        DorisTableTarget.streamLoad(d.host, d.port, "graft", "items",
          "root", "", Seq(
            org.json4s.JObject("row_key" -> org.json4s.JString("a"),
              "name" -> org.json4s.JString("it's"),
              "qty" -> org.json4s.JInt(5)),
            org.json4s.JObject("row_key" -> org.json4s.JString("b"),
              "name" -> org.json4s.JNull,
              "qty" -> org.json4s.JInt(7))))
        val all = c.query(
          "SELECT `row_key`, `name`, `qty` FROM `graft`.`items` ORDER BY `row_key`")
        assert(all.rows == Vector(
          Vector(Some("a"), Some("it's"), Some("5")),
          Vector(Some("b"), None, Some("7"))))
        // escaped-literal delete (the quote in "it's" travels as \')
        val n = c.query(DorisTableTarget.deleteSql("graft", "items", Seq("a")))
        assert(n.affected == 1)
        assert(c.query("SELECT `row_key` FROM `graft`.`items`").rows
          == Vector(Vector(Some("b"))))
      }
    }
  }

  // ---- DorisTableTarget -------------------------------------------

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

  test("DorisTableTarget: delete-before-insert upserts converge on DUPLICATE KEY") {
    withDoris { d =>
      val target = DorisTableTarget(d.host, d.mysqlPort, d.port,
        "graft", "chunks")
      val keys = spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(Row("2#0")), 1),
        StructType(Seq(StructField("row_key", StringType))))
      // delete-only and empty applies against the absent table are
      // converged no-ops: nothing is created, no DELETE is issued
      assert(target.apply(spark, chunkDf(), keys) == TargetStats(0, 0))
      assert(target.apply(spark, chunkDf(), emptyKeys) == TargetStats(0, 0))
      assert(d.table("chunks").isEmpty)
      assert(!d.observedSql.toArray.map(_.toString)
        .exists(s => s.startsWith("CREATE") || s.startsWith("DELETE")))

      val df1 = chunkDf(("1#0", 1L, 0, "alpha"), ("1#1", 1L, 1, "beta"),
        ("2#0", 2L, 0, "gamma"))
      target.apply(spark, df1, emptyKeys)
      assert(target.read(spark).count() == 3)

      // re-apply: the DUPLICATE KEY model would double rows on a
      // plain append — delete-before-insert keeps it at 3
      target.apply(spark, df1, emptyKeys)
      assert(d.table("chunks").get.rows.length == 3)

      // update one + delete one
      target.apply(spark, chunkDf(("1#1", 1L, 1, "beta*")), keys)
      val back = target.read(spark).orderBy("row_key").collect()
      assert(back.map(r => (r.getString(0), r.getString(3))).toSeq ==
        Seq(("1#0", "alpha"), ("1#1", "beta*")))
      assert(back.head.getLong(1) == 1L)
      assert(back.head.getInt(2) == 0)

      // both transports were exercised with the reference shapes
      val sql = d.observedSql.toArray.map(_.toString)
      assert(sql.exists(_.startsWith("CREATE TABLE IF NOT EXISTS `graft`.`chunks`")))
      assert(sql.exists(_.startsWith("DELETE FROM `graft`.`chunks` WHERE")))
      assert(d.observed.toArray.map(_.toString)
        .exists(_ == "PUT /api/graft/chunks/_stream_load"))
    }
  }

  test("DorisTableTarget: ANN serving query — metrics, order, dim check") {
    withDoris { d =>
      val vecSchema = StructType(Seq(
        StructField("row_key", StringType),
        StructField("emb", ArrayType(FloatType))))
      val vdf = spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(
          Row("a", Seq(1f, 0f)), Row("b", Seq(0.9f, 0.1f)),
          Row("c", Seq(0f, 1f)), Row("x", Seq(-1f, 0f))), 1), vecSchema)
      val target = DorisTableTarget(d.host, d.mysqlPort, d.port,
        "graft", "vs",
        vectorIndexes = Seq(DorisVectorIndex("emb")))
      target.apply(spark, vdf, emptyKeys)

      // l2: nearest-first ASC through l2_distance_approximate
      val l2 = target.knnQuery(spark, Seq(1f, 0f), k = 2,
        vectorCol = "emb").collect()
      assert(l2.map(_.getString(0)).toSeq == Seq("a", "b"))
      assert(l2.head.getDouble(1) == 0.0)
      // inner product: largest-first DESC
      val ip = target.knnQuery(spark, Seq(1f, 0f), k = 2,
        metric = "inner_product", vectorCol = "emb").collect()
      assert(ip.map(_.getString(0)).toSeq == Seq("a", "b"))
      assert(ip.head.getDouble(1) == 1.0)
      // the exact reference statement shape reached the wire
      assert(d.observedSql.toArray.map(_.toString).exists(s =>
        s.startsWith("SELECT `row_key`, l2_distance_approximate(`emb`, [1.0, 0.0]) as _distance")))
      // dimension mismatch errors like the store
      val bad = intercept[MysqlWire.MysqlErrorException] {
        target.knnQuery(spark, Seq(1f, 0f, 0f), k = 2,
          vectorCol = "emb").collect()
      }
      assert(bad.getMessage.contains("dimensions"))
    }
  }

  test("DorisTableTarget: column drift ALTER ADD; OLAP DDL carries indexes") {
    withDoris { d =>
      val target = DorisTableTarget(d.host, d.mysqlPort, d.port,
        "graft", "evolving")
      target.apply(spark, chunkDf(("1#0", 1L, 0, "alpha")), emptyKeys)
      val widened = StructType(chunkSchema.fields :+
        StructField("score", DoubleType))
      val df2 = spark.createDataFrame(
        spark.sparkContext.parallelize(
          Seq(Row("1#0", 1L, 0, "alpha", 0.5)), 1), widened)
      target.apply(spark, df2, emptyKeys)
      assert(d.table("evolving").get.cols("score").dorisType == "DOUBLE")
      assert(target.read(spark).collect().head.getAs[Double]("score") == 0.5)

      // ANN + inverted index defs bake into the CREATE TABLE
      val vecSchema = StructType(Seq(
        StructField("row_key", StringType),
        StructField("body", StringType),
        StructField("emb", ArrayType(FloatType))))
      val vdf = spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(
          Row("a", "hello world", Seq(0.1f, 0.2f, 0.3f))), 1), vecSchema)
      val vecTarget = DorisTableTarget(d.host, d.mysqlPort, d.port,
        "graft", "embs",
        vectorIndexes = Seq(DorisVectorIndex("emb", indexType = "HNSW",
          metric = "l2_distance", maxDegree = Some(32))),
        invertedIndexes = Seq(DorisInvertedIndex("body",
          parser = Some("english"))))
      vecTarget.apply(spark, vdf, emptyKeys)
      val t = d.table("embs").get
      assert(t.cols("emb").dorisType == "ARRAY<FLOAT>")
      assert(t.indexes.exists(ix => ix.contains("USING ANN")
        && ix.contains("\"index_type\" = \"hnsw\"")
        && ix.contains("\"dim\" = \"3\"")
        && ix.contains("\"max_degree\" = \"32\"")))
      assert(t.indexes.exists(ix => ix.contains("USING INVERTED")
        && ix.contains("\"parser\" = \"english\"")))
      val back = vecTarget.read(spark).collect().head
      assert(back.getAs[scala.collection.Seq[Float]]("emb").toSeq
        == Seq(0.1f, 0.2f, 0.3f))
    }
  }
}
