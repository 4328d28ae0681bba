package graft.engine

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.SparkSpec
import graft.fixtures.MiniPg

/** The PostgreSQL v3 wire transport: protocol roundtrip
  * ([[PgWire.Client]] against [[MiniPg]]), the statement shapes of
  * the reference's postgres connectors, [[PgTableTarget]]'s managed
  * DDL + batched convergent apply, and [[PgWireTableSource]]'s
  * partitioned reads with pushed-down deltas. */
class PgWireSpec extends SparkSpec {

  private def withPg[T](f: MiniPg => T): T = {
    val server = new MiniPg
    try f(server) finally server.close()
  }

  private def withClient[T](pg: MiniPg)(f: PgWire.Client => T): T = {
    val c = new PgWire.Client(pg.host, pg.port, "graft", "testdb")
    try f(c) finally c.close()
  }

  // ---- protocol + interpreter -------------------------------------

  test("startup handshake, simple query, typed SELECT readback") {
    withPg { pg =>
      withClient(pg) { c =>
        c.query("""CREATE TABLE "t" ("k" text NOT NULL, "n" bigint, """ +
          """"d" double precision, "b" boolean, PRIMARY KEY ("k"))""")
        c.execute(
          """INSERT INTO "t" ("k", "n", "d", "b") VALUES ($1, $2, $3, $4)""",
          Seq(Some("a"), Some("42"), Some("1.5"), Some("true")))
        val res = c.query("""SELECT * FROM "t"""").head
        assert(res.columns.map(_.name) == Vector("k", "n", "d", "b"))
        assert(res.columns.map(_.oid) == Vector(
          PgWire.OidText, PgWire.OidInt8, PgWire.OidFloat8, PgWire.OidBool))
        assert(res.rows == Vector(Vector(
          Some("a"), Some("42"), Some("1.5"), Some("true"))))
      }
    }
  }

  test("errors carry SQLSTATEs and leave the connection usable") {
    withPg { pg =>
      withClient(pg) { c =>
        c.query("""CREATE TABLE "t" ("k" text NOT NULL, PRIMARY KEY ("k"))""")
        // duplicate table → 42P07
        val dup = intercept[PgWire.PgErrorException] {
          c.query("""CREATE TABLE "t" ("k" text NOT NULL, PRIMARY KEY ("k"))""")
        }
        assert(dup.sqlState == "42P07")
        // undefined table → 42P01
        val missing = intercept[PgWire.PgErrorException] {
          c.query("""SELECT * FROM "nope"""")
        }
        assert(missing.sqlState == "42P01")
        // plain INSERT dup key → 23505 (extended protocol error path)
        c.execute("""INSERT INTO "t" ("k") VALUES ($1)""", Seq(Some("x")))
        val dupKey = intercept[PgWire.PgErrorException] {
          c.execute("""INSERT INTO "t" ("k") VALUES ($1)""", Seq(Some("x")))
        }
        assert(dupKey.sqlState == "23505")
        // the connection survives every error above
        assert(c.query("""SELECT * FROM "t"""").head.rows.size == 1)
      }
    }
  }

  test("multi-row VALUES ON CONFLICT upsert converges; IN-list delete") {
    withPg { pg =>
      withClient(pg) { c =>
        c.query("""CREATE TABLE "t" ("k" text NOT NULL, "v" text, PRIMARY KEY ("k"))""")
        val upsert = """INSERT INTO "t" ("k", "v") VALUES ($1, $2), ($3, $4), ($5, $6) """ +
          """ON CONFLICT ("k") DO UPDATE SET "v" = EXCLUDED."v""""
        val params = Seq(Some("a"), Some("1"), Some("b"), Some("2"),
          Some("c"), Some("3"))
        c.execute(upsert, params)
        // re-apply (the crashed-chunk retry): same terminal state
        c.execute(upsert, params)
        c.execute(upsert, Seq(Some("a"), Some("1*"), Some("b"), Some("2"),
          Some("c"), Some("3")))
        val rows = c.query("""SELECT * FROM "t" ORDER BY "k"""").head.rows
        assert(rows.map(_(1).get) == Vector("1*", "2", "3"))

        c.execute("""DELETE FROM "t" WHERE "k" IN ($1, $2)""",
          Seq(Some("a"), Some("c")))
        assert(c.query("""SELECT * FROM "t"""").head.rows.map(_.head.get)
          == Vector("b"))
      }
    }
  }

  test("managed DDL: ADD COLUMN IF NOT EXISTS, ALTER TYPE, lossy fallback") {
    withPg { pg =>
      withClient(pg) { c =>
        c.query("""CREATE TABLE "t" ("k" text NOT NULL, "v" text, PRIMARY KEY ("k"))""")
        c.query("""ALTER TABLE "t" ADD COLUMN IF NOT EXISTS "n" integer""")
        c.query("""ALTER TABLE "t" ADD COLUMN IF NOT EXISTS "n" integer""") // converges
        val dup = intercept[PgWire.PgErrorException] {
          c.query("""ALTER TABLE "t" ADD COLUMN "n" integer""")
        }
        assert(dup.sqlState == "42701")

        c.execute("""INSERT INTO "t" ("k", "v", "n") VALUES ($1, $2, $3)""",
          Seq(Some("a"), Some("12"), Some("7")))
        // castable text→bigint: in-place ALTER TYPE succeeds
        c.query("""ALTER TABLE "t" ALTER COLUMN "v" TYPE bigint""")
        assert(pg.table("t").get.cols("v").pgType == "bigint")
        // non-castable bigint→…: value 'x' fails the cast — the error
        // the reference's DROP+ADD fallback exists for (:1160-1186)
        c.execute("""INSERT INTO "t" ("k", "v") VALUES ($1, $2)""",
          Seq(Some("b"), None))
        c.query("""ALTER TABLE "t" ADD COLUMN "s" text""")
        c.execute("""INSERT INTO "t" ("k", "s") VALUES ($1, $2) """ +
          """ON CONFLICT ("k") DO UPDATE SET "s" = EXCLUDED."s"""",
          Seq(Some("b"), Some("not-a-number")))
        val badCast = intercept[PgWire.PgErrorException] {
          c.query("""ALTER TABLE "t" ALTER COLUMN "s" TYPE integer""")
        }
        assert(badCast.sqlState == "22P02")
      }
    }
  }

  test("pgvector: extension gate, dimension check, text roundtrip") {
    withPg { pg =>
      withClient(pg) { c =>
        // vector type requires the extension — 42704 before CREATE EXTENSION
        val noExt = intercept[PgWire.PgErrorException] {
          c.query("""CREATE TABLE "v" ("k" text NOT NULL, "e" vector(3), PRIMARY KEY ("k"))""")
        }
        assert(noExt.sqlState == "42704")
        c.query("CREATE EXTENSION IF NOT EXISTS vector")
        c.query("""CREATE TABLE "v" ("k" text NOT NULL, "e" vector(3), PRIMARY KEY ("k"))""")
        c.execute("""INSERT INTO "v" ("k", "e") VALUES ($1, $2)""",
          Seq(Some("a"), Some("[0.1,0.2,0.3]")))
        val badDim = intercept[PgWire.PgErrorException] {
          c.execute("""INSERT INTO "v" ("k", "e") VALUES ($1, $2)""",
            Seq(Some("b"), Some("[1,2]")))
        }
        assert(badDim.sqlState == "22000")
        val res = c.query("""SELECT "e" FROM "v"""").head
        assert(res.columns.head.oid == PgWire.OidVector)
        assert(res.rows.head.head.get == "[0.1,0.2,0.3]")
      }
    }
  }

  test("information_schema.columns reports the observed shape") {
    withPg { pg =>
      withClient(pg) { c =>
        c.query("CREATE EXTENSION IF NOT EXISTS vector")
        c.query("""CREATE TABLE "t" ("k" text NOT NULL, "n" integer, """ +
          """"e" vector(4), "m" numeric(12,2), PRIMARY KEY ("k"))""")
        val res = c.execute(
          "SELECT column_name, data_type, udt_name, character_maximum_length, " +
            "numeric_precision, numeric_scale FROM information_schema.columns " +
            "WHERE table_name = $1", Seq(Some("t")))
        val byName = res.rows.map(r => r(0).get -> (r(1).get, r(2).get)).toMap
        assert(byName("n") == (("integer", "int4")))
        // extension types surface as USER-DEFINED + udt_name — how a
        // real server reports pgvector
        assert(byName("e") == (("USER-DEFINED", "vector")))
        assert(byName("m")._1 == "numeric")
      }
    }
  }

  // ---- PgTableTarget ----------------------------------------------

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

  test("PgTableTarget: create, upsert, delete, rerun converges") {
    withPg { pg =>
      val target = PgTableTarget(pg.host, pg.port, "testdb", "chunks")
      val df1 = chunkDf(("1#0", 1L, 0, "alpha"), ("1#1", 1L, 1, "beta"),
        ("2#0", 2L, 0, "gamma"))
      target.apply(spark, df1, emptyKeys)
      val back1 = target.read(spark).orderBy("row_key").collect()
      assert(back1.map(_.getString(0)).toSeq == Seq("1#0", "1#1", "2#0"))
      assert(back1.head.getLong(1) == 1L)
      assert(back1.head.getInt(2) == 0)

      // re-apply the same delta (crash roll-forward): same state
      target.apply(spark, df1, emptyKeys)
      assert(target.read(spark).count() == 3)

      // update one, delete one
      val keys = spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(Row("2#0")), 1),
        StructType(Seq(StructField("row_key", StringType))))
      target.apply(spark, chunkDf(("1#1", 1L, 1, "beta*")), keys)
      val back2 = target.read(spark).orderBy("row_key").collect()
      assert(back2.map(r => (r.getString(0), r.getString(3))).toSeq ==
        Seq(("1#0", "alpha"), ("1#1", "beta*")))

      // the wire saw the reference's statement shapes (observed
      // truncates at 80 chars — the multi-row VALUES tail, incl. the
      // ON CONFLICT clause, is covered by the interpreter test above
      // and by the convergent rerun)
      val stmts = pg.observed.toArray.map(_.toString)
      assert(stmts.exists(_.startsWith("CREATE TABLE IF NOT EXISTS \"chunks\"")))
      assert(stmts.exists(_.startsWith("INSERT INTO \"chunks\"")))
      assert(stmts.exists(_.startsWith("DELETE FROM \"chunks\"")))
    }
  }

  test("PgTableTarget: ALTER ADD for new columns, lossy rebuild on type change") {
    withPg { pg =>
      val target = PgTableTarget(pg.host, pg.port, "testdb", "evolving")
      target.apply(spark, chunkDf(("1#0", 1L, 0, "alpha")), emptyKeys)
      assert(pg.table("evolving").get.cols.keySet ==
        Set("row_key", "doc_id", "chunk_idx", "chunk_text"))

      // new column appears via ALTER ADD; changed type goes through
      // ALTER TYPE (castable here: int→bigint renders as in-place)
      val schema2 = StructType(Seq(
        StructField("row_key", StringType),
        StructField("doc_id", LongType),
        StructField("chunk_idx", LongType), // was integer
        StructField("chunk_text", StringType),
        StructField("score", DoubleType))) // new
      val df2 = spark.createDataFrame(
        spark.sparkContext.parallelize(
          Seq(Row("1#0", 1L, 0L, "alpha", 0.5)), 1), schema2)
      target.apply(spark, df2, emptyKeys)
      val cols = pg.table("evolving").get.cols
      assert(cols("chunk_idx").pgType == "bigint")
      assert(cols("score").pgType == "double precision")

      // non-castable change (bigint→bytea): ALTER TYPE fails on the
      // stored values → DROP+ADD rebuild; the re-upsert refills
      val schema3 = StructType(Seq(
        StructField("row_key", StringType),
        StructField("doc_id", LongType),
        StructField("chunk_idx", LongType),
        StructField("chunk_text", BinaryType),
        StructField("score", DoubleType)))
      val df3 = spark.createDataFrame(
        spark.sparkContext.parallelize(
          Seq(Row("1#0", 1L, 0L, "alpha".getBytes("UTF-8"), 0.5)), 1), schema3)
      target.apply(spark, df3, emptyKeys)
      assert(pg.table("evolving").get.cols("chunk_text").pgType == "bytea")
      val back = target.read(spark).collect().head
      assert(new String(back.getAs[Array[Byte]]("chunk_text"), "UTF-8") == "alpha")
    }
  }

  test("PgTableTarget: pgvector column + ivfflat index DDL") {
    withPg { pg =>
      val schema = StructType(Seq(
        StructField("row_key", StringType),
        StructField("embedding", ArrayType(FloatType))))
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(
          Row("a", Seq(0.1f, 0.2f, 0.3f)),
          Row("b", Seq(0.4f, 0.5f, 0.6f))), 1), schema)
      val target = PgTableTarget(pg.host, pg.port, "testdb", "embs",
        vectorDims = Map("embedding" -> 3),
        vectorIndexes = Seq(PgVectorIndex("sem", "embedding")))
      target.apply(spark, df, emptyKeys)
      assert(pg.hasVectorExtension)
      assert(pg.table("embs").get.cols("embedding").pgType == "vector(3)")
      assert(pg.indexDefs.keySet.contains("embs__vector__sem"))
      assert(pg.indexDefs("embs__vector__sem")
        .contains("USING ivfflat (\"embedding\" vector_cosine_ops) WITH (lists = 100)"))
      val back = target.read(spark).orderBy("row_key").collect()
      // collect() surfaces arrays as mutable.ArraySeq — compare
      // structurally, not through an immutable.Seq cast
      assert(back.head.getAs[scala.collection.Seq[Float]]("embedding")
        .toSeq == Seq(0.1f, 0.2f, 0.3f))
    }
  }

  test("a delete-only apply against an absent table converges as a no-op") {
    withPg { pg =>
      val target = PgTableTarget(pg.host, pg.port, "testdb", "ghost")
      val keys = spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(Row("k1"), Row("k2")), 1),
        StructType(Seq(StructField("row_key", StringType))))
      val emptyUp = spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], chunkSchema)
      // the rows can't exist if the table doesn't — must not 42P01
      assert(target.apply(spark, emptyUp, keys) == TargetStats(0, 0))
      // an empty apply is converged too
      assert(target.apply(spark, emptyUp, emptyKeys) == TargetStats(0, 0))
      assert(pg.table("ghost").isEmpty)
      // nothing was created and then emptied: the wire never saw DDL
      // or a DELETE
      val stmts = pg.observed.toArray.map(_.toString)
      assert(!stmts.exists(_.startsWith("CREATE TABLE")), stmts.mkString("; "))
      assert(!stmts.exists(_.startsWith("DELETE")), stmts.mkString("; "))
    }
  }

  test("PgTableTarget: a mixed apply is one writer pass with measured stats") {
    withPg { pg =>
      val target = PgTableTarget(pg.host, pg.port, "testdb", "chunks")
      target.apply(spark, chunkDf(("1#0", 1L, 0, "alpha"),
        ("1#1", 1L, 1, "beta"), ("2#0", 2L, 0, "gamma")), emptyKeys)
      val keys = spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(Row("2#0")), 1),
        StructType(Seq(StructField("row_key", StringType))))
      // the table exists, so the apply is observe + ensure + ONE
      // key-partitioned pass over upserts ∪ delete keys. That pass is
      // 2 jobs (the repartition's map stage, then the writers); a
      // recount of the delta or a second writer pass adds at least one
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val counter = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(counter)
      val stats =
        try {
          val s = target.apply(spark,
            chunkDf(("1#1", 1L, 1, "beta*"), ("3#0", 3L, 0, "delta")), keys)
          Thread.sleep(300) // listener events drain asynchronously
          s
        } finally spark.sparkContext.removeSparkListener(counter)
      assert(stats == TargetStats(2, 1))
      info(s"mixed apply launched ${jobs.get} Spark jobs")
      assert(jobs.get <= 2, s"mixed apply launched ${jobs.get} Spark jobs")
      assert(target.read(spark).orderBy("row_key").collect()
        .map(r => (r.getString(0), r.getString(3))).toSeq ==
        Seq(("1#0", "alpha"), ("1#1", "beta*"), ("3#0", "delta")))
    }
  }

  test("timestamptz decode handles a real server's offset suffix") {
    // the fixture emits no offset, but a real timestamptz renders
    // "…+00" / "…-05:30" — both must decode to the same instant
    val base = PgTableTarget.decodeValue(
      Some("2024-01-01 12:00:00.123456"), PgWire.OidTimestamp)
      .asInstanceOf[java.sql.Timestamp]
    val utc = PgTableTarget.decodeValue(
      Some("2024-01-01 12:00:00.123456+00"), PgWire.OidTimestamptz)
      .asInstanceOf[java.sql.Timestamp]
    assert(base == utc)
    val offset = PgTableTarget.decodeValue(
      Some("2024-01-01 17:30:00.123456+05:30"), PgWire.OidTimestamptz)
      .asInstanceOf[java.sql.Timestamp]
    assert(offset == utc)
  }

  test("pgvector <=> serving: nearest-first, param LIMIT, dim check") {
    withPg { pg =>
      val schema = StructType(Seq(
        StructField("row_key", StringType),
        StructField("embedding", ArrayType(FloatType))))
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(
          Row("a", Seq(1f, 0f, 0f)),
          Row("b", Seq(0.9f, 0.1f, 0f)),
          Row("c", Seq(0f, 1f, 0f)),
          Row("d", Seq(-1f, 0f, 0f))), 1), schema)
      val target = PgTableTarget(pg.host, pg.port, "testdb", "vecs",
        vectorDims = Map("embedding" -> 3))
      target.apply(spark, df, emptyKeys)

      val top = target.knnQuery(spark, Seq(1f, 0f, 0f), k = 2).collect()
      assert(top.map(_.getString(0)).toSeq == Seq("a", "b"))
      assert(top.head.getDouble(1) == 0.0) // identical vector: distance 0
      assert(top(1).getDouble(1) > 0 && top(1).getDouble(1) < 0.1)

      // a mismatched query dimension fails like the extension does
      val bad = intercept[PgWire.PgErrorException] {
        target.knnQuery(spark, Seq(1f, 0f), k = 2).collect()
      }
      assert(bad.sqlState == "22000")
      // <=> on a non-vector column is an operator error
      val notVec = intercept[PgWire.PgErrorException] {
        PgTableTarget(pg.host, pg.port, "testdb", "vecs")
          .knnQuery(spark, Seq(1f, 0f, 0f), k = 2,
            vectorCol = "row_key").collect()
      }
      assert(notVec.sqlState == "42883")
    }
  }

  // ---- PgWireTableSource ------------------------------------------

  test("PgWireTableSource: partitioned scan, pushed-down delta, load") {
    withPg { pg =>
      withClient(pg) { c =>
        c.query("""CREATE TABLE "items" ("id" bigint NOT NULL, "name" text, """ +
          """"qty" integer, PRIMARY KEY ("id"))""")
        (1 to 97).foreach { i =>
          c.execute("""INSERT INTO "items" ("id", "name", "qty") VALUES ($1, $2, $3)""",
            Seq(Some(i.toString), Some(s"item-$i"), Some((i * 3).toString)))
        }
      }
      val src = PgWireTableSource(pg.host, pg.port, "testdb", "items", "id",
        numPartitions = 4)
      val listing = src.list(spark)
      assert(listing.count() == 97)
      assert(listing.columns.toSeq == Seq("item_key", "memo_state"))

      // the scan really was range-partitioned: >1 range SELECT hit the wire
      val rangeSelects = pg.observed.toArray.map(_.toString)
        .count(s => s.startsWith("SELECT \"id\", \"name\", \"qty\"")
          && s.contains(">="))
      assert(rangeSelects >= 1)

      // O(delta) re-stat: listKeys pushes WHERE IN over the wire
      pg.observed.clear()
      val delta = src.listKeys(spark, Seq("5", "17", "99"))
      assert(delta.count() == 2) // 99 does not exist → classified gone
      assert(pg.observed.toArray.map(_.toString)
        .exists(s => s.contains("WHERE \"id\" IN")))

      // load returns typed payload rows for exactly the asked keys
      val loaded = src.load(spark, Seq("5", "17")).orderBy("id").collect()
      assert(loaded.map(_.getAs[Long]("id")).toSeq == Seq(5L, 17L))
      assert(loaded.head.getAs[String]("name") == "item-5")
      assert(loaded.head.getAs[Int]("qty") == 15)
      assert(loaded.head.getAs[String]("item_key") == "5")
    }
  }

  test("COPY bulk path: one stage+COPY+upsert per partition; escaping") {
    withPg { pg =>
      val n = 50
      val rows = (0 until n).map { i =>
        val txt = i match {
          case 0 => "tab\there"
          case 1 => "line\nbreak \\ slash"
          case 2 => "cr\rreturn"
          case _ => s"text $i"
        }
        org.apache.spark.sql.Row(f"k$i%03d", txt,
          if (i == 3) null else java.lang.Long.valueOf(i.toLong))
      }
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toIndexedSeq, 2),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("row_key",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("txt",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("n",
            org.apache.spark.sql.types.LongType))))
      val target = PgTableTarget(pg.host, pg.port, "testdb", "bulked",
        writePartitions = 2) // copyBulk default ON
      val empty = df.select("row_key").limit(0)
      target.apply(spark, df, empty)

      val sql = pg.observed.toArray.map(_.toString)
      val copies = sql.count(_.startsWith("COPY \"bulked__stage_"))
      val stageUpserts = sql.count(s =>
        s.startsWith("INSERT INTO \"bulked\"") && s.contains("SELECT"))
      val rowInserts = sql.count(s =>
        s.startsWith("INSERT INTO \"bulked\"") && s.contains("VALUES"))
      assert(copies >= 1 && copies <= 2, s"COPY per partition: $copies")
      assert(stageUpserts == copies, "one upsert-from-stage per COPY")
      assert(rowInserts == 0, "no per-row/multi-row binds on the bulk path")
      assert(sql.count(_.startsWith("CREATE TEMPORARY TABLE")) == copies)
      assert(sql.count(_.startsWith("DROP TABLE IF EXISTS \"bulked__stage_"))
        == copies)

      // escaping round-trips bit-exact; NULL survives as NULL
      val back = target.read(spark).collect()
        .map(r => r.getString(0) -> ((r.getString(1), r.get(2)))).toMap
      assert(back.size == n)
      assert(back("k000")._1 == "tab\there")
      assert(back("k001")._1 == "line\nbreak \\ slash")
      assert(back("k002")._1 == "cr\rreturn")
      assert(back("k003")._2 == null)
      assert(back("k010")._2 == 10L)

      // convergence: re-apply updates in place through the stage
      target.apply(spark, df, empty)
      assert(target.read(spark).count() == n)
    }
  }

  test("PgWireTableSource: text keys keyset-walk boundaries, no O(n) rescans") {
    withPg { pg =>
      withClient(pg) { c =>
        c.query("""CREATE TABLE "docs" ("name" text NOT NULL, "v" text, """ +
          """PRIMARY KEY ("name"))""")
        (1 to 80).foreach { i =>
          c.execute("""INSERT INTO "docs" ("name", "v") VALUES ($1, $2)""",
            Seq(Some(f"doc$i%03d"), Some(s"value $i")))
        }
      }
      val src = PgWireTableSource(pg.host, pg.port, "testdb", "docs", "name",
        numPartitions = 4)
      pg.observed.clear()
      assert(src.list(spark).count() == 80)

      val probes = pg.observed.toArray.map(_.toString)
        .filter(s => s.startsWith("SELECT \"name\" FROM \"docs\"")
          && s.contains("OFFSET"))
      assert(probes.length == 3, s"expected 3 boundary probes: " +
        probes.mkString(" | "))
      // every probe jumps at most ONE stride (80/4 = 20): the keyset
      // walk never issues the growing absolute offsets (40, 60) that
      // rescan the table from the start
      val offsets = probes.flatMap(s =>
        """OFFSET (\d+)""".r.findFirstMatchIn(s).map(_.group(1).toInt))
      assert(offsets.forall(_ <= 20), s"offsets grew: ${offsets.toSeq}")
      // probes after the first resume from the previous cut
      assert(probes.count(_.contains("WHERE \"name\" > $1")) == 2,
        s"probes must keyset-resume: ${probes.mkString(" | ")}")

      // and the ranges actually cover the table exactly once: the
      // partitioned scan returned every key with no dupes (checked by
      // count above + distinct here)
      assert(src.list(spark).select("item_key").distinct().count() == 80)
    }
  }

  test("PgWireTableSource: listing fingerprints match TableSource semantics") {
    withPg { pg =>
      withClient(pg) { c =>
        c.query("""CREATE TABLE "kv" ("k" text NOT NULL, "v" text, PRIMARY KEY ("k"))""")
        c.execute("""INSERT INTO "kv" ("k", "v") VALUES ($1, $2)""",
          Seq(Some("a"), Some("one")))
      }
      val src = PgWireTableSource(pg.host, pg.port, "testdb", "kv", "k")
      val before = src.list(spark).collect().head.getString(1)
      // unchanged row → identical memo_state on re-list
      assert(src.list(spark).collect().head.getString(1) == before)
      withClient(pg) { c =>
        c.execute("""INSERT INTO "kv" ("k", "v") VALUES ($1, $2) """ +
          """ON CONFLICT ("k") DO UPDATE SET "v" = EXCLUDED."v"""",
          Seq(Some("a"), Some("two")))
      }
      assert(src.list(spark).collect().head.getString(1) != before)
    }
  }
}
