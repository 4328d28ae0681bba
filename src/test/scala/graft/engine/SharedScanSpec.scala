package graft.engine

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** [[SharedScanSource]]: co-sourced flows inside a begin/end cycle
  * pay ONE listing scan and (within the pushdown bound) one load per
  * corpus snapshot; outside a cycle the wrapper is a pass-through and
  * can never serve a stale cache.
  */
class SharedScanSpec extends SparkSpec {

  private def writeBase(dir: String, n: Int, salt: String = ""): Unit = {
    import spark.implicits._
    (1 to n).map(i => (i.toLong, s"v$i$salt")).toDF("id", "v")
      .write.mode("overwrite").parquet(dir)
  }

  private def flowOver(src: Source, name: String, root: java.nio.file.Path,
      outCol: String) =
    new Flow(name, src,
      Seq(CocoFn(name, 1, fn = df => df.select(col("item_key"),
        col("item_key").as("row_key"), col("v").as(outCol)))),
      ParquetTableTarget(root.resolve(s"t_$name").toString, 2),
      root.resolve(s"s_$name").toString)

  test("two co-sourced flows in a cycle share listing and load scans") {
    val root = Files.createTempDirectory("shared-scan")
    val base = root.resolve("base").toString
    val n = 50
    writeBase(base, n)
    val acc = spark.sparkContext.longAccumulator("rows-touched")
    val touch = udf { (_: Long) => acc.add(1); true }.asNondeterministic()
    val shared = new SharedScanSource(TableSource(
      s => s.read.parquet(base).filter(touch(col("id"))), keyCol = "id"))
    val a = flowOver(shared, "a", root, "va")
    val b = flowOver(shared, "b", root, "vb")

    // bracketed cold build: both flows, one listing + one load
    acc.reset()
    shared.beginCycle()
    try { a.run(spark); b.run(spark) } finally shared.endCycle()
    val cycleTouched = acc.value.toLong

    // unbracketed baseline on fresh state: pass-through, each flow
    // pays its own listing + load
    val root2 = Files.createTempDirectory("shared-scan-2")
    val a2 = flowOver(shared, "a2", root2, "va")
    val b2 = flowOver(shared, "b2", root2, "vb")
    acc.reset()
    a2.run(spark); b2.run(spark)
    val soloTouched = acc.value.toLong

    assert(cycleTouched < soloTouched,
      s"cycle touched $cycleTouched rows, solo $soloTouched")
    assert(cycleTouched <= (soloTouched * 6) / 10,
      s"expected ~half the corpus traffic: $cycleTouched vs $soloTouched")

    // identical commits either way
    def vals(p: String) = ParquetTableTarget(p).read(spark)
      .select("row_key").collect().map(_.getString(0)).toSet
    assert(vals(root.resolve("t_a").toString) ==
      vals(root2.resolve("t_a2").toString))

    // noop refresh in a cycle: one listing scan total
    acc.reset()
    shared.beginCycle()
    try {
      assert(a.run(spark).isNoop && b.run(spark).isNoop)
    } finally shared.endCycle()
    assert(acc.value.toLong <= n, s"noop cycle touched ${acc.value} rows")
  }

  test("a new cycle sees corpus edits (no stale cache across cycles)") {
    val root = Files.createTempDirectory("shared-scan-edit")
    val base = root.resolve("base").toString
    writeBase(base, 10)
    val shared = new SharedScanSource(TableSource(
      s => s.read.parquet(base), keyCol = "id"))
    val a = flowOver(shared, "a", root, "va")
    val b = flowOver(shared, "b", root, "vb")
    shared.beginCycle()
    try { a.run(spark); b.run(spark) } finally shared.endCycle()

    writeBase(base, 10, salt = "x") // edit every row
    shared.beginCycle()
    val (ra, rb) =
      try (a.run(spark), b.run(spark)) finally shared.endCycle()
    assert(ra.recomputed == 10 && rb.recomputed == 10, s"$ra / $rb")
    assert(ParquetTableTarget(root.resolve("t_a").toString).read(spark)
      .filter(col("va").endsWith("x")).count() == 10)
  }

  test("production seam: ivf + fts index flows share one corpus scan") {
    import graft.operators.{Fts, Similarity}
    import spark.implicits._
    val root = Files.createTempDirectory("shared-ivf-fts")
    val base = root.resolve("base").toString
    val words = Seq("alpha", "beta", "gamma", "delta")
    (1 to 40).map(i => (s"d$i",
        s"${words(i % 4)} ${words((i + 1) % 4)} document number $i",
        Array.tabulate(8)(j => (i * 31 + j).toFloat / 100f)))
      .toDF("id", "text", "emb")
      .write.mode("overwrite").parquet(base)

    val acc = spark.sparkContext.longAccumulator("corpus-rows-touched")
    val touch = udf { (_: String) => acc.add(1); true }.asNondeterministic()
    def corpus(sp: org.apache.spark.sql.SparkSession) =
      sp.read.parquet(base).filter(touch(col("id")))

    def build(tag: String, src: Option[Source]) = {
      val fts = Fts.ftsFlow(spark, s"ss_fts_$tag", corpus,
        root.resolve(s"fts_$tag").toString,
        root.resolve(s"fts_state_$tag").toString,
        idCol = "id", textCol = "text", sourceOverride = src)
      val ivf = Similarity.ivfFlow(spark, s"ss_ivf_$tag", corpus,
        root.resolve(s"ivf_$tag").toString,
        root.resolve(s"ivf_state_$tag").toString,
        nCells = 2, idCol = "id", embCol = "emb", sourceOverride = src)
      (fts, ivf)
    }

    // bracketed: the exact Cli `index` shape — one shared source,
    // both flows inside one cycle
    val shared = new SharedScanSource(TableSource(corpus, keyCol = "id"))
    val (ftsA, ivfA) = build("a", Some(shared))
    acc.reset()
    SharedScanSource.cycle(shared) {
      assert(!ftsA.run(spark).isNoop)
      assert(!ivfA.run(spark).isNoop)
    }
    val cycleTouched = acc.value.toLong

    // unbracketed baseline on fresh state: each flow re-scans
    val (ftsB, ivfB) = build("b", None)
    acc.reset()
    ftsB.run(spark); ivfB.run(spark)
    val soloTouched = acc.value.toLong
    assert(cycleTouched < soloTouched,
      s"cycle touched $cycleTouched rows, solo $soloTouched")

    // identical indexes either way
    def postings(tag: String) =
      ParquetTableTarget(root.resolve(s"fts_$tag").toString + "/postings")
        .read(spark).select("row_key", "tf").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(postings("a") == postings("b"))

    // a quiet bracketed refresh is noop for both at one listing scan
    acc.reset()
    SharedScanSource.cycle(shared) {
      assert(ftsA.run(spark).isNoop && ivfA.run(spark).isNoop)
    }
    assert(acc.value.toLong <= 40, s"noop cycle touched ${acc.value}")
  }

  test("outside a cycle the wrapper is a strict pass-through") {
    val root = Files.createTempDirectory("shared-scan-solo")
    val base = root.resolve("base").toString
    writeBase(base, 5)
    val shared = new SharedScanSource(TableSource(
      s => s.read.parquet(base), keyCol = "id"))
    val a = flowOver(shared, "a", root, "va")
    assert(!a.run(spark).isNoop)
    writeBase(base, 5, salt = "y")
    // no cycle was opened around the edit: the next run must see it
    assert(a.run(spark).recomputed == 5)
  }
}
