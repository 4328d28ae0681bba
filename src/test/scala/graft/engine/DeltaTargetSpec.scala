package graft.engine

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** The delta-log mode of [[ParquetTableTarget]] — the LSM layout that
  * makes flow-maintained index upkeep O(delta) in write bytes instead
  * of wholesale touched-bucket rewrites. The load-bearing contracts:
  * value-equivalence with the copy-on-write mode under any apply
  * sequence, O(delta) physical writes, latest-wins (incl. the
  * same-apply upsert+delete tie the copy-on-write path resolves to
  * "present"), convergent crash behavior via commit markers, and
  * fold-into-base compaction that changes nothing a reader sees. */
class DeltaTargetSpec extends graft.SparkSpec {

  private def tmp(): java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory("graft-delta-tgt")
    p.toFile.deleteOnExit()
    p
  }

  private def rows(kv: (String, Int)*): DataFrame = {
    import spark.implicits._
    kv.toSeq.toDF("row_key", "v")
  }

  private def keys(ks: String*): DataFrame = {
    import spark.implicits._
    ks.toSeq.toDF("row_key")
  }

  private def contents(t: ParquetTableTarget): Set[(String, Int)] =
    t.read(spark).select("row_key", "v").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet

  private def filesUnder(dir: java.io.File): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else Seq(f)
    walk(dir).filter(_.getName.endsWith(".parquet"))
  }

  private def segDirs(dir: String): Seq[java.io.File] =
    Option(new java.io.File(dir, "delta").listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("seg=")).toSeq

  private def genDirs(dir: String): Seq[java.io.File] =
    Option(new java.io.File(dir, "base").listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("g=")).toSeq

  test("value-equivalent to copy-on-write under an apply sequence") {
    val work = tmp()
    val cow = ParquetTableTarget(work.resolve("cow").toString, numBuckets = 4)
    val dlt = ParquetTableTarget(work.resolve("dlt").toString, numBuckets = 4,
      deltaLog = true, maxDeltaSegments = 3) // consolidation fires mid-sequence
    // (upserts, deleteKeys) steps: bootstrap, update+insert, delete,
    // re-insert after delete, same-apply upsert+delete of one key,
    // no-op, delete of a never-present key
    val steps: Seq[(Seq[(String, Int)], Seq[String])] = Seq(
      (Seq("a" -> 1, "b" -> 2, "c" -> 3), Nil),
      (Seq("b" -> 20, "d" -> 4), Nil),
      (Nil, Seq("a")),
      (Seq("a" -> 100), Nil),
      (Seq("c" -> 30), Seq("c")), // tie: copy-on-write keeps the upsert
      (Nil, Nil),
      (Nil, Seq("zzz")))
    steps.foreach { case (up, del) =>
      val u = rows(up: _*); val d = keys(del: _*)
      cow.apply(spark, u, d)
      dlt.apply(spark, u, d)
      assert(contents(dlt) == contents(cow))
    }
    assert(contents(dlt) ==
      Set("a" -> 100, "b" -> 20, "c" -> 30, "d" -> 4))
  }

  test("an apply appends O(delta) bytes and never touches the base") {
    val work = tmp()
    val dir = work.resolve("t").toString
    val t = ParquetTableTarget(dir, numBuckets = 4, deltaLog = true)
    import spark.implicits._
    val base = (1 to 5000).map(i => (s"k$i", i)).toDF("row_key", "v")
    t.apply(spark, base, keys())
    val baseFiles = filesUnder(new java.io.File(dir, "base"))
      .map(f => (f.getPath, f.lastModified(), f.length()))
    val baseBytes = baseFiles.map(_._3).sum
    assert(baseFiles.nonEmpty && segDirs(dir).isEmpty)

    t.apply(spark, rows("k1" -> -1), keys("k2"))
    // exactly one committed segment; base files byte-identical
    assert(segDirs(dir).size == 1)
    assert(filesUnder(new java.io.File(dir, "base"))
      .map(f => (f.getPath, f.lastModified(), f.length())) == baseFiles)
    val segBytes = filesUnder(segDirs(dir).head).map(_.length()).sum
    assert(segBytes * 20 < baseBytes,
      s"segment $segBytes B should be tiny next to base $baseBytes B")
    // and the merged view reflects the delta
    val m = contents(t)
    assert(m.contains("k1" -> -1) && !m.exists(_._1 == "k2") &&
      m.size == 4999)
  }

  test("latest-wins across segments; count consolidates, compact folds") {
    val work = tmp()
    val dir = work.resolve("t").toString
    val t = ParquetTableTarget(dir, numBuckets = 2,
      deltaLog = true, maxDeltaSegments = 4)
    t.apply(spark, rows("x" -> 1, "y" -> 1), keys())      // base g=0
    t.apply(spark, rows("x" -> 2), keys())                // seg 0
    t.apply(spark, rows(), keys("x"))                     // seg 1: tombstone
    t.apply(spark, rows("x" -> 3), keys("y"))             // seg 2
    assert(contents(t) == Set("x" -> 3))
    assert(segDirs(dir).size == 3 && genDirs(dir).size == 1)
    // 4th segment hits maxDeltaSegments → CONSOLIDATE (tier 0→1), not
    // fold: the base generation is untouched (a count-triggered fold
    // would cost O(base) every maxDeltaSegments applies — linear in
    // the corpus); the four segments merge into one
    t.apply(spark, rows("z" -> 9), keys())
    assert(segDirs(dir).size == 1, "fresh segments consolidated into one")
    assert(new java.io.File(segDirs(dir).head, "_graft_consolidated")
      .exists(), "the merged segment carries the consolidated marker")
    assert(genDirs(dir).size == 1 && genDirs(dir).head.getName == "g=0",
      "the base generation is byte-untouched by consolidation")
    // y's tombstone must SURVIVE consolidation — whether y exists in
    // the base is unknowable without reading it, and consolidation
    // never reads the base; dropping the tombstone would resurrect y
    assert(contents(t) == Set("x" -> 3, "z" -> 9))
    // explicit compaction folds everything into a fresh generation
    t.compact(spark)
    assert(segDirs(dir).isEmpty, "segments folded")
    assert(genDirs(dir).size == 1 &&
      genDirs(dir).head.getName != "g=0", "one fresh base generation")
    assert(contents(t) == Set("x" -> 3, "z" -> 9))
  }

  test("tiered consolidation: consolidated segments merge with ALL live ones") {
    // the tier-1 trigger must include fresh segments in the merge: a
    // fresh segment with an interleaved id can hold a NEWER row for a
    // key than an older consolidated segment, and a consolidated-only
    // merge output would outrank it by segment id — serving stale data
    val work = tmp()
    val dir = work.resolve("t").toString
    val t = ParquetTableTarget(dir, numBuckets = 2, deltaLog = true,
      maxDeltaSegments = 2, minFoldBytes = Long.MaxValue,
      maxDeltaBytes = Long.MaxValue)
    t.apply(spark, rows("a" -> 1, "b" -> 1), keys())        // base g=0
    t.apply(spark, rows("a" -> 2), keys())                  // seg
    t.apply(spark, rows("b" -> 2), keys())                  // seg → consol #1
    assert(segDirs(dir).count(d =>
      new java.io.File(d, "_graft_consolidated").exists()) == 1)
    t.apply(spark, rows("a" -> 3), keys())                  // seg
    t.apply(spark, rows("b" -> 3), keys())                  // seg → consol #2
    // two consolidated segments now live → tier-1 merge fires on the
    // next maintenance, folding ALL live segments into one
    t.apply(spark, rows("c" -> 1), keys())                  // seg + tier-1
    val segs = segDirs(dir)
    assert(segs.size == 1 && new java.io.File(segs.head,
      "_graft_consolidated").exists(),
      s"tier-1 merge must leave one consolidated segment, got $segs")
    assert(genDirs(dir).size == 1 && genDirs(dir).head.getName == "g=0",
      "the base generation is never touched by consolidation")
    assert(contents(t) == Set("a" -> 3, "b" -> 3, "c" -> 1))
  }

  test("proportional fold: delta reaching foldRatio x base folds into a new base") {
    import spark.implicits._
    val work = tmp()
    val dir = work.resolve("t").toString
    val t = ParquetTableTarget(dir, numBuckets = 2, deltaLog = true,
      maxDeltaSegments = 100, maxDeltaBytes = Long.MaxValue,
      foldRatio = 0.25, minFoldBytes = 1L)
    t.apply(spark, (1 to 4000).map(i => (s"k$i", i)).toDF("row_key", "v"),
      keys())
    // a delta tiny relative to the base accumulates
    t.apply(spark, rows("k1" -> -1), keys())
    assert(segDirs(dir).size == 1, "sub-ratio delta accumulates")
    // a delta comparable to the base triggers the proportional fold
    t.apply(spark,
      (1 to 4000).map(i => (s"n$i", i)).toDF("row_key", "v"), keys())
    assert(segDirs(dir).isEmpty,
      "delta at foldRatio x base must fold despite both absolute " +
        "triggers being far off")
    assert(contents(t).size == 8000 && contents(t).contains("k1" -> -1))
  }

  test("merged read switches to the bloom-prefiltered plan past maxBroadcastKeys") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    def flatten(p: SparkPlan): Seq[SparkPlan] = {
      val extra = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: QueryStageExec => Seq(s.plan)
        case _ => Nil
      }
      p +: (p.children ++ extra).flatMap(flatten)
    }
    import spark.implicits._
    val work = tmp()
    val dir = work.resolve("t").toString
    // a fat table under the proportional trigger can hold far more
    // superseded keys than any broadcast should carry — force the
    // switch low and assert the base never rides a broadcast-anti
    val t = ParquetTableTarget(dir, numBuckets = 4, deltaLog = true,
      maxDeltaSegments = 100, maxDeltaBytes = Long.MaxValue,
      minFoldBytes = Long.MaxValue, maxBroadcastKeys = 10L)
    t.apply(spark, (1 to 3000).map(i => (s"k$i", i)).toDF("row_key", "v"),
      keys())
    t.apply(spark,
      (1 to 500).map(i => (s"k$i", -i)).toDF("row_key", "v"),
      keys((3001 to 3050).map(i => s"k$i"): _*) // vacuous deletes
    )
    val df = t.read(spark)
    val got = df.select("row_key", "v").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet
    val expected = ((1 to 500).map(i => (s"k$i", -i)) ++
      (501 to 3000).map(i => (s"k$i", i))).toSet
    assert(got == expected, "bloom-path read must be value-exact")
    df.collect()
    val nodes = flatten(df.queryExecution.executedPlan)
    // the two-branch bloom shape: the base is scanned twice (the
    // bloom-negative branch serves with no join at all; only the
    // bloom-positive sliver reaches the anti-join), and the key set
    // must NOT ride a broadcast-anti against the full base — that is
    // exactly the plan this path exists to avoid
    val baseScans = nodes.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.toString.contains("/base/") => s
    }
    assert(baseScans.size >= 2,
      s"expected the two-branch bloom merge (got ${baseScans.size} " +
        s"base scans):\n" +
        df.queryExecution.executedPlan.toString.take(3000))
    assert(nodes.collect {
      case j: BroadcastHashJoinExec
          if j.joinType.toString.toLowerCase.contains("anti") => j
    }.isEmpty,
      "past maxBroadcastKeys the superseded-key set must not " +
        "broadcast-anti against the base:\n" +
        df.queryExecution.executedPlan.toString.take(3000))
    assert(nodes.collect {
      case j: SortMergeJoinExec
          if j.joinType.toString.toLowerCase.contains("anti") => j
    }.nonEmpty, "the bloom-positive sliver anti-joins by sort-merge")
    // the same container read under the broadcast profile agrees
    val broad = ParquetTableTarget(dir, numBuckets = 4, deltaLog = true)
      .read(spark).select("row_key", "v").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet
    assert(broad == expected)
  }

  test("unmarked (crashed) segment is invisible and swept; replay converges") {
    val work = tmp()
    val dir = work.resolve("t").toString
    val t = ParquetTableTarget(dir, numBuckets = 2, deltaLog = true)
    t.apply(spark, rows("a" -> 1), keys())
    t.apply(spark, rows("b" -> 2), keys())
    // simulate a crash: a segment directory without its commit marker
    val dead = new java.io.File(dir, "delta/seg=99")
    rows("c" -> 3).withColumn("bucket", lit(0))
      .write.partitionBy("bucket").mode(SaveMode.Overwrite)
      .parquet(dead.getPath)
    assert(contents(t) == Set("a" -> 1, "b" -> 2), "unmarked seg invisible")
    // the next apply sweeps it, then lands its own segment
    t.apply(spark, rows("d" -> 4), keys())
    assert(!dead.exists(), "crash leftover swept")
    assert(contents(t) == Set("a" -> 1, "b" -> 2, "d" -> 4))
    // re-applying an already-applied delta converges (idempotent)
    t.apply(spark, rows("d" -> 4), keys())
    assert(contents(t) == Set("a" -> 1, "b" -> 2, "d" -> 4))
  }

  test("schema evolution: a later apply may add columns") {
    import spark.implicits._
    val work = tmp()
    val t = ParquetTableTarget(work.resolve("t").toString, numBuckets = 2,
      deltaLog = true)
    t.apply(spark, rows("a" -> 1), keys())
    t.apply(spark,
      Seq(("b", 2, "extra")).toDF("row_key", "v", "note"), keys())
    val got = t.read(spark).select("row_key", "v", "note").collect()
      .map(r => (r.getString(0), r.getInt(1), Option(r.getString(2))))
      .toSet
    assert(got == Set(("a", 1, None), ("b", 2, Some("extra"))))
    // compaction carries the widened schema
    t.compact(spark)
    val after = t.read(spark).select("row_key", "v", "note").collect()
      .map(r => (r.getString(0), r.getInt(1), Option(r.getString(2))))
      .toSet
    assert(after == got)
  }

  test("compacting an all-tombstoned table leaves a readable empty table") {
    val work = tmp()
    val t = ParquetTableTarget(work.resolve("t").toString, numBuckets = 2,
      deltaLog = true, maxDeltaSegments = 100)
    t.apply(spark, rows("a" -> 1, "b" -> 2), keys())
    t.apply(spark, rows(), keys("a", "b"))
    assert(contents(t).isEmpty)
    t.compact(spark)
    assert(contents(t).isEmpty)
    // and it comes back to life on a later apply
    t.apply(spark, rows("c" -> 3), keys())
    assert(contents(t) == Set("c" -> 3))
  }

  test("merged read: base side anti-joins a BROADCAST key set, no base exchange") {
    // r16 verdict #2: left to statistics, accumulated segments past
    // the auto-broadcast threshold would sort-merge and EXCHANGE the
    // corpus-sized base on every read. The plan must carry the
    // explicit broadcast regardless of segment statistics.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    def flatten(p: SparkPlan): Seq[SparkPlan] = {
      val extra = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: QueryStageExec => Seq(s.plan)
        case _ => Nil
      }
      p +: (p.children ++ extra).flatMap(flatten)
    }
    val work = tmp()
    val dir = work.resolve("t").toString
    val t = ParquetTableTarget(dir, numBuckets = 4, deltaLog = true,
      maxDeltaSegments = 100)
    import spark.implicits._
    t.apply(spark, (1 to 3000).map(i => (s"k$i", i)).toDF("row_key", "v"),
      keys())
    t.apply(spark, rows("k1" -> -1, "k9" -> -9), keys("k2"))
    val df = t.read(spark)
    df.collect() // finalize the adaptive plan before inspecting it
    val nodes = flatten(df.queryExecution.executedPlan)
    val anti = nodes.collect {
      case j: BroadcastHashJoinExec
          if j.joinType.toString.toLowerCase.contains("anti") => j
    }
    assert(anti.nonEmpty,
      s"base side must broadcast-anti-join the superseded keys:\n" +
        df.queryExecution.executedPlan.toString.take(3000))
    val baseSide = flatten(anti.head.left)
    assert(baseSide.collect { case e: ShuffleExchangeExec => e }.isEmpty,
      "the base (streamed) side of the anti join must not shuffle:\n" +
        anti.head.left.toString.take(2000))
  }

  test("byte-based compaction trigger folds large segments early") {
    // r16 verdict #2: compaction keyed on segment COUNT alone lets a
    // few LARGE applies accumulate a superseded-key set past what the
    // read's broadcast should carry — the byte trigger bounds it.
    import spark.implicits._
    val work = tmp()
    val dir = work.resolve("t").toString
    val t = ParquetTableTarget(dir, numBuckets = 2, deltaLog = true,
      maxDeltaSegments = 100, maxDeltaBytes = 10000L)
    t.apply(spark, rows("a" -> 1), keys())  // base g=0
    t.apply(spark, rows("b" -> 2), keys())  // tiny seg, under the bytes
    assert(segDirs(dir).size == 1, "tiny segment accumulates")
    // a large apply pushes live segment bytes past maxDeltaBytes
    t.apply(spark,
      (1 to 2000).map(i => (s"big$i", i)).toDF("row_key", "v"), keys())
    assert(segDirs(dir).isEmpty,
      "byte trigger must fold despite the count trigger being far off")
    assert(contents(t).size == 2002 && contents(t).contains("a" -> 1))
  }

  test("layout mismatch between handle and disk fails loudly") {
    val work = tmp()
    val dir = work.resolve("t").toString
    ParquetTableTarget(dir, numBuckets = 2)
      .apply(spark, rows("a" -> 1), keys())
    val e1 = intercept[IllegalStateException] {
      ParquetTableTarget(dir, numBuckets = 2, deltaLog = true)
        .apply(spark, rows("b" -> 2), keys())
    }
    assert(e1.getMessage.contains("copy-on-write"))
    val dir2 = work.resolve("t2").toString
    ParquetTableTarget(dir2, numBuckets = 2, deltaLog = true)
      .apply(spark, rows("a" -> 1), keys())
    val e2 = intercept[IllegalStateException] {
      ParquetTableTarget(dir2, numBuckets = 2)
        .apply(spark, rows("b" -> 2), keys())
    }
    assert(e2.getMessage.contains("delta-log"))
    // reads auto-detect: both handles read the delta-log dir fine
    assert(ParquetTableTarget(dir2, numBuckets = 2).read(spark)
      .count() == 1)
  }

  /** Jobs launched while building `body`'s DataFrame, counted by job
    * group. A sentinel job closes the group: listener events arrive in
    * order, so once the sentinel is visible every earlier job is too. */
  private def jobsWhile[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"graft-read-plan-${System.nanoTime}"
    sc.setJobGroup(group, "build a target read")
    val (out, sentinel) =
      try {
        val o = body
        val f = sc.parallelize(Seq(1), 1).countAsync()
        f.get()
        (o, f.jobIds.head)
      } finally sc.clearJobGroup()
    val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
    while (!sc.statusTracker.getJobIdsForGroup(group).contains(sentinel) &&
      System.nanoTime < deadline) Thread.sleep(20)
    val ids = sc.statusTracker.getJobIdsForGroup(group)
    assert(ids.contains(sentinel), s"sentinel job $sentinel never reported")
    (out, ids.length - 1)
  }

  test("reads use the _schema.json sidecar: no inference job, same rows") {
    import spark.implicits._
    val work = tmp()
    val dir = work.resolve("t").toString
    val t = ParquetTableTarget(dir, numBuckets = 2, deltaLog = true,
      maxDeltaSegments = 100)
    t.apply(spark, rows("a" -> 1, "b" -> 2, "c" -> 3), keys()) // base
    t.apply(spark, rows("a" -> 10), keys("b"))                  // segment
    t.apply(spark,                                              // segment
      Seq(("d", 4, "extra")).toDF("row_key", "v", "note"), keys())
    assert(genDirs(dir).size == 1 && segDirs(dir).size == 2)
    def got(df: DataFrame) = df.select("row_key", "v", "note", "bucket")
      .collect().map(r =>
        (r.getString(0), r.getInt(1), Option(r.getString(2)), r.getInt(3)))
      .toSet

    val (read, jobs) = jobsWhile(t.read(spark))
    assert(jobs == 0, s"building the merged read launched $jobs Spark jobs")
    val rowsRead = got(read)
    assert(rowsRead.map(r => (r._1, r._2, r._3)) == Set(("a", 10, None),
      ("c", 3, None), ("d", 4, Some("extra"))))

    // without its sidecar (as written before the sidecar existed) the
    // container reads through footer inference — same rows
    java.nio.file.Files.delete(java.nio.file.Paths.get(dir, "_schema.json"))
    val (inferred, inferJobs) = jobsWhile(t.read(spark))
    assert(inferJobs > 0, "the inference path is expected to read footers")
    assert(got(inferred) == rowsRead)

    // the copy-on-write layout reads through the sidecar the same way
    val cowDir = work.resolve("cow").toString
    val cow = ParquetTableTarget(cowDir, numBuckets = 2)
    cow.apply(spark, rows("a" -> 1, "b" -> 2), keys())
    cow.apply(spark,
      Seq(("c", 3, "extra")).toDF("row_key", "v", "note"), keys("b"))
    val (cowRead, cowJobs) = jobsWhile(cow.read(spark))
    assert(cowJobs == 0, s"building the copy-on-write read launched $cowJobs jobs")
    assert(got(cowRead).map(r => (r._1, r._2, r._3)) ==
      Set(("a", 1, None), ("c", 3, Some("extra"))))
  }
}
