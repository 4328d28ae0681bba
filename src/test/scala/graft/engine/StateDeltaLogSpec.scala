package graft.engine

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path}
import java.nio.charset.StandardCharsets

/** The state store's delta-segment log: a changing run's snapshot
  * commit must write O(changed rows) — one small segment per touched
  * family — never a rewrite of the metadata-scale base tables (the
  * known per-run cost VERDICT r10 mandated closing; the reference
  * pays O(delta) LMDB page writes per commit, state_store/txn.rs).
  * Read-side: base + segments merge latest-wins with tombstones;
  * segment pile-ups compact back to a single base.
  */
class StateDeltaLogSpec extends SparkSpec {

  private def tmpDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit()
    d
  }

  private def write(dir: Path, rel: String, text: String): Unit = {
    val f = dir.resolve(rel)
    Files.createDirectories(f.getParent)
    Files.write(f, text.getBytes(StandardCharsets.UTF_8))
  }

  private def trackingRow(k: String, fp: String): Row = Row(k, k, fp)

  private def mkTracking(rows: Seq[Row]) =
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava),
      StateStore.TrackingSchema)

  test("delta commit: upserts shadow, tombstones delete, history links") {
    val root = tmpDir("dlog")
    val st = new StateStore(spark, root.toString)
    st.commit(Map("tracking" -> mkTracking(
      (1 to 5).map(i => trackingRow(s"r$i", "v1")))))

    st.commitTables(Map("tracking" -> StateStore.Delta(
      mkTracking(Seq(trackingRow("r2", "v2"))),
      mkTracking(Seq(trackingRow("r5", "x"))).select("row_key"))))

    val back = st.read("tracking", StateStore.TrackingSchema)
      .collect().map(r => r.getString(1) -> r.getString(2)).toMap
    assert(back == Map("r1" -> "v1", "r2" -> "v2", "r3" -> "v1", "r4" -> "v1"))

    // the base table carried forward as hard links (same inodes)
    val v = st.currentVersion
    def inodes(p: Path): Set[Long] =
      Files.walk(p).filter(Files.isRegularFile(_)).toArray
        .map(x => Files.getAttribute(x.asInstanceOf[Path], "unix:ino")
          .asInstanceOf[Long]).toSet
    val prevBase = inodes(root.resolve(s"v=${v - 1}").resolve("tracking"))
    val curBase = inodes(root.resolve(s"v=$v").resolve("tracking"))
    assert(prevBase == curBase, "base must be hard-linked, not rewritten")

    // a key deleted and re-upserted in ONE commit survives (upsert
    // wins), and a repeated tombstone deletes once
    st.commitTables(Map("tracking" -> StateStore.Delta(
      mkTracking(Seq(trackingRow("r3", "v3"))),
      mkTracking(Seq(trackingRow("r3", "x"), trackingRow("r4", "x"),
        trackingRow("r4", "x"))).select("row_key"))))
    val back2 = st.read("tracking", StateStore.TrackingSchema)
      .collect().map(r => r.getString(1) -> r.getString(2)).toMap
    assert(back2 == Map("r1" -> "v1", "r2" -> "v2", "r3" -> "v3"))
    assert(st.readWhere("tracking", StateStore.TrackingSchema,
      org.apache.spark.sql.functions.col("row_key").isin("r3", "r4"))
      .collect().map(r => r.getString(1) -> r.getString(2)).toMap ==
      Map("r3" -> "v3"))
  }

  test("segments compact back to one base past MaxSegments") {
    val root = tmpDir("dlogc")
    val st = new StateStore(spark, root.toString)
    st.commit(Map("tracking" -> mkTracking(Seq(trackingRow("base", "v0")))))
    (1 to StateStore.MaxSegments + 1).foreach { i =>
      st.commitTables(Map("tracking" -> StateStore.Delta(
        mkTracking(Seq(trackingRow(s"k$i", s"v$i"))),
        mkTracking(Nil).select("row_key"))))
    }
    val v = st.currentVersion
    val dirs = Option(root.resolve(s"v=$v").toFile.listFiles())
      .getOrElse(Array.empty).map(_.getName).filter(_.startsWith("tracking"))
    assert(dirs.toSeq == Seq("tracking"),
      s"expected a single compacted base, got ${dirs.mkString(",")}")
    assert(st.read("tracking", StateStore.TrackingSchema).count() ==
      StateStore.MaxSegments + 2L)
  }

  test("a sustained edit loop keeps segments bounded and reads exact") {
    val n = 40
    val src = tmpDir("dlloop"); val state = tmpDir("dlloop-st")
    val tgt = tmpDir("dlloop-t")
    (1 to n).foreach(i => write(src, f"d$i%02d.md", s"doc $i v0"))
    val flow = new Flow("dl_loop",
      LocalFsSource(src.toString, Seq("**.md")),
      Seq(CocoFn("ident", 1, Nil, df => df.select(col("item_key"),
        col("item_key").as("row_key"),
        length(col("content")).as("len")))),
      ParquetTableTarget(tgt.toString, numBuckets = 4), state.toString)
    flow.run(spark)

    // 25 one-file edit ticks: the LSM trigger must keep the physical
    // segment count bounded (compactions fold them back) while every
    // read stays exact
    (1 to 25).foreach { t =>
      write(src, f"d${(t % n) + 1}%02d.md", s"doc ${(t % n) + 1} v$t")
      val r = flow.run(spark)
      assert(r.recomputed == 1, s"tick $t: $r")
    }
    val st = new StateStore(spark, state.toString)
    val v = st.currentVersion
    val segCounts = Option(state.resolve(s"v=$v").toFile.listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.contains(StateStore.SegSep))
      .groupBy(f => f.getName.takeWhile(_ != '@')).view.mapValues(_.length)
    segCounts.foreach { case (table, c) =>
      assert(c <= StateStore.HardMaxSegments,
        s"$table accumulated $c segments — compaction never fired")
    }
    assert(flow.componentMemo(spark).count() == n)
    assert(flow.target.read(spark).count() == n)
    // and the final contents reflect the LAST writes exactly
    val len25 = s"doc ${(25 % n) + 1} v25".length
    assert(flow.target.read(spark)
      .filter(col("row_key") === f"d${(25 % n) + 1}%02d.md")
      .select("len").collect().head.getInt(0) == len25)
  }

  test("a 1-file edit writes O(changed) state rows, not O(components)") {
    val n = 120
    val src = tmpDir("dlsrc"); val state = tmpDir("dlstate")
    val tgt = tmpDir("dltgt")
    (1 to n).foreach(i => write(src, f"doc$i%03d.md", s"# doc $i\ncontent $i"))
    val flow = new Flow("dlog_flow",
      LocalFsSource(src.toString, Seq("**.md")),
      Seq(CocoFn("ident", 1, Nil, df => df.select(col("item_key"),
        col("item_key").as("row_key"),
        length(col("content")).as("n")))),
      ParquetTableTarget(tgt.toString, numBuckets = 4), state.toString)

    val cold = flow.run(spark)
    assert(cold.recomputed == n)

    // edit ONE file; the commit must add only small delta segments
    write(src, "doc001.md", "# doc 1\nEDITED content")
    val edit = flow.run(spark)
    assert(edit.recomputed == 1 && edit.unchanged == n - 1)

    val st = new StateStore(spark, state.toString)
    val v = st.currentVersion
    val vdir = state.resolve(s"v=$v")
    // only segments NEW in this version count as the edit's write
    // volume — prior segments carry forward as hard links
    val prevNames = Option(state.resolve(s"v=${v - 1}").toFile.listFiles())
      .getOrElse(Array.empty).map(_.getName).toSet
    val segDirs = Option(vdir.toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.contains(StateStore.SegSep) &&
        !prevNames.contains(f.getName))
    assert(segDirs.nonEmpty, "the edit run must commit delta segments")
    val segRows = segDirs.map(d => spark.read.parquet(d.getPath).count()).sum
    assert(segRows <= 4,
      s"edit of 1 of $n components wrote $segRows state rows — not O(changed)")

    // the untouched memo/tracking bases are hard links of the previous
    // version's files (metadata-only carry-forward)
    def inodes(p: Path): Set[Long] =
      Files.walk(p).filter(Files.isRegularFile(_)).toArray
        .map(x => Files.getAttribute(x.asInstanceOf[Path], "unix:ino")
          .asInstanceOf[Long]).toSet
    Seq("component_memo", "tracking").foreach { t =>
      val prev = state.resolve(s"v=${v - 1}").resolve(t)
      val cur = vdir.resolve(t)
      assert(Files.exists(cur) && inodes(prev) == inodes(cur),
        s"$t base must carry forward hard-linked")
    }

    // merged reads stay correct: memo covers all n, the edited row won
    assert(flow.componentMemo(spark).count() == n)
    assert(flow.target.read(spark).filter(col("row_key") === "doc001.md")
      .select("n").collect().head.getInt(0) ==
      "# doc 1\nEDITED content".length)

    // deletion: gone component tombstones out of memo + tracking
    Files.delete(src.resolve("doc002.md"))
    val del = flow.run(spark)
    assert(del.deletedComponents == 1 && del.rowsDeleted == 1)
    assert(flow.componentMemo(spark).count() == n - 1)
    assert(flow.trackedRows(spark).filter(col("row_key") === "doc002.md")
      .isEmpty)
    // and a no-op rerun stays a no-op (no phantom resurrections)
    val noop = flow.run(spark)
    assert(noop.isNoop && noop.unchanged == n - 1)
  }

  test("row-count sidecar stays exact across every commit kind") {
    val root = tmpDir("dlcnt")
    val st = new StateStore(spark, root.toString)
    // first commit → footer recount
    st.commit(Map("tracking" -> mkTracking(
      (1 to 5).map(i => trackingRow(s"r$i", "v1")))))
    assert(st.rowCount("tracking").contains(5L))
    // delta WITH a declared exact delta → advances
    st.commitTables(Map("tracking" -> StateStore.Delta(
      mkTracking(Seq(trackingRow("r6", "v1"), trackingRow("r2", "v2"))),
      mkTracking(Seq(trackingRow("r5", "x"))).select("row_key"))),
      countDeltas = Map("tracking" -> 0L)) // +1 new −1 gone
    assert(st.rowCount("tracking").contains(5L))
    // delta WITHOUT a declared delta → invalidates, never lies
    st.commitTables(Map("tracking" -> StateStore.Delta(
      mkTracking(Seq(trackingRow("r7", "v1"))),
      mkTracking(Nil).select("row_key"))))
    assert(st.rowCount("tracking").isEmpty,
      "an undeclared delta must invalidate the count, not guess")
    // declared deltas on an ABSENT count stay absent (no guessing)…
    st.commitTables(Map("tracking" -> StateStore.Delta(
      mkTracking(Seq(trackingRow("r8", "v1"))),
      mkTracking(Nil).select("row_key"))),
      countDeltas = Map("tracking" -> 1L))
    assert(st.rowCount("tracking").isEmpty)
    // …until the next compaction re-derives it exactly from footers,
    // after which declared deltas advance it again
    (1 to StateStore.MaxSegments + 1).foreach { i =>
      st.commitTables(Map("tracking" -> StateStore.Delta(
        mkTracking(Seq(trackingRow(s"k$i", s"v$i"))),
        mkTracking(Nil).select("row_key"))),
        countDeltas = Map("tracking" -> 1L))
    }
    val expected = st.read("tracking", StateStore.TrackingSchema).count()
    assert(st.rowCount("tracking").contains(expected),
      s"compaction must restore the exact count $expected, got " +
        st.rowCount("tracking"))
  }

  test("readWhere equals read-then-filter on a multi-segment table") {
    val root = tmpDir("dlwhere")
    val st = new StateStore(spark, root.toString)
    st.commit(Map("tracking" -> mkTracking(
      (1 to 20).map(i => trackingRow(f"r$i%02d", "v1")))))
    // several segments: updates, a tombstone, re-inserts
    st.commitTables(Map("tracking" -> StateStore.Delta(
      mkTracking(Seq(trackingRow("r03", "v2"), trackingRow("r21", "v1"))),
      mkTracking(Seq(trackingRow("r05", "x"))).select("row_key"))))
    st.commitTables(Map("tracking" -> StateStore.Delta(
      mkTracking(Seq(trackingRow("r03", "v3"), trackingRow("r05", "v9"))),
      mkTracking(Seq(trackingRow("r21", "x"))).select("row_key"))))
    val pred = col("item_key").isin("r03", "r05", "r21", "r99")
    val got = st.readWhere("tracking", StateStore.TrackingSchema, pred)
      .collect().map(r => r.getString(1) -> r.getString(2)).toSet
    val want = st.read("tracking", StateStore.TrackingSchema).filter(pred)
      .collect().map(r => r.getString(1) -> r.getString(2)).toSet
    assert(got == want && got == Set("r03" -> "v3", "r05" -> "v9"),
      s"readWhere must merge latest-wins below the filter: $got")
  }
}
