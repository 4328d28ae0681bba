package graft.streaming

import graft.SparkSpec
import graft.engine._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path}
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicInteger

object LiveWatchSpec {
  /** Static so executor closures in local mode share it. */
  val listCalls = new AtomicInteger(0)
}

/** Push-based live mode: a tick over an unchanged corpus does zero
  * listing work, a changed tick costs O(delta) — the reference's
  * `_LiveDirItems` watch loop (localfs/_source.py:198-280) rebuilt on
  * `java.nio.file.WatchService`. The core assertion is structural:
  * `Source.list` (the full walk) is never called again after the
  * initial scan.
  */
class LiveWatchSpec extends SparkSpec {
  import LiveWatchSpec.listCalls

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

  /** Counts full-listing calls; delegates everything else. */
  private case class CountingSource(inner: LocalFsSource)
      extends Source with WatchableSource {
    def list(spark: SparkSession): DataFrame = {
      listCalls.incrementAndGet(); inner.list(spark)
    }
    def load(spark: SparkSession, keys: DataFrame): DataFrame =
      inner.load(spark, keys)
    def contentFpOf: Option[Column] = inner.contentFpOf
    override def listKeys(spark: SparkSession, keys: Seq[String]): DataFrame =
      inner.listKeys(spark, keys)
    def watch(): SourceWatcher = inner.watch()
  }

  private def mkFlow(src: Path, tgt: Path, st: Path): Flow = {
    val stage = CocoFn("text", 1, fn = df =>
      df.select(col("item_key"),
        concat(col("item_key"), lit("#0")).as("row_key"),
        Source.textOf(col("content")).as("text")))
    new Flow("live", CountingSource(LocalFsSource(src.toString, Seq("**.md"))),
      Seq(stage), ParquetTableTarget(tgt.toString, 2), st.toString)
  }

  /** Drain until `want` keys accumulate (events are asynchronous). */
  private def drainUntil(w: SourceWatcher, want: Int, timeoutMs: Long = 15000)
      : (Seq[String], Boolean) = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var acc = Vector.empty[String]
    var overflow = false
    while (acc.distinct.size < want && System.currentTimeMillis() < deadline) {
      val (d, of) = w.drain()
      acc ++= d; overflow ||= of
      if (acc.distinct.size < want) Thread.sleep(100)
    }
    (acc.distinct, overflow)
  }

  test("delta ticks never re-walk the corpus: create, edit, touch, delete via events") {
    val (src, tgt, st) = (tmpDir("lw-src"), tmpDir("lw-tgt"), tmpDir("lw-st"))
    write(src, "a.md", "alpha")
    write(src, "b.md", "bravo")
    // pin a known millisecond mtime so the spurious-event case below
    // can restore it exactly
    val t0 = (System.currentTimeMillis() / 1000) * 1000 - 10000
    Files.setLastModifiedTime(src.resolve("a.md"),
      java.nio.file.attribute.FileTime.fromMillis(t0))

    val flow = mkFlow(src, tgt, st)
    val watcher = LocalFsSource(src.toString, Seq("**.md")).watch()
    try {
      listCalls.set(0)
      val cold = flow.run(spark)
      assert(cold.recomputed == 2 && listCalls.get() == 1)
      watcher.drain() // discard any events from our own setup writes

      // ---- create one + edit one: the tick costs O(2), no full list --
      write(src, "c.md", "charlie")
      write(src, "b.md", "bravo v2")
      val (d1, of1) = drainUntil(watcher, 2)
      assert(d1.toSet == Set("c.md", "b.md") && !of1, s"got $d1")
      val r1 = flow.runDelta(spark, d1)
      assert(r1.components == 3 && r1.recomputed == 2 && r1.unchanged == 1,
        s"delta run must see 1 survivor + 2 changed: $r1")
      assert(r1.rowsInserted == 1 && r1.rowsUpdated == 1, s"$r1")
      assert(listCalls.get() == 1, "a delta tick must NOT re-list the corpus")

      // ---- spurious event, file byte- and mtime-identical: pure no-op.
      // This pins listKeys' stat format to list()'s memo_state exactly —
      // a mismatch would misclassify the unchanged file as changed
      write(src, "a.md", "alpha")
      Files.setLastModifiedTime(src.resolve("a.md"),
        java.nio.file.attribute.FileTime.fromMillis(t0))
      val (d2, _) = drainUntil(watcher, 1)
      assert(d2.contains("a.md"))
      val r2 = flow.runDelta(spark, d2)
      assert(r2.isNoop && r2.unchanged == 3,
        s"identical re-stat must classify unchanged: $r2")

      // ---- delete propagates as a gone component -----------------------
      Files.delete(src.resolve("c.md"))
      // the spurious write's attribute event can land after d2 was
      // drained: keep draining until the delete itself is reported
      val d3 = Iterator.continually(drainUntil(watcher, 1)._1).take(10)
        .scanLeft(Seq.empty[String])(_ ++ _).find(_.contains("c.md"))
        .getOrElse(Nil)
      assert(d3.contains("c.md"))
      val r3 = flow.runDelta(spark, d3)
      assert(r3.deletedComponents == 1 && r3.rowsDeleted == 1, s"$r3")
      assert(flow.target.read(spark).filter(col("item_key") === "c.md")
        .count() == 0)

      assert(listCalls.get() == 1,
        s"full listing ran ${listCalls.get()} times; only the cold run may list")
    } finally watcher.close()
  }

  test("files in a newly created subdirectory are watched and reported") {
    val src = tmpDir("lw-sub")
    write(src, "seed.md", "seed")
    val watcher = LocalFsSource(src.toString, Seq("**.md")).watch()
    try {
      // create a directory, then a file inside it — the watcher must
      // register the new directory and surface the file either via the
      // registration walk or its own event
      Files.createDirectories(src.resolve("fresh/deeper"))
      Thread.sleep(300)
      write(src, "fresh/deeper/x.md", "in a new dir")
      val (d, _) = drainUntil(watcher, 1)
      assert(d.contains("fresh/deeper/x.md"), s"got $d")
    } finally watcher.close()
  }

  test("a deleted watched directory forces a full-rescan flag") {
    val src = tmpDir("lw-del")
    write(src, "gone/x.md", "doomed")
    val watcher = LocalFsSource(src.toString, Seq("**.md")).watch()
    try {
      Files.delete(src.resolve("gone/x.md"))
      Files.delete(src.resolve("gone"))
      val deadline = System.currentTimeMillis() + 15000
      var overflow = false
      while (!overflow && System.currentTimeMillis() < deadline) {
        overflow = watcher.drain()._2
        if (!overflow) Thread.sleep(100)
      }
      assert(overflow,
        "deleting a watched directory must request a full rescan")
    } finally watcher.close()
  }

  test("runLiveWatched end-to-end: one full scan, then event-driven ticks") {
    val (src, tgt, st) = (tmpDir("lwq-src"), tmpDir("lwq-tgt"), tmpDir("lwq-st"))
    write(src, "a.md", "alpha")
    val flow = mkFlow(src, tgt, st)
    listCalls.set(0)
    val seen = new java.util.concurrent.LinkedBlockingQueue[RunStats]()
    val q = flow.runLiveWatched(spark, "1 second", s => seen.put(s))
    try {
      // first tick: the full cold scan
      val first = seen.poll(60, java.util.concurrent.TimeUnit.SECONDS)
      assert(first != null && first.recomputed == 1, s"$first")

      // a new file lands: some later tick reports exactly one recompute
      write(src, "b.md", "bravo")
      val deadline = System.currentTimeMillis() + 60000
      var caught: RunStats = null
      while (caught == null && System.currentTimeMillis() < deadline) {
        val s = seen.poll(1, java.util.concurrent.TimeUnit.SECONDS)
        if (s != null && s.recomputed == 1 && s.components == 2) caught = s
      }
      assert(caught != null, "the new file must be picked up by a delta tick")
      assert(caught.rowsInserted == 1, s"$caught")
      assert(listCalls.get() == 1,
        s"only the first tick may list; got ${listCalls.get()}")
      assert(flow.target.read(spark).count() == 2)
    } finally {
      q.stop()
    }
  }
}
