package graft.engine

import graft.SparkSpec
import graft.operators.Chunker
import graft.functions.HashEmbedder
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path}
import java.nio.charset.StandardCharsets

/** Golden state-transition tests for the incremental engine — the
  * shape of the reference's core suite
  * (python/tests/core/test_component_memo.py,
  * test_logic_change_detection.py, test_app_drop.py): run a
  * files→chunks→embeddings pipeline, assert the exact
  * cache-hit/recompute/insert/update/delete counters across reruns,
  * edits, touches, deletes, logic bumps, crashes and drop.
  */
/** Flaky "provider endpoint" shared across executor threads (same
  * JVM in local mode): serves one 429 before succeeding, and always
  * rejects POISON texts with a 400. */
object FlakyEndpoint {
  val rateLimitsServed = new java.util.concurrent.atomic.AtomicInteger(0)
  private val rateLimited = new java.util.concurrent.atomic.AtomicBoolean(false)
  def reset(): Unit = { rateLimitsServed.set(0); rateLimited.set(false) }
  def call(batch: Seq[(String, String)]): Seq[Int] = {
    if (rateLimited.compareAndSet(false, true)) {
      rateLimitsServed.incrementAndGet()
      throw Batching.ApiStatusException(429, "slow down")
    }
    if (batch.exists(_._2.contains("POISON")))
      throw Batching.ApiStatusException(400, "bad input")
    batch.map(_._2.length)
  }
}

class FlowSpec extends SparkSpec {

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

  /** The M2 slice (SURVEY.md §7.2): walk_dir(markdown) → chunk →
    * hash-embed → parquet table target. */
  private def chunkStage(version: Int, chunkSize: Int = 64) = CocoFn(
    "chunk", version, deps = Seq(s"size=$chunkSize"),
    fn = df => {
      val chunk = Chunker.chunkUdf(chunkSize, overlap = 8, language = "markdown")
      df.select(col("item_key"),
          explode(chunk(decode(col("content"), "UTF-8"))).as("c"))
        .select(col("item_key"),
          concat(col("item_key"), lit("#"), col("c.chunk_id")).as("row_key"),
          col("c.text").as("chunk_text"),
          col("c.start_char"), col("c.end_char"))
    })

  private val embedStage = CocoFn(
    "embed", 1, deps = Seq("dim=16"),
    fn = df => df.withColumn("embedding",
      HashEmbedder.embed(col("chunk_text"), 16)))

  private def mkFlow(srcDir: Path, targetDir: Path, stateDir: Path,
      chunkVersion: Int = 1, target: Target = null): Flow = {
    val t = Option(target).getOrElse(
      ParquetTableTarget(targetDir.toString, numBuckets = 4))
    new Flow("docs_index",
      LocalFsSource(srcDir.toString, Seq("**.md", "!**/skip/**")),
      Seq(chunkStage(chunkVersion), embedStage),
      t, stateDir.toString)
  }

  private def seed(src: Path): Unit = {
    write(src, "a.md", "# Alpha\n\n" + ("alpha content paragraph. " * 20))
    write(src, "sub/b.md", "# Bravo\n\n" + ("bravo content paragraph. " * 20))
    write(src, "c.md", "# Charlie\n\nshort.")
    write(src, "notes.txt", "not markdown — excluded by pattern")
    write(src, "skip/d.md", "excluded by negation pattern")
  }

  test("golden transition: cold run → warm noop → touch → edit → delete → logic bump") {
    val (src, tgt, st) = (tmpDir("flow-src"), tmpDir("flow-tgt"), tmpDir("flow-st"))
    seed(src)
    val flow = mkFlow(src, tgt, st)

    // ---- cold run: everything computes --------------------------------
    val r1 = flow.run(spark)
    assert(r1.components == 3, s"pattern matcher must keep 3 files: $r1")
    assert(r1.recomputed == 3 && r1.unchanged == 0 && r1.refreshed == 0)
    assert(r1.rowsInserted > 3 && r1.rowsUpdated == 0 && r1.rowsDeleted == 0)
    val cold = flow.target.read(spark)
    assert(cold.count() == r1.rowsInserted)
    // snapshot this count now: `cold` lazily re-lists target files, and
    // later applies rewrite them
    val coldBravoCount = cold.filter(col("item_key") === "sub/b.md").count()

    // ---- warm rerun: zero work, zero writes ---------------------------
    val r2 = flow.run(spark)
    assert(r2.isNoop, s"warm rerun must be a no-op: $r2")
    assert(r2.unchanged == 3)

    // ---- touch (mtime changes, content identical): refresh, no recompute
    val aPath = src.resolve("a.md")
    Files.setLastModifiedTime(aPath,
      java.nio.file.attribute.FileTime.fromMillis(
        Files.getLastModifiedTime(aPath).toMillis + 5000))
    val r3 = flow.run(spark)
    assert(r3.refreshed == 1 && r3.recomputed == 0, s"touch must refresh: $r3")
    assert(r3.rowsInserted == 0 && r3.rowsUpdated == 0 && r3.rowsDeleted == 0)

    // ---- edit one file: only its chunks recompute ---------------------
    write(src, "a.md", "# Alpha v2\n\n" + ("ALTERED alpha paragraph. " * 25))
    val r4 = flow.run(spark)
    assert(r4.recomputed == 1 && r4.unchanged == 2, s"edit must isolate: $r4")
    assert(r4.rowsInserted + r4.rowsUpdated + r4.rowsDeleted > 0)
    // all rows for unaffected files still present and identical
    val afterEdit = flow.target.read(spark)
    assert(afterEdit.filter(col("item_key") === "sub/b.md").count() ==
      coldBravoCount)
    // no stale a.md rows: target matches tracking exactly
    assert(afterEdit.filter(col("row_key").startsWith("a.md")).count() ==
      afterEdit.filter(col("item_key") === "a.md").count())

    // ---- delete a file: orphan GC removes exactly its rows ------------
    Files.delete(src.resolve("c.md"))
    val r5 = flow.run(spark)
    assert(r5.deletedComponents == 1 && r5.recomputed == 0, s"delete: $r5")
    assert(r5.rowsDeleted > 0 && r5.rowsInserted == 0)
    val afterDel = flow.target.read(spark)
    assert(afterDel.filter(col("item_key") === "c.md").count() == 0)

    // ---- logic bump: full recompute, but unchanged values are noops ---
    val flowV2 = mkFlow(src, tgt, st, chunkVersion = 2)
    val r6 = flowV2.run(spark)
    assert(r6.recomputed == 2 && r6.unchanged == 0, s"version bump: $r6")
    // same chunker params => identical rows => pure noop at the target
    assert(r6.rowsNoop > 0 && r6.rowsInserted == 0 && r6.rowsUpdated == 0 &&
      r6.rowsDeleted == 0)

    // ---- after the bump, the new logic fingerprint is memoized --------
    val r7 = flowV2.run(spark)
    assert(r7.isNoop, s"post-bump rerun must be a no-op: $r7")
  }

  test("content-addressed rows transfer ownership between components cleanly") {
    val (src, tgt, st) = (tmpDir("own-src"), tmpDir("own-tgt"), tmpDir("own-st"))
    def write(rel: String, text: String): Unit =
      Files.write(src.resolve(rel), text.getBytes(StandardCharsets.UTF_8))
    write("a.md", "shared-para")
    write("b.md", "only-b")
    // rows keyed by CONTENT, not by file: moving a paragraph between
    // files moves the row's owner
    val stage = CocoFn("content_rows", 1, fn = df =>
      df.select(col("item_key"),
        concat(lit("p:"), md5(col("content"))).as("row_key"),
        decode(col("content"), "UTF-8").as("para")))
    val flow = new Flow("own", LocalFsSource(src.toString, Seq("**.md")),
      Seq(stage), ParquetTableTarget(tgt.toString, 2), st.toString)
    flow.run(spark)
    assert(flow.target.read(spark).count() == 2)

    // move the shared paragraph from a.md to a NEW file c.md; a.md gets
    // fresh content. The row_key p:md5(shared-para) changes owner.
    write("a.md", "a-replacement")
    write("c.md", "shared-para")
    val r = flow.run(spark)
    assert(r.recomputed == 2, s"$r") // a.md edited + c.md new
    val tracked = flow.trackedRows(spark).collect()
      .map(r0 => r0.getString(1) -> r0.getString(0)).toMap // row_key -> owner
    val sharedKey = tracked.keys.find(_ != null).get // sanity
    // exactly one owner per row_key, and the shared paragraph belongs
    // to its new declarer
    assert(flow.trackedRows(spark).groupBy("row_key").count()
      .filter(col("count") > 1).count() == 0, "duplicate tracking owners")
    val owners = flow.trackedRows(spark).collect()
      .map(r0 => r0.getString(0)).toSet
    assert(owners == Set("a.md", "b.md", "c.md"))
    assert(flow.target.read(spark).count() == 3)
    // deleting the OLD owner must not delete the transferred row
    Files.delete(src.resolve("a.md"))
    flow.run(spark)
    assert(flow.target.read(spark).filter(col("para") === "shared-para")
      .count() == 1)
    assert(flow.run(spark).isNoop)
  }

  test("schema change triggers automatic full backfill without a version bump") {
    val (src, tgt, st) = (tmpDir("sc-src"), tmpDir("sc-tgt"), tmpDir("sc-st"))
    seed(src)
    val flow = mkFlow(src, tgt, st)
    flow.run(spark)
    assert(flow.run(spark).isNoop)

    // same stage versions, but the pipeline now declares an extra
    // column — the provider-generation analog must recompute everything
    val extra = CocoFn("extra", 1, fn = df =>
      df.withColumn("text_len", length(col("chunk_text"))))
    val evolved = new Flow("docs_index",
      LocalFsSource(src.toString, Seq("**.md", "!**/skip/**")),
      Seq(chunkStage(1), embedStage, extra),
      ParquetTableTarget(tgt.toString, numBuckets = 4), st.toString)
    val r = evolved.run(spark)
    assert(r.recomputed == 3 && r.unchanged == 0, s"schema change: $r")
    assert(r.rowsUpdated > 0, s"rows must rewrite with the new column: $r")
    assert(evolved.target.read(spark).columns.contains("text_len"))
    // and the evolved flow is memoized thereafter
    assert(evolved.run(spark).isNoop)
  }

  test("crash between target apply and state commit rolls forward convergently") {
    val (src, tgt, st) = (tmpDir("crash-src"), tmpDir("crash-tgt"), tmpDir("crash-st"))
    seed(src)
    val real = ParquetTableTarget(tgt.toString, numBuckets = 4)
    val flow = mkFlow(src, tgt, st)
    flow.run(spark) // healthy cold run

    write(src, "a.md", "# Alpha edited\n\n" + ("crash test paragraph. " * 25))

    // a target that applies for real, then dies before the engine can
    // commit state — simulating a crash in the window where targets
    // are ahead of tracking
    val crashing = new Target {
      def apply(s: SparkSession, up: DataFrame, del: DataFrame): TargetStats = {
        val st = real.apply(s, up, del)
        throw new RuntimeException("simulated crash after sink apply")
      }
      def read(s: SparkSession): DataFrame = real.read(s)
    }
    val crashFlow = mkFlow(src, tgt, st, target = crashing)
    intercept[RuntimeException](crashFlow.run(spark))

    // rerun with the healthy target: state still points at the old
    // snapshot, so the same delta is recomputed and re-applied
    // idempotently — target converges, no duplicates, stats re-report
    // the edit
    val r = flow.run(spark)
    assert(r.recomputed == 1, s"roll-forward must redo the edit: $r")
    val rows = flow.target.read(spark)
    assert(rows.groupBy("row_key").count().filter(col("count") > 1).count() == 0,
      "idempotent re-apply must not duplicate rows")
    // and a further rerun is a clean no-op
    assert(flow.run(spark).isNoop)
  }

  test("filenames containing glob metacharacters load correctly") {
    val (src, tgt, st) = (tmpDir("glob-src"), tmpDir("glob-tgt"), tmpDir("glob-st"))
    Files.write(src.resolve("report[2024].md"),
      "bracketed".getBytes(StandardCharsets.UTF_8))
    Files.write(src.resolve("plain.md"),
      "plain".getBytes(StandardCharsets.UTF_8))
    val stage = CocoFn("id", 1, fn = df =>
      df.select(col("item_key"),
        concat(col("item_key"), lit("#0")).as("row_key"),
        Source.textOf(col("content")).as("text")))
    val flow = new Flow("glob", LocalFsSource(src.toString, Seq("**.md")),
      Seq(stage), ParquetTableTarget(tgt.toString, 2), st.toString)
    val r = flow.run(spark)
    assert(r.recomputed == 2 && r.rowsInserted == 2, s"$r")
    assert(flow.target.read(spark).filter(col("text") === "bracketed")
      .count() == 1)
    assert(flow.run(spark).isNoop)
  }

  test("BOM'd files decode to the same rows as their BOM-less twins") {
    val (src, tgt, st) = (tmpDir("bom-src"), tmpDir("bom-tgt"), tmpDir("bom-st"))
    Files.write(src.resolve("plain.md"),
      "same content".getBytes(StandardCharsets.UTF_8))
    Files.write(src.resolve("bommed.md"),
      (Array[Byte](0xEF.toByte, 0xBB.toByte, 0xBF.toByte) ++
        "same content".getBytes(StandardCharsets.UTF_8)))
    val stage = CocoFn("text", 1, fn = df =>
      df.select(col("item_key"),
        concat(col("item_key"), lit("#0")).as("row_key"),
        Source.textOf(col("content")).as("text")))
    val flow = new Flow("bom", LocalFsSource(src.toString, Seq("**.md")),
      Seq(stage), ParquetTableTarget(tgt.toString, 2), st.toString)
    flow.run(spark)
    val texts = flow.target.read(spark).select("text").collect()
      .map(_.getString(0)).toSeq
    assert(texts == Seq("same content", "same content"),
      s"BOM leaked into decoded text: ${texts.map(_.length)}")
  }

  test("per-row failures route to the errors table, never the target") {
    val (src, tgt, st) = (tmpDir("err-src"), tmpDir("err-tgt"), tmpDir("err-st"))
    def write(rel: String, text: String): Unit =
      Files.write(src.resolve(rel), text.getBytes(StandardCharsets.UTF_8))
    write("ok.md", "fine content")
    write("bad.md", "POISON here")
    val parse = graft.functions.SafeUdf.tryUdf { s =>
      if (s.contains("POISON")) throw new IllegalStateException("unparseable")
      s.toUpperCase
    }
    val stage = CocoFn("parse", 1, fn = df =>
      df.withColumn("r", parse(decode(col("content"), "UTF-8")))
        .select(col("item_key"),
          concat(col("item_key"), lit("#0")).as("row_key"),
          col("r.result").as("parsed"), col("r.error").as("__error")))
    val flow = new Flow("errflow", LocalFsSource(src.toString, Seq("**.md")),
      Seq(stage), ParquetTableTarget(tgt.toString, 2), st.toString)

    val r1 = flow.run(spark)
    assert(r1.rowsFailed == 1 && r1.rowsInserted == 1, s"$r1")
    assert(flow.target.read(spark).count() == 1)
    val errs = flow.errors(spark).collect()
    assert(errs.length == 1 && errs.head.getString(0) == "bad.md")
    assert(errs.head.getString(2).contains("unparseable"))

    // fixing the file clears its error and lands the row
    write("bad.md", "healed content")
    val r2 = flow.run(spark)
    assert(r2.rowsFailed == 0 && r2.rowsInserted == 1, s"$r2")
    assert(flow.errors(spark).count() == 0)
    assert(flow.target.read(spark).count() == 2)
  }

  test("full reprocess recomputes everything but unchanged values are target noops") {
    val (src, tgt, st) = (tmpDir("fr-src"), tmpDir("fr-tgt"), tmpDir("fr-st"))
    seed(src)
    val flow = mkFlow(src, tgt, st)
    val cold = flow.run(spark)
    val r = flow.run(spark, fullReprocess = true)
    assert(r.recomputed == 3 && r.unchanged == 0, s"$r")
    assert(r.rowsNoop == cold.rowsInserted, s"$r")
    assert(r.rowsInserted == 0 && r.rowsUpdated == 0 && r.rowsDeleted == 0)
    assert(flow.run(spark).isNoop)
  }

  test("preview reports the pending delta without applying it") {
    val (src, tgt, st) = (tmpDir("pv-src"), tmpDir("pv-tgt"), tmpDir("pv-st"))
    seed(src)
    val flow = mkFlow(src, tgt, st)
    val p0 = flow.preview(spark).groupBy("pending_action").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(p0 == Map("compute" -> 3))
    flow.run(spark)
    val p1 = flow.preview(spark).groupBy("pending_action").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(p1 == Map("unchanged" -> 3))
    write(src, "a.md", "# changed")
    Files.delete(src.resolve("c.md"))
    val p2 = flow.preview(spark).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(p2("a.md") == "revalidate" && p2("c.md") == "delete" &&
      p2("sub/b.md") == "unchanged")
  }

  test("a managedBy flip under an identical schema persists, then settles") {
    val (src, tgt, st) = (tmpDir("flow-src"), tmpDir("flow-tgt"), tmpDir("flow-st"))
    seed(src)
    def flowAs(m: StateDiff.ManagedBy) = new Flow("docs_index",
      LocalFsSource(src.toString, Seq("**.md", "!**/skip/**")),
      Seq(chunkStage(1), embedStage),
      ParquetTableTarget(tgt.toString, numBuckets = 4), st.toString,
      managedBy = m)
    val store = new StateStore(spark, st.toString)
    def ownership: Seq[String] =
      store.read("target_state", StateStore.TargetStateSchema).collect()
        .map(_.getString(2)).toSeq

    flowAs(StateDiff.SystemManaged).run(spark)
    assert(ownership == Seq("system"))
    val v1 = store.currentVersion

    // same schema record, new owner: the flip alone must commit
    flowAs(StateDiff.UserManaged).run(spark)
    assert(store.currentVersion > v1, "the ownership flip was not committed")
    assert(ownership == Seq("user"))
    val v2 = store.currentVersion

    val r3 = flowAs(StateDiff.UserManaged).run(spark)
    assert(r3.isNoop, s"a rerun after the flip must be a no-op: $r3")
    assert(store.currentVersion == v2, "a no-op rerun must not commit")
    assert(ownership == Seq("user"))
  }

  test("drop reverts all target rows and clears state") {
    val (src, tgt, st) = (tmpDir("drop-src"), tmpDir("drop-tgt"), tmpDir("drop-st"))
    seed(src)
    val flow = mkFlow(src, tgt, st)
    val r1 = flow.run(spark)
    assert(flow.target.read(spark).count() == r1.rowsInserted)
    val dropped = flow.drop(spark)
    assert(dropped.deleted == r1.rowsInserted)
    assert(flow.target.read(spark).count() == 0)
    // after drop, a run is a fresh cold build
    val r2 = flow.run(spark)
    assert(r2.recomputed == 3 && r2.rowsInserted == r1.rowsInserted)
  }

  test("localfs dir target: managed files created, updated and deleted") {
    val (src, tgt, st) = (tmpDir("fs-src"), tmpDir("fs-tgt"), tmpDir("fs-st"))
    write(src, "x.md", "one two three")
    write(src, "y.md", "four five")
    // identity-ish stage: one output file per input file, uppercased
    val toUpper = CocoFn("upper", 1, fn = df =>
      df.select(col("item_key"),
        concat(col("item_key"), lit(".out")).as("row_key"),
        upper(decode(col("content"), "UTF-8")).cast("binary").as("content")))
    val flow = new Flow("mirror", LocalFsSource(src.toString, Seq("**.md")),
      Seq(toUpper), LocalFsDirTarget(tgt.toString), st.toString)
    flow.run(spark)
    assert(new String(Files.readAllBytes(tgt.resolve("x.md.out")),
      StandardCharsets.UTF_8) == "ONE TWO THREE")
    assert(Files.exists(tgt.resolve("y.md.out")))
    // update + delete propagate
    write(src, "x.md", "six")
    Files.delete(src.resolve("y.md"))
    val r = flow.run(spark)
    assert(r.recomputed == 1 && r.deletedComponents == 1)
    assert(new String(Files.readAllBytes(tgt.resolve("x.md.out")),
      StandardCharsets.UTF_8) == "SIX")
    assert(!Files.exists(tgt.resolve("y.md.out")))
  }

  test("deletion-only runs skip the stages: a fragile stage cannot crash GC") {
    val (src, tgt, st) = (tmpDir("fr-src"), tmpDir("fr-tgt"), tmpDir("fr-st"))
    write(src, "a.md", "alpha")
    write(src, "b.md", "bravo")
    // a stage that cannot run on empty input — the class declaredSchema
    // explicitly tolerates (degrading to stage-version tracking)
    val fragile = CocoFn("fragile", 1, fn = df => {
      if (df.isEmpty)
        throw new IllegalStateException("cannot run on empty input")
      df.select(col("item_key"), col("item_key").as("row_key"),
        length(Source.textOf(col("content"))).as("n"))
    })
    val flow = new Flow("fragile",
      LocalFsSource(src.toString, Seq("**.md")), Seq(fragile),
      ParquetTableTarget(tgt.toString, numBuckets = 2), st.toString)
    assert(flow.run(spark).rowsInserted == 2)

    // delete one file with nothing else changed: nChanged == 0, so the
    // stages must be skipped entirely — the GC path cannot depend on a
    // stage being runnable on empty input
    Files.delete(src.resolve("a.md"))
    val r = flow.run(spark)
    assert(r.deletedComponents == 1 && r.rowsDeleted == 1, s"$r")
    assert(ParquetTableTarget(tgt.toString, 2).read(spark)
      .select("row_key").collect().map(_.getString(0)).toSet == Set("b.md"))
    // and a touch-only (memo-refresh) run takes the same skip path
    val now = System.currentTimeMillis()
    Files.setLastModifiedTime(src.resolve("b.md"),
      java.nio.file.attribute.FileTime.fromMillis(now + 5000))
    val r2 = flow.run(spark)
    assert(r2.refreshed == 1 && r2.recomputed == 0, s"$r2")
  }

  test("taxonomy retry inside a stage: transients recover, poison routes to errors") {
    val (src, tgt, st) = (tmpDir("rt-src"), tmpDir("rt-tgt"), tmpDir("rt-st"))
    write(src, "a.md", "alpha")
    write(src, "b.md", "POISON")
    write(src, "c.md", "charlie")
    FlakyEndpoint.reset()

    // the production slot: a batched provider call under the full
    // error taxonomy, Lefts surfacing as __error rows the engine
    // routes to the errors table instead of the target
    val embed = CocoFn("flaky_embed", 1, fn = df => {
      val spark = df.sparkSession
      import spark.implicits._
      df.select(col("item_key"), Source.textOf(col("content")).as("text"))
        .as[(String, String)]
        .mapPartitions { rows =>
          val policy = Batching.RetryPolicy(sleep = _ => ())
          rows.grouped(4).flatMap { batch =>
            Batching.withTaxonomyRetry(batch, policy)(FlakyEndpoint.call)
              .zip(batch).map {
                case (Right(n), (k, _)) => (k, k, n, null: String)
                case (Left(e), (k, _))  => (k, k, 0, e.getMessage)
              }
          }
        }
        .toDF("item_key", "row_key", "embedded_len", "__error")
    })
    val flow = new Flow("rt",
      LocalFsSource(src.toString, Seq("**.md")), Seq(embed),
      ParquetTableTarget(tgt.toString, numBuckets = 2), st.toString)

    val r = flow.run(spark)
    assert(r.rowsFailed == 1 && r.rowsInserted == 2, s"$r")
    // the transient 429 was retried same-size, not split
    assert(FlakyEndpoint.rateLimitsServed.get() >= 1)
    val errs = flow.errors(spark).collect()
    assert(errs.length == 1 && errs.head.getString(0) == "b.md")
    assert(errs.head.getString(2).contains("400"))
    val served = ParquetTableTarget(tgt.toString, 2).read(spark)
      .select("row_key").collect().map(_.getString(0)).toSet
    assert(served == Set("a.md", "c.md"), "poison row must never reach the target")
  }

  test("LocalFsSource.listUnder walks only the named subtree") {
    val src = tmpDir("lu-src")
    write(src, "a/x.md", "one")
    write(src, "a/b/y.md", "two")
    write(src, "c/z.md", "three")
    val s = LocalFsSource(src.toString, Seq("**.md"))
    assert(s.listUnder(spark, Seq("a")).collect().map(_.getString(0)).toSet ==
      Set("a/x.md", "a/b/y.md"))
    assert(s.listUnder(spark, Seq("c/z.md")).collect().map(_.getString(0))
      .toSet == Set("c/z.md"))
    assert(s.listUnder(spark, Seq("missing")).count() == 0)
    assert(s.listUnder(spark, Nil).count() == 0)
    // overlapping prefixes (nested dirs, dir + file inside it) must
    // not duplicate listing rows — the reconcile requires uniqueness
    val overlapped = s.listUnder(spark, Seq("a", "a/b", "a/x.md"))
      .collect().map(_.getString(0))
    assert(overlapped.sorted.toSeq == Seq("a/b/y.md", "a/x.md"))
  }

  test("two-level mount: deleting a parent GCs its children by stable-path prefix") {
    val (src, stA, stB) = (tmpDir("nest-src"), tmpDir("nest-stA"), tmpDir("nest-stB"))
    val (tgtA, tgtB) = (tmpDir("nest-tgtA"), tmpDir("nest-tgtB"))
    // a section title containing '/' must NOT fake a deeper path —
    // the StablePath segment encoding is what prevents it
    write(src, "a.md", "## one\nalpha one\n## two/x\nalpha two")
    write(src, "b.md", "## solo\nbravo solo")

    // level 1: file components declare child rows keyed
    // StablePath(file, section) — the mount_each-inside-mount_each
    // keyspace (reference stable_path.rs:273)
    val sectionize = udf((text: String) =>
      text.split("(?m)^## ").toSeq.filter(_.nonEmpty).map { s =>
        val parts = s.split("\n", 2)
        (parts(0).trim, if (parts.length > 1) parts(1).trim else "")
      })
    val sections = CocoFn("sections", 1, fn = df => df
      .select(col("item_key"),
        explode(sectionize(Source.textOf(col("content")))).as("s"))
      .select(col("item_key"),
        StablePath.childCol(col("item_key"), col("s._1")).as("row_key"),
        col("s._2").as("sec_text")))
    val parent = new Flow("nest_parent",
      LocalFsSource(src.toString, Seq("**.md")), Seq(sections),
      ParquetTableTarget(tgtA.toString, numBuckets = 4), stA.toString)

    // level 2: each section row is a component of its own (item_key =
    // the stable path), chained off the parent's target table
    val upperStage = CocoFn("upper", 1, fn = df => df
      .select(col("item_key"), col("item_key").as("row_key"),
        upper(col("sec_text")).as("out")))
    val child = new Flow("nest_child",
      TableSource(sp => ParquetTableTarget(tgtA.toString, 4).read(sp)
        .select(col("row_key"), col("sec_text")), keyCol = "row_key"),
      Seq(upperStage),
      ParquetTableTarget(tgtB.toString, numBuckets = 4), stB.toString)

    assert(parent.run(spark).components == 2)
    val cold = child.run(spark)
    assert(cold.components == 3 && cold.rowsInserted == 3)
    val keys = ParquetTableTarget(tgtB.toString, 4).read(spark)
      .select("row_key").collect().map(_.getString(0)).toSet
    assert(keys == Set("a.md/one", "a.md/two%2Fx", "b.md/solo"))
    // the encoded segment round-trips and stays OUT of a.md/two's subtree
    assert(StablePath.split("a.md/two%2Fx") == Seq("a.md", "two/x"))
    assert(!StablePath.isUnder("a.md/two%2Fx", "a.md/two"))

    // delete the parent file: the child flow GCs exactly that subtree,
    // via a PREFIX-scoped delta (no full re-list of the child source)
    Files.delete(src.resolve("a.md"))
    assert(parent.run(spark).deletedComponents == 1)
    val gc = child.runDeltaPrefix(spark, Seq("a.md"))
    assert(gc.deletedComponents == 2 && gc.unchanged == 1, s"$gc")
    assert(ParquetTableTarget(tgtB.toString, 4).read(spark)
      .select("row_key").collect().map(_.getString(0)).toSet ==
      Set("b.md/solo"))

    // scoping: a change OUTSIDE the prefix is invisible to the
    // prefix-scoped run (survivors keep their stored memo state)...
    write(src, "b.md", "## solo\nbravo solo EDITED")
    assert(parent.run(spark).recomputed == 1)
    assert(child.runDeltaPrefix(spark, Seq("a.md")).isNoop)
    // ...and the next full run catches it up
    val full = child.run(spark)
    assert(full.recomputed == 1 && full.rowsUpdated == 1, s"$full")
  }
}
