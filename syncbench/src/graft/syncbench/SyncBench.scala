package graft.syncbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.engine.FsUtil

/** The incremental-sync benchmark: for one workload, time the first
  * build of an index, catch-up passes over a pending delta and passes
  * where nothing changed, checking every pass against the delta the
  * generator planted and the final target against Transform(source).
  *
  * Closed loop, one client: the generator mutates the source between
  * passes, outside the timed region, and the next pass starts when the
  * previous one returns.
  *
  * usage: SyncBench --workload W --seed N --seconds S --trace 0|1
  *                  --work DIR --out FILE [--cpus C]
  */
object SyncBench {

  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: File, out: File, cpus: Int)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", new File(need("work")), new File(need("out")),
      m.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()))
  }

  /** Set-ups per run (session start, corpus, peer, engine objects):
    * the last one is kept, the median is reported. */
  private val Setups = 3
  final case class PassLog(kind: String, tick: Int, secs: Double,
      traced: Boolean, result: PassResult, layers: Map[String, Double],
      digest: String)

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val w = Workload(o.workload)
    o.work.mkdirs()
    val t0 = System.nanoTime()
    val setup, cold, update, noop = mutable.ArrayBuffer.empty[Double]
    val tracedUpdate, untracedUpdate = mutable.ArrayBuffer.empty[Double]
    val log = mutable.ArrayBuffer.empty[PassLog]
    var finalError: Option[String] = None
    var spark: SparkSession = null
    var rep: Replica = null

    def startSession(): SparkSession = {
      val s = GraftSession.configure(SparkSession.builder()
        .master(s"local[${o.cpus}]").appName(s"syncbench-${w.name}")
        .config("spark.local.dir", new File(o.work, "spark").getPath), o.cpus)
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      if (o.trace) s.sparkContext.addSparkListener(Trace.Listener)
      s
    }

    def pass(kind: String, tick: Int, traced: Boolean)
        (body: => PassResult): PassLog = {
      val probe = if (traced) Some(new LayerProbe(spark, rep, o.cpus)) else None
      Trace.enabled = traced
      val ts = System.nanoTime()
      val res =
        try Trace.span(spark, s"pass.$kind")(body)
        catch {
          case e: Exception =>
            PassResult(Some(s"$kind pass threw: $e"), 0, 0, "threw")
        }
      val secs = (System.nanoTime() - ts) / 1e9
      val layers = probe.map(_.finish(secs, res)).getOrElse(Map.empty)
      Trace.enabled = false
      val digest = if (o.trace) rep.inputsDigest() else ""
      val l = PassLog(kind, tick, secs, traced, res, layers, digest)
      log += l
      res.error.foreach(e => System.err.println(s"[syncbench] FAILED $e"))
      l
    }

    try {
      for (_ <- 0 until Setups) {
        if (rep != null) { rep.close(); rep = null }
        if (spark != null) spark.stop()
        FsUtil.deleteRecursively(new File(o.work, "replica"))
        val ts = System.nanoTime()
        spark = startSession()
        rep = w.open(spark, new File(o.work, "replica"), o.seed, o.trace, small = false)
        setup += (System.nanoTime() - ts) / 1e9
      }
      // JIT and codegen warm-up on a small replica, outside every sample
      val main = rep
      rep = w.open(spark, new File(o.work, "warmup"), o.seed, o.trace, small = true)
      pass("warmup_cold", 0, o.trace)(rep.cold())
      (1 to w.warmupTicks).foreach { t =>
        rep.tick()
        pass("warmup", t, o.trace)(rep.update())
        (1 to 2 * w.noopsPerTick).foreach(_ => pass("warmup_noop", t, o.trace)(rep.noop()))
      }
      rep.verify().foreach(e => finalError = Some(s"warm-up replica: $e"))
      rep.close()
      rep = main
      cold += pass("cold", 0, o.trace)(rep.cold()).secs
      // the timed loop: a tick (mutation, catch-up pass, no-op passes)
      // starts only if it should end inside the window, and there is
      // always one. In a traced run every other tick is untraced, so the
      // run measures its own tracing overhead.
      val window = (o.seconds * 1e9).toLong
      val start = System.nanoTime()
      var lastTick = 0L
      var t = 0
      while (t == 0 || System.nanoTime() - start + lastTick <= window) {
        t += 1
        val traced = o.trace && t % 2 == 1
        val ts = System.nanoTime()
        rep.tick()
        val u = pass("update", t, traced)(rep.update())
        update += u.secs
        (if (traced) tracedUpdate else untracedUpdate) += u.secs
        (1 to w.noopsPerTick).foreach { _ =>
          noop += pass("noop", t, traced)(rep.noop()).secs
        }
        lastTick = System.nanoTime() - ts
      }
      rep.verify().foreach(e => finalError = Some(e))
    } catch {
      case e: Exception =>
        finalError = Some(s"benchmark aborted: $e")
        e.printStackTrace()
    } finally {
      if (rep != null) rep.close()
      if (spark != null) spark.stop()
    }
    finalError.foreach(e => System.err.println(s"[syncbench] CHECK FAILED $e"))

    // a failed final check fails the last pass it judged
    val failedPasses = log.count(_.result.error.nonEmpty) +
      (if (finalError.nonEmpty && log.lastOption.forall(_.result.error.isEmpty)) 1 else 0)
    val timedUpdates = log.filter(_.kind == "update")
    val written = timedUpdates.map(_.result.rowsWritten).sum
    val changed = timedUpdates.map(_.result.itemsChanged).sum
    val tail = Stats.tail(update.toSeq)
    val endToEnd: Seq[(String, Any)] = Seq(
      "setup_s" -> Stats.median(setup.toSeq),
      "cold_build_s" -> Stats.median(cold.toSeq),
      "update_pass_s" -> Stats.median(update.toSeq),
      "update_pass_tail_s" -> tail.map(_._2),
      "noop_pass_s" -> Stats.median(noop.toSeq),
      "write_amplification" -> (if (changed == 0) Double.NaN else written.toDouble / changed),
      "peak_rss_mb" -> Stats.peakRssMb,
      "failed_ratio" -> (if (log.isEmpty) 1.0 else failedPasses.toDouble / log.size))

    val perLayer: Seq[(String, Any)] =
      if (!o.trace) Nil
      else {
        def med(kind: String, key: String) = Stats.median(
          log.filter(l => l.traced && l.kind == kind).flatMap(_.layers.get(key)).toSeq)
        val updKeys = log.find(l => l.traced && l.kind == "update")
          .map(_.layers.keys.toSeq.sorted).getOrElse(Nil)
        updKeys.map(k => k -> med("update", k)) ++
          LayerProbe.NoopKeys.map(k => s"noop.$k" -> med("noop", k)) ++
          LayerProbe.ColdKeys.map(k => s"cold.$k" -> med("cold", k)) ++ Seq(
            "trace.update_pass_s" -> Stats.median(tracedUpdate.toSeq),
            "trace.overhead_s" ->
              (Stats.median(tracedUpdate.toSeq) - Stats.median(untracedUpdate.toSeq)))
      }

    val result = Seq(
      "workload" -> w.name, "seed" -> o.seed, "trace" -> (if (o.trace) 1 else 0),
      "cpus" -> o.cpus,
      "correct" -> (failedPasses == 0 && finalError.isEmpty),
      "attempted" -> log.size, "failed" -> failedPasses,
      "errors" -> (log.flatMap(_.result.error) ++ finalError).take(5).toSeq,
      "end_to_end" -> endToEnd,
      "tail" -> Seq("percentile" -> tail.map(_._1), "samples" -> update.size),
      "samples" -> Seq("setup_s" -> setup.toSeq, "cold_build_s" -> cold.toSeq,
        "update_pass_s" -> update.toSeq, "noop_pass_s" -> noop.toSeq),
      "per_layer" -> perLayer,
      "total_s" -> (System.nanoTime() - t0) / 1e9)
    Files.write(o.out.toPath, Json.render(result).getBytes("UTF-8"))
    val passes = log.map(l => Json.render(Seq(
      "kind" -> l.kind, "tick" -> l.tick, "secs" -> l.secs,
      "traced" -> l.traced, "ok" -> l.result.error.isEmpty, "stats" -> l.result.stats,
      "digest" -> l.digest, "spark.jobs" -> l.layers.get("spark.jobs"))))
    Files.write(new File(o.out.getParentFile, o.out.getName + ".passes.jsonl").toPath,
      passes.mkString("", "\n", "\n").getBytes("UTF-8"))
    if (o.trace) Trace.dump(new File(o.out.getParentFile, o.out.getName + ".spans.jsonl"))
    System.err.println(s"[syncbench] done in ${(System.nanoTime() - t0) / 1e9} s")
  }
}

/** Everything a traced pass reports about its layers, measured from
  * the benchmark's side of each boundary. */
final class LayerProbe(spark: SparkSession, rep: Replica, cpus: Int) {
  Trace.passId += 1
  private val pass = Trace.passId
  private val c0 = LayerProbe.counters()
  private val inodes0 = LayerProbe.inodes(rep.stateDirs)
  private val gc0 = LayerProbe.gcMs()
  rep.drainPeer()
  LayerProbe.heapPools.foreach(_.resetPeakUsage())

  def finish(secs: Double, res: PassResult): Map[String, Double] = {
    org.apache.spark.SyncBenchBus.drain(spark.sparkContext)
    val spans = Trace.spans.filter(_.pass == pass).toSeq
    val ids = spans.map(_.id).toSet
    val jobs = Trace.jobs.values.asScala.filter(j => ids(j.span)).toSeq
    def jobSec(js: Seq[JobRec]) = js.map(j => (j.endMs - j.startMs) / 1e3).sum
    def named(prefix: String) = spans.filter(_.name.startsWith(prefix))
    def spanSec(ss: Seq[Span]) = ss.map(s => (s.endNs - s.startNs) / 1e9).sum
    def inSpans(ss: Seq[Span]) = { val s = ss.map(_.id).toSet; jobs.filter(j => s(j.span)) }
    /** Span duration minus the time its child spans and jobs cover. */
    def selfSec(s: Span): Double = {
      val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)) ++
        jobs.filter(_.span == s.id).map(j => (j.startMs * 1000000L, j.endMs * 1000000L))
      var covered = 0L
      var reach = s.startNs
      kids.map { case (a, b) => (math.max(a, s.startNs), math.min(b, s.endNs)) }
        .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
          if (b > reach) { covered += b - math.max(a, reach); reach = b }
        }
      (s.endNs - s.startNs - covered) / 1e9
    }
    val c1 = LayerProbe.counters()
    def delta(k: String) = (c1(k) - c0(k)).toDouble
    val inodes1 = LayerProbe.inodes(rep.stateDirs)
    val fresh = inodes1.filter { case (ino, _) => !inodes0.contains(ino) }
    val byLayer = jobs.groupBy(j => Trace.layerOf(j.file))
    val layerJobs = Seq("flow", "source", "state", "target", "crawl", "other").flatMap { l =>
      val js = byLayer.getOrElse(l, Nil)
      Seq(s"$l.jobs" -> js.size.toDouble, s"$l.job_s" -> jobSec(js))
    }
    val mb = 1024.0 * 1024.0
    Map(
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" -> jobs.map(_.stages.get).sum.toDouble,
      "spark.tasks" -> jobs.map(_.tasks.get).sum.toDouble,
      "spark.job_s" -> jobSec(jobs),
      "spark.task_busy_share" -> jobs.map(_.taskRunMs.get).sum / (secs * 1000 * cpus),
      "spark.shuffle_mb" -> jobs.map(_.shuffleBytes.get).sum / mb,
      "spark.input_mb" -> jobs.map(_.inputBytes.get).sum / mb,
      "spark.output_mb" -> jobs.map(_.outputBytes.get).sum / mb,
      "source.driver_s" -> spanSec(named("source.")),
      "source.self_s" -> named("source.").map(selfSec).sum,
      "source.calls" -> delta("sourceCalls"),
      "target.apply_s" -> spanSec(named("target.apply")),
      "target.self_s" -> named("target.").map(selfSec).sum,
      "target.apply_jobs" -> inSpans(named("target.")).size.toDouble,
      "target.rows_upserted" -> delta("rowsUpserted"),
      "target.rows_deleted" -> delta("rowsDeleted"),
      "pg.statements" -> rep.drainPeer().toDouble,
      "state.bytes_written" -> fresh.values.sum.toDouble,
      "state.files_written" -> fresh.size.toDouble,
      "state.live_segments" -> LayerProbe.liveSegments(rep.stateDirs).toDouble,
      "transform.items" -> delta("transformItems"),
      "transform.rows_out" -> delta("transformRows"),
      "transform.busy_s" -> delta("transformNs") / 1e9,
      "pass.self_s" -> spans.filter(_.parent == 0).map(selfSec).sum,
      "jvm.gc_s" -> (LayerProbe.gcMs() - gc0) / 1e3,
      "jvm.heap_peak_mb" -> LayerProbe.heapPools.map(_.getPeakUsage.getUsed).sum / mb
    ) ++ layerJobs ++ LayerProbe.CountKeys.map(k => k -> res.counts.getOrElse(k, 0.0))
  }
}

object LayerProbe {
  val CountKeys = Seq("flow.recomputed", "flow.refreshed", "flow.memo_hit_ratio",
    "flow.rows_noop_ratio", "nightly.slice", "nightly.removed", "nightly.screened")
  val NoopKeys = Seq("spark.jobs", "spark.job_s", "source.driver_s", "source.calls",
    "flow.jobs", "state.jobs", "crawl.jobs", "pass.self_s", "state.bytes_written")
  val ColdKeys = Seq("spark.jobs", "spark.job_s", "spark.task_busy_share",
    "transform.busy_s", "target.apply_s", "state.bytes_written")

  def counters(): Map[String, Long] = Map(
    "sourceCalls" -> Trace.sourceCalls.get, "rowsUpserted" -> Trace.rowsUpserted.get,
    "rowsDeleted" -> Trace.rowsDeleted.get, "transformItems" -> Trace.transformItems.get,
    "transformRows" -> Trace.transformRows.get, "transformNs" -> Trace.transformNs.get)

  def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).toSeq

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** (inode → size) of every regular file under the state dirs: files
    * whose inode is new after a pass are what the pass wrote. */
  def inodes(dirs: Seq[File]): Map[Long, Long] =
    dirs.filter(_.exists).flatMap { d =>
      val s = Files.walk(d.toPath)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(p =>
        Files.getAttribute(p, "unix:ino").asInstanceOf[Long] -> Files.size(p)).toList
      finally s.close()
    }.toMap

  /** Segment directories in each state store's current snapshot. */
  def liveSegments(dirs: Seq[File]): Int = dirs.map { d =>
    val cur = new File(d, "_CURRENT")
    if (!cur.exists) 0
    else {
      val v = new String(Files.readAllBytes(cur.toPath), "UTF-8").trim
      Option(new File(d, s"v=$v").listFiles()).getOrElse(Array.empty[File])
        .count(f => f.isDirectory && f.getName.contains("@s"))
    }
  }.sum
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest percentile with at least ten samples beyond it, as
    * (percentile, value); None below eleven samples. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    if (xs.size < 11) None
    else {
      val s = xs.sorted
      val k = s.size - 10
      Some((100.0 * k / s.size, s(k - 1)))
    }

  /** High-water resident set of this JVM (VmHWM), in MB. */
  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
}

/** Minimal JSON rendering for the result file. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case kv: Seq[_] if kv.nonEmpty && kv.forall {
          case (_: String, _) => true; case _ => false } =>
      kv.map { case (k: String, x) => render(k) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(render).mkString("[", ",", "]")
    case other => render(other.toString)
  }
}
