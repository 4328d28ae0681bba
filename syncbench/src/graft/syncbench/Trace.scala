package graft.syncbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.engine.{Source, SourceWatcher, Target, TargetStats, WatchableSource}

/** One layer call made by the benchmark. Spark jobs are attached to
  * the span that was open on the driver thread when they were
  * submitted (the span id rides the job as a local property, which
  * Spark hands down to its broadcast and subquery threads too). */
final case class Span(id: Long, parent: Long, pass: Long, name: String,
    startNs: Long, var endNs: Long)

/** One Spark job as the listener saw it. `file` is the source file of
  * the action's call site: the innermost frame outside Spark. */
final class JobRec(val id: Int, val span: Long, val file: String,
    val site: String, val startMs: Long) {
  @volatile var endMs: Long = startMs
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val taskRunMs = new AtomicLong
  val shuffleBytes = new AtomicLong
  val inputBytes = new AtomicLong
  val outputBytes = new AtomicLong
}

/** The traced run's recorder: spans in memory, jobs from a listener,
  * written out when the run ends. Off (the default) it records
  * nothing and every wrapper is a plain delegation. */
object Trace {
  @volatile var enabled = false
  val SpanProp = "syncbench.span"

  private val epochOffsetNs =
    System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowNs: Long = System.nanoTime() + epochOffsetNs

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 1L
  var passId = 0L

  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()

  // counters bumped by the wrappers and the traced stage UDFs
  val sourceCalls = new AtomicLong
  val rowsUpserted = new AtomicLong
  val rowsDeleted = new AtomicLong
  val transformItems = new AtomicLong
  val transformRows = new AtomicLong
  val transformNs = new AtomicLong

  def span[T](spark: SparkSession, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(nextId, stack.headOption.map(_.id).getOrElse(0L), passId,
        name, nowNs, 0L)
      nextId += 1
      spans += s
      stack = s :: stack
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(SpanProp)
      sc.setLocalProperty(SpanProp, s.id.toString)
      try body
      finally {
        s.endNs = nowNs
        stack = stack.tail
        sc.setLocalProperty(SpanProp, prev)
      }
    }

  private val CallSite = """ at ([A-Za-z0-9_$]+\.scala):\d+""".r
  private val Frame = """^\s*(?:at )?graft\.(?!syncbench)[\w.$]+\(([\w$]+\.scala):\d+\)""".r

  /** The file of a call site: the short form when it names a Scala
    * file, else the innermost `graft.` frame of the long form. */
  private def fileOf(short: String, long: String): Option[String] =
    CallSite.findFirstMatchIn(" " + short).map(_.group(1))
      .orElse(long.linesIterator
        .flatMap(l => Frame.findFirstMatchIn(l).map(_.group(1))).nextOption())

  /** SQL execution id → call-site file of the action that started it.
    * Spark runs a query's jobs on its own threads, so a job's stage
    * call site often names a thread pool; the execution's call site,
    * taken on the calling thread, names the engine file. */
  private val execFile = new ConcurrentHashMap[Long, String]()

  object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (enabled) {
        val span = Option(e.properties).flatMap(p =>
          Option(p.getProperty(SpanProp))).map(_.toLong).getOrElse(0L)
        val last = e.stageInfos.sortBy(_.stageId).lastOption
        val exec = Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
        val file = exec.flatMap(x => Option(execFile.get(x)))
          .orElse(last.flatMap(s => fileOf(s.name, s.details)))
          .getOrElse("unknown")
        val rec = new JobRec(e.jobId, span, file,
          last.map(_.name).getOrElse(""), e.time)
        jobs.put(e.jobId, rec)
        e.stageIds.foreach(stageJob.put(_, rec))
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
          if enabled =>
        fileOf(x.description, x.details).foreach(execFile.put(x.executionId, _))
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Option(stageJob.get(e.stageInfo.stageId)).foreach(_.stages.incrementAndGet())
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).foreach { j =>
        j.tasks.incrementAndGet()
        j.taskRunMs.addAndGet(e.taskInfo.duration)
        val m = e.taskMetrics
        if (m != null) {
          j.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          j.inputBytes.addAndGet(m.inputMetrics.bytesRead)
          j.outputBytes.addAndGet(m.outputMetrics.bytesWritten)
        }
      }
  }

  /** Which layer a call-site file belongs to. */
  def layerOf(file: String): String = file match {
    case "Flow.scala" => "flow"
    case "Source.scala" | "ChangeFeed.scala" | "KeyedFetch.scala" => "source"
    case "StateStore.scala" => "state"
    case "Target.scala" | "PgTarget.scala" => "target"
    case "CrawlRefresh.scala" | "Dedup.scala" | "Curation.scala" => "crawl"
    case _ => "other"
  }

  /** Spans and jobs as JSON lines, one record per line. */
  def dump(out: java.io.File): Unit = {
    val w = new java.io.PrintWriter(out, "UTF-8")
    try {
      spans.foreach { s =>
        w.println(s"""{"span":${s.id},"parent":${s.parent},"pass":${s.pass},""" +
          s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      }
      jobs.values.asScala.toSeq.sortBy(_.id).foreach { j =>
        w.println(s"""{"job":${j.id},"span":${j.span},"file":"${j.file}",""" +
          s""""site":"${j.site.replace("\"", "'")}",""" +
          s""""start_ms":${j.startMs},"end_ms":${j.endMs},"stages":${j.stages.get},""" +
          s""""tasks":${j.tasks.get},"task_run_ms":${j.taskRunMs.get}}""")
      }
    } finally w.close()
  }
}

/** Delegating source wrapper: one span per `list`/`listKeys`/`load`
  * call, timing the eager driver-side work the call does (file
  * listing, the bounded key collect) and tagging the jobs it runs. It
  * stays a [[WatchableSource]], so [[graft.engine.Flow]] still takes
  * its change-feed path. */
final class TracedSource(inner: Source with WatchableSource)
    extends Source with WatchableSource {
  private def call[T](spark: SparkSession, name: String)(body: => T): T =
    Trace.span(spark, name) { Trace.sourceCalls.incrementAndGet(); body }
  def list(spark: SparkSession): DataFrame =
    call(spark, "source.list")(inner.list(spark))
  def load(spark: SparkSession, keys: DataFrame): DataFrame =
    call(spark, "source.load")(inner.load(spark, keys))
  override def listKeys(spark: SparkSession, keys: Seq[String]): DataFrame =
    call(spark, "source.listKeys")(inner.listKeys(spark, keys))
  override def listUnder(spark: SparkSession, prefixes: Seq[String]): DataFrame =
    call(spark, "source.listUnder")(inner.listUnder(spark, prefixes))
  def contentFpOf: Option[Column] = inner.contentFpOf
  def watch(): SourceWatcher = inner.watch()
}

/** Delegating target wrapper: one span per `apply`, plus the row
  * counts the target reports back. */
final class TracedTarget(inner: Target) extends Target {
  def apply(spark: SparkSession, upserts: DataFrame, deleteKeys: DataFrame)
      : TargetStats =
    Trace.span(spark, "target.apply") {
      val st = inner.apply(spark, upserts, deleteKeys)
      Trace.rowsUpserted.addAndGet(st.upserted)
      Trace.rowsDeleted.addAndGet(st.deleted)
      st
    }
  def read(spark: SparkSession): DataFrame = inner.read(spark)
  override def containerSignature: String = inner.containerSignature
  override def truncate(spark: SparkSession): Unit =
    Trace.span(spark, "target.truncate")(inner.truncate(spark))
  override def attachments = inner.attachments
  override def execAttachmentSql(spark: SparkSession, sql: String,
      tolerateMissing: Boolean): Unit =
    inner.execAttachmentSql(spark, sql, tolerateMissing)
}
