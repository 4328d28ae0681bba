package graft.engine

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicReference
import scala.jdk.CollectionConverters._

/** Cumulative processing counters across the ticks of a live update —
  * the reference's `UpdateStats`/`ComponentStats` snapshot
  * (python/cocoindex/_internal/update_stats.py:55-85). Mapping from
  * [[RunStats]]: adds = rows inserted, deletes = components GC'd,
  * reprocesses = components recomputed, unchanged includes memo-state
  * refreshes, errors = rows routed to the errors table. */
final case class UpdateStats(
    numExecutionStarts: Long = 0, numUnchanged: Long = 0, numAdds: Long = 0,
    numDeletes: Long = 0, numReprocesses: Long = 0, numErrors: Long = 0) {
  def numProcessed: Long = numUnchanged + numAdds + numDeletes + numReprocesses
  /** Reference `ComponentStats.num_finished` (update_stats.py:66). */
  def numFinished: Long = numProcessed + numErrors
  def add(r: RunStats): UpdateStats = UpdateStats(
    numExecutionStarts + 1,
    numUnchanged + r.unchanged + r.refreshed,
    numAdds + r.rowsInserted,
    numDeletes + r.deletedComponents,
    numReprocesses + r.recomputed,
    numErrors + r.rowsFailed)
  /** Counter-wise sum — the reference's `UpdateStats.total`
    * aggregation across processors (update_stats.py:84-96). */
  def merge(o: UpdateStats): UpdateStats = UpdateStats(
    numExecutionStarts + o.numExecutionStarts,
    numUnchanged + o.numUnchanged, numAdds + o.numAdds,
    numDeletes + o.numDeletes, numReprocesses + o.numReprocesses,
    numErrors + o.numErrors)
}

/** Handle over a running live update: poll [[stats]], subscribe with
  * [[watch]], await readiness — the reference's `UpdateHandle.stats()
  * / watch()` (update_stats.py; `UpdateStatus` RUNNING→READY once the
  * initial catch-up completes). Obtained from [[Flow.runLiveHandle]]. */
final class UpdateHandle {

  @volatile private var query
      : Option[org.apache.spark.sql.streaming.StreamingQuery] = None
  private[engine] def attach(
      q: org.apache.spark.sql.streaming.StreamingQuery): Unit =
    query = Some(q)

  private val cumulative = new AtomicReference(UpdateStats())
  private val perComponent =
    new AtomicReference(Map.empty[String, UpdateStats])
  @volatile private var readyFlag = false
  @volatile private var last: Option[RunStats] = None
  private val watchers =
    ConcurrentHashMap.newKeySet[(UpdateStats, RunStats) => Unit]()

  private[engine] def record(r: RunStats): Unit = record("", r)

  /** Record one tick's delta under a processor (stats-group) name —
    * the per-component breakdown the reference's `UpdateStats
    * .by_component` carries (update_stats.py:80-96: Rust aggregates
    * `ProcessingStatsGroup` per processor; here the flow name is the
    * processor). */
  private[engine] def record(processor: String, r: RunStats): Unit = {
    val c = cumulative.updateAndGet(_.add(r))
    perComponent.updateAndGet { m =>
      m.updated(processor,
        m.getOrElse(processor, UpdateStats()).add(r))
    }
    last = Some(r)
    readyFlag = true // the initial catch-up tick has completed
    watchers.asScala.foreach(w => w(c, r))
  }

  /** Cumulative counters so far (cheap snapshot, no locks). */
  def stats(): UpdateStats = cumulative.get()
  /** Per-processor breakdown — the reference's `by_component` map;
    * `stats()` equals the counter-wise total of this map. */
  def statsByComponent: Map[String, UpdateStats] = perComponent.get()
  /** The most recent tick's delta, if any tick has completed. */
  def lastTick: Option[RunStats] = last
  /** RUNNING until the initial catch-up completes, then READY. */
  def status: String = if (readyFlag) "ready" else "running"

  /** Subscribe to per-tick snapshots; returns an unsubscribe. */
  def watch(cb: (UpdateStats, RunStats) => Unit): () => Unit = {
    watchers.add(cb)
    () => { watchers.remove(cb); () }
  }

  /** Block until the initial catch-up has completed (mark_ready). */
  def awaitReady(timeoutMs: Long = 60000): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!readyFlag && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    readyFlag
  }

  def stop(): Unit = query.foreach(_.stop())
  def isActive: Boolean = query.exists(_.isActive)
}

/** A named aggregation scope over several live handles — the
  * reference's `coco.stats_group(...)` read through
  * `StatsGroupHandle` (update_stats.py:151-166): the same
  * `stats()`/`statsByComponent`/`status` surface as one
  * [[UpdateHandle]], totalled across every handle in the group. A
  * group has no result and owns no lifecycle — [[stopAll]] is a
  * convenience, not a contract. */
final class StatsGroup {
  private val handles = ConcurrentHashMap.newKeySet[UpdateHandle]()

  /** Enroll a handle; returns it so call sites can wrap creation:
    * `group.add(flow.runLiveHandle(spark, "1 second"))`. */
  def add(h: UpdateHandle): UpdateHandle = { handles.add(h); h }

  /** Union of the members' per-processor maps (processor names are
    * flow names — unique per engine instance; a collision merges,
    * matching the reference's per-processor-name grouping). */
  def statsByComponent: Map[String, UpdateStats] =
    handles.asScala.foldLeft(Map.empty[String, UpdateStats]) { (acc, h) =>
      h.statsByComponent.foldLeft(acc) { case (m, (k, v)) =>
        m.updated(k, m.getOrElse(k, UpdateStats()).merge(v))
      }
    }

  /** Counter-wise total across the group (reference
    * `UpdateStats.total`). */
  def stats(): UpdateStats =
    statsByComponent.values.foldLeft(UpdateStats())(_ merge _)

  /** READY only when every member handle is ready. */
  def status: String =
    if (handles.asScala.nonEmpty && handles.asScala.forall(_.status == "ready"))
      "ready"
    else "running"

  def stopAll(): Unit = handles.asScala.foreach(_.stop())
}

/** Per-subpath incremental control over one flow — the reference's
  * `LiveComponentOperator` passed to `process_live`
  * (python/cocoindex/_internal/live_component.py:206-224,296-405):
  * `update(subpath)` / `delete(subpath)` enqueue work for single
  * components, `updateFull()` re-runs everything, `markReady()`
  * signals the initial watermark. Contract mirrored here:
  *
  *   - **serialized**: all executions (flush / updateFull) run under
  *     one lock — the reference serializes operator dispatch against
  *     `update_full_lock`;
  *   - **coalesced, latest wins**: repeated updates of the same
  *     subpath between flushes run once, against the CURRENT source
  *     state (the queued/coalesced dispatch path);
  *   - update and delete share the execution path: a flushed subpath
  *     whose backing item no longer exists classifies as gone and is
  *     GC'd, exactly like the reference's delete.
  */
final class LiveFlowOperator(flow: Flow, spark: SparkSession) {

  private val pending = ConcurrentHashMap.newKeySet[String]()
  @volatile private var readyFlag = false

  /** Enqueue single-component updates (coalesced; latest state wins). */
  def update(subpaths: String*): Unit = subpaths.foreach(pending.add)
  /** Enqueue deletions — same queue; the flush classifies them gone. */
  def delete(subpaths: String*): Unit = subpaths.foreach(pending.add)

  /** Pending subpaths not yet flushed (inspection). */
  def pendingSubpaths: Set[String] = pending.asScala.toSet

  /** Execute the queued subpath work as ONE incremental catch-up —
    * O(queue), never a full listing. */
  def flush(): RunStats = synchronized {
    val batch = pending.asScala.toVector
    batch.foreach(pending.remove)
    if (batch.isEmpty) RunStats.Empty
    else flow.runDelta(spark, batch)
  }

  /** Full catch-up via the component's own process — serialized with
    * [[flush]] (reference update_full under the same lock). */
  def updateFull(): RunStats = synchronized { flow.run(spark) }

  /** Initial watermark reached (reference mark_ready contract). */
  def markReady(): Unit = readyFlag = true
  def ready: Boolean = readyFlag
}

/** An in-memory, keyed collection that is both a flow TARGET and a
  * live SOURCE — the reference's `LiveMap`
  * (python/cocoindex/resources/live_map.py:218-280): producers
  * declare keyed entries (here: a producer flow reconciles rows into
  * it), consumers process one component per entry and are kept in
  * sync as entries appear, change and disappear (here: a consumer
  * flow reads [[source]] and follows [[watch]] deltas).
  *
  * In-memory by contract, like the reference (an in-process dict):
  * entries live on the driver, capped at [[LiveMap.MaxEntries]] —
  * the unbounded-scale hand-off is a [[ParquetTableTarget]] chain
  * (FlowChainSpec); this resource exists for small, hot, shared
  * state. Single active watcher, as in the reference. */
final class LiveMap(val name: String = "livemap") extends Target {

  @volatile private var schemaOpt: Option[StructType] = None
  private val entries = new ConcurrentHashMap[String, Row]()
  private val changed = ConcurrentHashMap.newKeySet[String]()
  private val watcherArmed = new java.util.concurrent.atomic.AtomicBoolean(false)

  override def containerSignature: String = s"livemap;name=$name"

  override def truncate(spark: SparkSession): Unit = {
    entries.keySet().asScala.foreach(changed.add)
    entries.clear()
  }

  def apply(spark: SparkSession, upserts: DataFrame,
      deleteKeys: DataFrame): TargetStats = {
    // ONE bounded collect replaces the former standalone count job
    // (r19, guide §1.2 step 1): limit(cap + 1) bounds driver memory
    // like the count did, and an over-cap batch still fails LOUDLY
    // below (length == cap + 1 trips the require) — a bare limit(cap)
    // would be the silent-drop hazard the old comment warned about;
    // the +1 sentinel is what makes the truncation detectable.
    val up = upserts.limit(LiveMap.MaxEntries + 1).collect()
    require(up.length <= LiveMap.MaxEntries,
      s"LiveMap '$name': batch of more than ${LiveMap.MaxEntries} rows " +
        "exceeds the entry cap — use a ParquetTableTarget chain for " +
        "unbounded hand-off")
    val keyIdx = upserts.columns.indexOf("row_key")
    // cap on the RESULTING size: re-upserting present keys updates in
    // place and must not fail a map that isn't actually growing
    val netNew = up.count(r => !entries.containsKey(r.getString(keyIdx)))
    require(entries.size + netNew <= LiveMap.MaxEntries,
      s"LiveMap '$name' exceeds ${LiveMap.MaxEntries} entries — use a " +
        "ParquetTableTarget chain for unbounded hand-off")
    if (up.nonEmpty) schemaOpt = Some(upserts.schema)
    up.foreach { r =>
      val k = r.getString(keyIdx)
      entries.put(k, r); changed.add(k)
    }
    val del = deleteKeys.select("row_key").collect().map(_.getString(0))
    del.foreach { k => if (entries.remove(k) != null) changed.add(k) }
    TargetStats(up.length.toLong, del.length.toLong)
  }

  def read(spark: SparkSession): DataFrame = schemaOpt match {
    case None => throw new IllegalStateException(s"LiveMap $name never written")
    case Some(sch) =>
      spark.createDataFrame(entries.values().asScala.toSeq.asJava, sch)
  }

  def size: Int = entries.size

  /** The consumer-side keyed source over the current entries. */
  def source: Source with WatchableSource = {
    val self = this
    new Source with WatchableSource {
      private val inner = TableSource(sp => self.read(sp), keyCol = "row_key")
      def list(spark: SparkSession): DataFrame = inner.list(spark)
      def load(spark: SparkSession, keys: DataFrame): DataFrame =
        inner.load(spark, keys)
      def contentFpOf: Option[org.apache.spark.sql.Column] = inner.contentFpOf
      def watch(): SourceWatcher = self.watch()
    }
  }

  /** Change feed for the consumer (single active watcher, reference
    * live_map.py "Single active watch() at a time"). */
  def watch(): SourceWatcher = {
    require(watcherArmed.compareAndSet(false, true),
      s"LiveMap $name already has an active watcher")
    new SourceWatcher {
      def drain(): (Seq[String], Boolean) = {
        val snap = changed.asScala.toVector
        snap.foreach(changed.remove)
        (snap, false)
      }
      def close(): Unit = watcherArmed.set(false)
    }
  }
}

object LiveMap {
  /** Driver-memory bound: the reference LiveMap is an in-process
    * dict; this is the honest Spark analog's cap (~1M small rows). */
  val MaxEntries: Int = 1000000
}