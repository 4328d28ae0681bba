package graft.engine

import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, StructType}

/** What one target apply did: upsert rows written and delete keys
  * issued. Wire targets measure both DURING their single write pass
  * (accumulators — see [[WireTarget]]); nothing recounts the delta. */
final case class TargetStats(upserted: Long, deleted: Long)

/** A named SQL command attached to a table target — the reference's
  * `declare_sql_command_attachment`
  * (python/cocoindex/connectors/postgres/_target.py:1362-1386):
  * `setupSql` executes when the attachment is created or changed
  * (after the OLD version's teardown on change); `teardownSql` (if
  * any) executes when the attachment is removed. `invalidation`
  * optionally makes a CHANGE or REMOVAL bump the provider generation
  * — Destructive treats every component as never written, Lossy
  * re-upserts matching rows (the attachment child-invalidation
  * semantics, python/tests/core/test_attachment_target_states.py:
  * 243-330). */
final case class TargetAttachment(name: String, setupSql: String,
    teardownSql: Option[String] = None,
    invalidation: Option[StateDiff.ChildInvalidation] = None) {
  /** Identity of this version of the attachment: any change to the
    * SQL re-runs setup (after teardown). */
  def fingerprint: String =
    Fingerprint.of("att", name, setupSql, teardownSql.getOrElse(""),
      invalidation.map(_.name).getOrElse(""))
}

/** A managed external container the engine reconciles desired rows
  * into — the reference's target contract (TargetHandler.reconcile →
  * batched convergent sinks,
  * python/cocoindex/_internal/target_state.py:188-205). The engine
  * hands a target only the *classified delta*: rows to upsert and
  * keys to delete. Appliers MUST be idempotent keyed merges —
  * re-applying the same delta after a crash must converge (reference
  * "no rollback, convergent roll-forward").
  *
  * The wire-protocol stores (Postgres, JDBC, Doris, Snowflake,
  * BigQuery, Valkey, Qdrant, Turbopuffer, Kafka, Neo4j, FalkorDB,
  * SurrealDB) share ONE apply, [[WireTarget]]. The skeleton owns the
  * plan: observe the container once, peek `upserts.isEmpty` only while
  * it is absent, ensure it, then ONE key-partitioned writer pass per
  * phase whose counts come back through accumulators — no caching, no
  * recount, no second pass. A store supplies only how to connect
  * (`connect`), how to observe and create/reconcile its container
  * (`observe`, `prepare`), and how one writer task sends a partition's
  * upsert rows and delete keys ([[WireWriter]]).
  */
trait Target {
  /** Apply the delta. `upserts` carries `row_key` + payload columns;
    * `deleteKeys` carries `row_key` only. */
  def apply(spark: SparkSession, upserts: DataFrame, deleteKeys: DataFrame): TargetStats
  /** Read the target's current contents back (for queries/tests). */
  def read(spark: SparkSession): DataFrame

  /** Container identity — the part of the target's physical shape
    * that cannot change in place (the statediff *main* record: key
    * signature, bucket layout, …). When this differs from the stored
    * record the engine plans a destructive drop-recreate instead of
    * an in-place reconcile (reference PK-signature main record,
    * postgres/_target.py:930-947). */
  def containerSignature: String = ""

  /** Drop and recreate the empty container — the destructive
    * transition's DDL (reference `_drop_table` before re-create,
    * postgres/_target.py:1002-1010). */
  def truncate(spark: SparkSession): Unit = ()

  /** Declared SQL-command attachments. The ENGINE reconciles them
    * with the full lifecycle against its stored records: setup on
    * create/change, teardown on removal/before change, nothing on an
    * unchanged rerun, re-setup after a destructive table transition
    * (reference attachment target states,
    * target_state.py + test_attachment_target_states.py). */
  def attachments: Seq[TargetAttachment] = Nil

  /** Execute one attachment statement against the store. Required
    * for targets declaring [[attachments]]. Implementations tolerate
    * idempotent-DDL "already exists" errors (crash reruns converge);
    * `tolerateMissing` is set for TEARDOWNS only — tearing down an
    * object the container's drop already took is converged, but a
    * SETUP failing on a missing container is a real error that must
    * abort before the state commit (the transition replans). */
  def execAttachmentSql(spark: SparkSession, sql: String,
      tolerateMissing: Boolean = false): Unit =
    throw new UnsupportedOperationException(
      s"${getClass.getSimpleName} does not execute attachment SQL")
}

/** What one writer task does with its partition, over the connection
  * the [[WireTarget]] skeleton opened for it: `upsert` receives the
  * partition's upsert rows (laid out as the apply's upsert schema; a
  * trailing tag column follows and is never read), then `delete` its
  * delete keys. Built on the driver once the container is ensured, so
  * statement text is rendered once per apply. */
final case class WireWriter[C](
    upsert: (C, Iterator[Row]) => Unit,
    delete: (C, Iterator[String]) => Unit)

/** The one apply every wire-protocol target shares (the contract is on
  * [[Target]]). In order:
  *
  *  1. observe the container in one round trip. If it exists, its DDL
  *     is reconciled from `upserts.schema` alone. If it is absent,
  *     deletes are vacuous, and one bounded `upserts.isEmpty` peek
  *     chooses between a converged no-op and creating it — the
  *     skeleton's only pre-write job, paid only while the container
  *     does not exist;
  *  2. write once: the delete keys are tagged and unioned with the
  *     upserts, hash-partitioned by `row_key` to [[writerTasks]] (every
  *     key has exactly one writer connection), and sorted so each
  *     partition's upserts precede its deletes — streaming writers
  *     (COPY, warehouse stages) never buffer a side. One pass; each
  *     non-empty partition opens one connection. Row keys are disjoint
  *     between the two sides of one apply, so their order inside a
  *     partition cannot change the result;
  *  3. count while writing: two accumulators tally the rows the writers
  *     consumed (exactly-once under task retry, as accumulator updates
  *     inside actions are), so the returned stats are measured, not
  *     recounted.
  *
  * Stores whose writes must land in ordered phases (the graph stores)
  * declare [[phases]]; each phase is one such pass.
  */
trait WireTarget extends Target {
  import WireTarget._

  /** A session with the store: a wire client, or `Unit` for stateless
    * HTTP stores. Closed after use when it is `AutoCloseable`. */
  protected type Conn
  /** What observing an EXISTING container learns (e.g. its columns). */
  protected type Container

  def writePartitions: Int
  /** Writer tasks per pass. */
  protected def writerTasks: Int = writePartitions

  protected def connect(): Conn

  /** One round trip: `None` when the container does not exist. */
  protected def observe(c: Conn): Option[Container]

  /** Create the container (`existing = None`) or reconcile it toward
    * `schema`, then return this apply's writer. */
  protected def prepare(c: Conn, schema: StructType,
      existing: Option[Container]): WireWriter[Conn]

  /** Ordered write phases as (upsert filter, delete-key filter) pairs,
    * one pass each. Default: a single pass over everything. */
  protected def phases: Seq[(Column, Column)] = OnePhase

  protected final def withConn[T](f: Conn => T): T = {
    val c = connect()
    try f(c) finally c match {
      case a: AutoCloseable => a.close()
      case _ => ()
    }
  }

  def apply(spark: SparkSession, upserts: DataFrame,
      deleteKeys: DataFrame): TargetStats = {
    val writer = withConn { c =>
      val existing = observe(c)
      if (existing.isEmpty && upserts.isEmpty) None
      else Some(prepare(c, upserts.schema, existing))
    }
    writer.fold(TargetStats(0, 0)) { w =>
      val keys = deleteKeys.select(col(RowKey))
      phases.map { case (u, d) =>
        pass(spark, w, upserts.filter(u), keys.filter(d))
      }.reduce((a, b) =>
        TargetStats(a.upserted + b.upserted, a.deleted + b.deleted))
    }
  }

  private def pass(spark: SparkSession, w: WireWriter[Conn],
      upserts: DataFrame, keys: DataFrame): TargetStats = {
    val keyIdx = upserts.schema.fieldIndex(RowKey)
    val tagIdx = upserts.schema.length
    val tagged = upserts.withColumn(DeleteTag, lit(false))
      .unionByName(keys.withColumn(DeleteTag, lit(true)),
        allowMissingColumns = true)
      .repartition(writerTasks, col(RowKey))
      .sortWithinPartitions(DeleteTag)
    val nUp = spark.sparkContext.longAccumulator("graft.wire.upserts")
    val nDel = spark.sparkContext.longAccumulator("graft.wire.deletes")
    tagged.foreachPartition { rows: Iterator[Row] =>
      if (rows.hasNext) {
        val (ups, dels) = rows.span(!_.getBoolean(tagIdx))
        withConn { c =>
          if (ups.hasNext) w.upsert(c, ups.map { r => nUp.add(1L); r })
          if (dels.hasNext)
            w.delete(c, dels.map { r => nDel.add(1L); r.getString(keyIdx) })
        }
      }
    }
    TargetStats(nUp.sum, nDel.sum)
  }
}

object WireTarget {
  private val RowKey = "row_key"
  private val DeleteTag = "__graft_delete"

  private val OnePhase = Seq(lit(true) -> lit(true))

  private def isNode = col(RowKey).startsWith("n:")

  /** The reference's graph apply order (`n:` keys are nodes, the rest
    * relationships): node upserts → relationship upserts →
    * relationship deletes → node deletes, so no write transiently
    * orphans an endpoint. */
  val GraphPhases: Seq[(Column, Column)] = Seq(
    isNode -> lit(false), !isNode -> lit(false),
    lit(false) -> !isNode, lit(false) -> isNode)
}

/** Keyed parquet table — the MERGE applier (reference row reconcile +
  * batched INSERT…ON CONFLICT DO UPDATE / DELETE,
  * python/cocoindex/connectors/postgres/_target.py:769-836) on a
  * plain filesystem, laid out as an LSM (the same design the engine's
  * state store uses for its own tables):
  *
  *   - rows live under `dir/base/g=<n>/bucket=k/` and
  *     `dir/delta/seg=<n>/bucket=k/` with
  *     k = pmod(xxhash64(row_key), numBuckets);
  *   - an apply APPENDS one segment holding exactly its upserts plus
  *     thin tombstones, so write bytes are O(delta) — nothing current
  *     is read or rewritten (random row keys touch every bucket, so a
  *     touched-bucket rewrite would cost a maintained index its whole
  *     physical table per reconcile, even for a 10-row delta);
  *   - reads merge base ∪ segments with latest-wins per `row_key`, and
  *     bucket filters partition-prune both sides;
  *   - a no-op delta writes nothing at all.
  *
  * Compaction is TIERED, so amortized write bytes stay O(delta) at
  * ANY base size (a single count-triggered full fold would cost
  * base/maxDeltaSegments per apply — linear in the corpus, the exact
  * amplification the segment log exists to remove):
  *
  *   - tier 0 → tier 1 (CONSOLIDATE): once `maxDeltaSegments` fresh
  *     segments accumulate, they merge into ONE consolidated segment
  *     (latest-wins, tombstones kept — base is not read). Consolidated
  *     segments (`_graft_consolidated` marker) are never re-merged
  *     with fresh ones, so no byte is consolidated twice per tier —
  *     the re-consolidation trap that would make the "minor" pass
  *     quadratic. A second consolidation tier merges the consolidated
  *     segments themselves when THEY reach `maxDeltaSegments`,
  *     bounding read fan-in at ~2×maxDeltaSegments live segments.
  *   - fold (MAJOR): segments fold into a fresh base generation only
  *     when live delta bytes reach `foldRatio` × base bytes (floored
  *     at `minFoldBytes` so toy-sized bases don't churn) or the
  *     absolute `maxDeltaBytes` — proportional, so the O(base) fold
  *     is paid once per base-fraction of churn. Each delta byte is
  *     written ≤3× before folding (segment, consolidation, tier-1
  *     merge), giving amortized per-apply bytes ≤ 3×delta +
  *     delta/foldRatio = O(delta), flat in base size.
  *
  * Merged reads pick their base-side plan by the live superseded-key
  * count (persisted per segment in its commit marker): under
  * `maxBroadcastKeys` the base anti-joins an explicitly BROADCAST key
  * set (no base exchange); past it — a fat table accumulating churn
  * toward a proportional fold can hold far more delta keys than any
  * broadcast should carry — the read switches to a bloom-prefiltered
  * merge: base rows failing a delta-key bloom probe serve directly
  * (no join at all), only the bloom-positive sliver (true superseded
  * + fpp) pays an exact anti-join. Neither branch exchanges or
  * broadcasts anything corpus-sized; the cost is a second base scan
  * for the sliver branch, acceptable because full merged reads of a
  * fat table are rare (folds, handoffs, crash recovery).
  *
  * Crash safety is convergent roll-forward:
  * every segment/generation directory is invisible until its
  * `_graft_committed` marker lands, a crashed writer's unmarked
  * directory is swept on the next apply, and replaying surviving
  * segments over a freshly-folded base is value-identical (the
  * compaction can crash anywhere after its marker and re-converge;
  * a consolidated segment outranks its inputs by segment id, so a
  * crash between its commit and the inputs' retirement double-serves
  * identical latest rows).
  *
  * A `dir/bucket=k/` directory is the retired copy-on-write layout
  * (whole touched buckets rewritten per apply). It is never read or
  * written: `apply` and `read` both refuse it.
  */
final case class ParquetTableTarget(dir: String, numBuckets: Int = 16,
    /** SQL expression over `row_key` whose hash places the row in a
      * bucket. Default: the key itself. A serving-oriented index can
      * bucket by a key PREFIX/SUFFIX instead (e.g. the FTS index
      * buckets `doc:term` rows by the term) so reads prune to the
      * buckets of their lookup values — at the cost of writes
      * fanning out to every bucket a component's rows hash to. */
    bucketKeySql: String = "row_key",
    /** Consolidate fresh segments into one once this many accumulate
      * (tier 0 → tier 1; see the class doc). Also the tier-1 capacity
      * before consolidated segments merge again. NOT container
      * identity — tune in place. */
    maxDeltaSegments: Int = 16,
    /** FOLD into a new base generation once the live segments'
      * on-disk bytes pass this absolute bound. Right for thin index
      * tables whose base is comparable to this bound; a FAT table (the
      * corpus export) should raise it toward Long.MaxValue and let
      * `foldRatio` govern — an absolute trigger on a 100 TB table
      * would force a full rewrite every 512 MB of churn. NOT container
      * identity — tune in place. */
    maxDeltaBytes: Long = 512L << 20,
    /** ALSO fold once live delta bytes reach this fraction of the
      * base's bytes — the proportional trigger that keeps the O(base)
      * fold amortized to O(delta) per apply at any base size. NOT
      * container identity — tune in place. */
    foldRatio: Double = 0.25,
    /** The proportional trigger is ignored below this many live delta
      * bytes — folding a toy-sized base every few applies is pure
      * write amplification (the fold's O(base) cost pays off only
      * against a substantial delta). The absolute `maxDeltaBytes`
      * trigger is NOT floored. NOT container identity — tune in place. */
    minFoldBytes: Long = 16L << 20,
    /** Merged reads broadcast the superseded-key set while the live
      * segments hold at most this many rows; past it the read switches
      * to the bloom-prefiltered merge (class doc). ~16 B/key broadcast
      * → the default is a ~64 MB ceiling. NOT container identity —
      * tune in place. */
    maxBroadcastKeys: Long = 4L * 1000 * 1000,
    /** SQL expression to physically cluster rows by at every write
      * (range-repartition + sort within partitions). Point fetches
      * whose predicate lands on this expression's column then prune
      * parquet row groups by min/max statistics — without clustering,
      * hash/lineage placement spreads every key range over every file
      * and a 2,000-key IN reads the whole table. Costs one delta-sized
      * range shuffle per apply and rides the already-O(table) fold.
      * Set it to the table's natural fetch key (e.g. the export's
      * native doc id — row_key's LEXICAL order scatters numeric ids,
      * so cluster by the typed column the fetches actually filter on).
      * NOT container identity. */
    clusterBySql: Option[String] = None)
    extends Target {

  private def bucketOf = pmod(xxhash64(expr(bucketKeySql)), lit(numBuckets))
    .cast("int")

  /** Physically cluster `df` by [[clusterBySql]] before a write (no-op
    * when unset — the default keeps every existing target's
    * shuffle-free write plans byte-identical).
    *
    * The range partitioning leads with `bucket` (r18): these frames
    * are written `partitionBy("bucket")`, and ranging on the cluster
    * key ALONE hands every write task rows of every bucket — each
    * task then opens one file per bucket dir (tasks × numBuckets tiny
    * files per write, 2,048 for the export's 64-bucket base at 32
    * tasks) and the writer's own required sort on the partition
    * column reorders rows the cluster sort just arranged. Leading
    * with bucket gives each task a contiguous slice of ONE bucket
    * (±1 at range boundaries): O(tasks) right-sized files, and the
    * (bucket, key) sort already satisfies the writer's requirement so
    * no second sort runs — files keep their key order and row-group
    * min/max stats stay tight for the keyed fetches. */
  private def clustered(df: DataFrame): DataFrame =
    clusterBySql.fold(df)(c =>
      df.repartitionByRange(col("bucket"), expr(c))
        .sortWithinPartitions(col("bucket"), expr(c)))

  /** The bucket layout is baked into every row's placement, and the
    * directory is the container's physical location: a `numBuckets`
    * change invalidates the whole layout, and a `dir` change is a
    * container swap (the reference treats a renamed table as a new
    * key → full create, postgres/_target.py:930-947) — both are
    * container identity, not in-place properties. Without `dir` in
    * the signature a relocated target would silently keep unchanged
    * items' rows only in the OLD location. `;delta=1` names the
    * segment-log layout: a container recorded without it holds the
    * retired copy-on-write layout, and the engine plans its
    * destructive recreate. */
  override def containerSignature: String =
    s"parquet;dir=$dir;pk=row_key;buckets=$numBuckets" +
      (if (bucketKeySql == "row_key") "" else s";bkey=$bucketKeySql") +
      ";delta=1"

  override def truncate(spark: SparkSession): Unit =
    FsUtil.deleteRecursively(new java.io.File(dir))

  /** Refuse the retired copy-on-write layout (`dir/bucket=k/`): the
    * merged read would serve it as an EMPTY table, and an apply would
    * interleave two layouts in one dir. Flows never get here (its
    * recorded signature lacks `;delta=1` → destructive recreate); a
    * direct user fails loudly. */
  private def refuseCopyOnWriteLayout(): Unit =
    if (Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
        .exists(f => f.isDirectory && f.getName.startsWith("bucket=")))
      throw new IllegalStateException(
        s"target $dir holds a copy-on-write (bucket=) layout, which is " +
          "no longer read or written — truncate or migrate first")

  // ---- layout: dir/base/g=<n>/bucket=k, dir/delta/seg=<n>/bucket=k;
  // a numbered dir is LIVE only once its commit marker lands
  private def baseRoot = new java.io.File(dir, "base")
  private def deltaRoot = new java.io.File(dir, "delta")
  private def markerOf(d: java.io.File) = new java.io.File(d, "_graft_committed")
  private def numbered(root: java.io.File, prefix: String)
      : Seq[(Long, java.io.File)] =
    Option(root.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(prefix + "="))
      .flatMap(f => scala.util.Try(
        f.getName.drop(prefix.length + 1).toLong).toOption.map(_ -> f))
      .toSeq.sortBy(_._1)
  private def baseGens = numbered(baseRoot, "g")
  private def deltaSegs = numbered(deltaRoot, "seg")
  private def activeBase: Option[java.io.File] =
    baseGens.filter(g => markerOf(g._2).exists()).lastOption.map(_._2)
  private def activeSegs: Seq[java.io.File] =
    deltaSegs.filter(s => markerOf(s._2).exists()).map(_._2)

  private def exists = activeBase.nonEmpty || activeSegs.nonEmpty

  private def schemaFile = new java.io.File(dir, "_schema.json")

  private def saveSchema(schema: StructType): Unit = {
    new java.io.File(dir).mkdirs()
    java.nio.file.Files.write(schemaFile.toPath,
      schema.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  private def storedSchema: Option[StructType] =
    if (!schemaFile.exists()) None
    else Some(org.apache.spark.sql.types.DataType.fromJson(
      new String(java.nio.file.Files.readAllBytes(schemaFile.toPath),
        java.nio.charset.StandardCharsets.UTF_8))
      .asInstanceOf[org.apache.spark.sql.types.StructType])

  /** One apply = one appended segment: upsert rows (`__deleted` =
    * false) plus thin all-null-payload tombstones, partitioned by
    * bucket like the base. O(delta) bytes written; nothing current
    * is read at all. The upsert/delete counts ride the write job as
    * observed metrics (Dataset.observe): an apply — bootstrap included
    * — computes the delta EXACTLY ONCE, with no standalone count job
    * and no cached copy of it. An apply that turns out empty removes
    * its uncommitted dir (never marker-committed, so it was never
    * visible to a reader). */
  def apply(spark: SparkSession, upserts: DataFrame,
      deleteKeys: DataFrame): TargetStats = {
    refuseCopyOnWriteLayout()
    // sweep crash leftovers: an unmarked numbered dir is a previous
    // (single-)writer's partial write — invisible to readers, dead
    (baseGens ++ deltaSegs).filterNot(d => markerOf(d._2).exists())
      .foreach(d => FsUtil.deleteRecursively(d._2))
    val up = upserts.withColumn("bucket", bucketOf)
    val upPayload = up.drop("bucket").schema

    if (!exists) {
      // first write goes straight to a compacted base generation
      // (deletes are vacuous against an empty container)
      val g0 = new java.io.File(baseRoot, "g=0")
      val obs = org.apache.spark.sql.Observation()
      // observe ABOVE the clustering exchange: the range partitioner's
      // boundary-sampling pass re-executes the exchange's CHILD, and a
      // metrics node down there would double-count every row
      clustered(up).observe(obs, count(lit(1)).as("n"))
        .write.partitionBy("bucket").mode(SaveMode.Overwrite)
        .parquet(g0.getPath)
      val nUp = obs.get("n").asInstanceOf[Long]
      if (nUp > 0) {
        saveSchema(upPayload)
        commit(g0, nUp)
      } else FsUtil.deleteRecursively(baseRoot)
      return TargetStats(nUp, 0)
    }

    // widened payload schema: later applies may add columns
    val stored = storedSchema.getOrElse(upPayload)
    val widened = org.apache.spark.sql.types.StructType(
      stored.fields ++
        upPayload.fields.filterNot(f => stored.fieldNames.contains(f.name)))
    def aligned(df: DataFrame, deleted: Boolean): DataFrame =
      df.select(widened.map(f =>
        (if (df.columns.contains(f.name)) col(f.name)
         else lit(null).cast(f.dataType)).as(f.name)) ++
        Seq(col("bucket"), lit(deleted).as("__deleted")): _*)
    val tomb = aligned(
      deleteKeys.select(col("row_key")).withColumn("bucket", bucketOf),
      deleted = true)
    val seg = aligned(up, deleted = false).unionByName(tomb)

    val segId = (deltaSegs.map(_._1) :+ -1L).max + 1
    val segDir = new java.io.File(deltaRoot, s"seg=$segId")
    val obs = org.apache.spark.sql.Observation()
    // an unclustered segment hash-repartitions on `bucket`, so each
    // bucket lands in ONE write task: the segment opens at most
    // numBuckets files, where written as it comes each input partition
    // opens one per bucket it holds (a 12-partition delta over 8
    // buckets wrote 96 tiny files). Observe ABOVE the exchange (see
    // the bootstrap branch).
    clusterBySql.fold(seg.repartition(col("bucket")))(_ => clustered(seg))
      .observe(obs,
        sum(when(col("__deleted"), 0L).otherwise(1L)).as("n_up"),
        sum(when(col("__deleted"), 1L).otherwise(0L)).as("n_del"))
      .write.partitionBy("bucket").mode(SaveMode.Overwrite)
      .parquet(segDir.getPath)
    // sum() over zero rows observes null, not 0
    val nUp = Option(obs.get("n_up").asInstanceOf[java.lang.Long])
      .fold(0L)(_.longValue)
    val nDel = Option(obs.get("n_del").asInstanceOf[java.lang.Long])
      .fold(0L)(_.longValue)
    if (nUp == 0 && nDel == 0) {
      // empty apply: the dir was never marker-committed (invisible);
      // remove it so the container is byte-identical to before
      FsUtil.deleteRecursively(segDir)
      return TargetStats(0, 0)
    }
    saveSchema(widened)
    commit(segDir, nUp + nDel)
    maintain(spark)
    TargetStats(nUp, nDel)
  }

  /** Post-apply housekeeping, in priority order (class doc): a
    * proportional (or absolute) byte trigger folds everything into a
    * new base; otherwise full tiers consolidate — fresh segments into
    * one once `maxDeltaSegments` accumulate, and ALL live segments
    * once the consolidated ones themselves reach `maxDeltaSegments`
    * (consolidating only the consolidated tier would be wrong: fresh
    * segments with interleaved ids can hold NEWER rows for a key than
    * an older consolidated segment, and the merged output's fresh id
    * would outrank them). */
  private def maintain(spark: SparkSession): Unit = {
    val segs = activeSegs
    val liveBytes = segs.map(FsUtil.sizeOf).sum
    val baseBytes = activeBase.map(FsUtil.sizeOf).getOrElse(0L)
    if (liveBytes >= maxDeltaBytes ||
        (liveBytes >= minFoldBytes && liveBytes >= foldRatio * baseBytes)) {
      compact(spark); return
    }
    if (segs.count(isConsolidated) >= maxDeltaSegments)
      consolidate(spark, segs)
    else {
      val fresh = segs.filterNot(isConsolidated)
      if (fresh.size >= maxDeltaSegments) consolidate(spark, fresh)
    }
  }

  private def consolidatedMarker(d: java.io.File) =
    new java.io.File(d, "_graft_consolidated")
  private def isConsolidated(d: java.io.File) = consolidatedMarker(d).exists()

  /** Merge `inputs` (live segments) into ONE consolidated segment and
    * retire them — latest-wins per key, tombstones KEPT (whether a
    * tombstoned key exists in the base is unknowable without reading
    * it, and consolidation never reads the base). Cost O(input
    * bytes). Convergent under crash: the output is invisible until
    * its marker, and once committed it outranks every input by
    * segment id while holding their exact latest rows, so
    * not-yet-retired inputs merely double-serve identical values (a
    * later pass re-consolidates and retires them). Tier-0 calls
    * consolidate ALL fresh segments, which preserves the invariant
    * that every fresh segment id exceeds every consolidated one. */
  private def consolidate(spark: SparkSession,
      inputs: Seq[java.io.File]): Unit = {
    if (inputs.size < 2) return
    val delta = spark.read.option("mergeSchema", "true")
      .option("basePath", deltaRoot.getPath)
      .parquet(inputs.map(_.getPath): _*)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("bucket", "row_key")
      .orderBy(col("seg").desc, col("__deleted").asc)
    // localCheckpoint cuts lineage to the input files retired below
    val latest = delta.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn", "seg")
      .localCheckpoint()
    val segId = (deltaSegs.map(_._1) :+ -1L).max + 1
    val segDir = new java.io.File(deltaRoot, s"seg=$segId")
    clustered(latest).write.partitionBy("bucket").mode(SaveMode.Overwrite)
      .parquet(segDir.getPath)
    segDir.mkdirs()
    java.nio.file.Files.write(consolidatedMarker(segDir).toPath,
      Array.empty[Byte])
    commit(segDir, latest.count())
    inputs.foreach(d => FsUtil.deleteRecursively(d))
  }

  private def commit(d: java.io.File, rows: Long = 0L): Unit = {
    d.mkdirs() // an all-tombstone empty-write still needs its marker
    // the marker carries the directory's row count — merged reads use
    // the live segments' total as the superseded-key-count estimate
    // that picks the base-side plan (broadcast vs bloom prefilter)
    java.nio.file.Files.write(markerOf(d).toPath,
      rows.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Rows in a committed directory, from its marker; legacy empty
    * markers estimate from on-disk bytes (~16 B/row lower bound keeps
    * big legacy containers off the broadcast path). */
  private def rowsOf(d: java.io.File): Long =
    scala.util.Try(new String(java.nio.file.Files.readAllBytes(
      markerOf(d).toPath), java.nio.charset.StandardCharsets.UTF_8)
      .trim.toLong).getOrElse(FsUtil.sizeOf(d) / 16)

  /** Fold every live segment into a fresh base generation, then
    * retire the inputs. Convergent under crash at any point: the new
    * generation is invisible until its marker, and replaying the (not
    * yet deleted) segments over the folded base is value-identical —
    * latest-wins of rows the base already holds. */
  def compact(spark: SparkSession): Unit = {
    val segs = activeSegs
    if (segs.isEmpty) return
    val prevGens = baseGens.filter(g => markerOf(g._2).exists())
    val gen = (baseGens.map(_._1) :+ -1L).max + 1
    // localCheckpoint cuts lineage to the segment files retired below
    val merged = read(spark).localCheckpoint()
    if (!merged.isEmpty) {
      val gDir = new java.io.File(baseRoot, s"g=$gen")
      clustered(merged).write.partitionBy("bucket").mode(SaveMode.Overwrite)
        .parquet(gDir.getPath)
      commit(gDir)
    }
    // all rows tombstoned → no new base; the empty table serves from
    // the schema sidecar
    segs.foreach(s => FsUtil.deleteRecursively(s))
    prevGens.foreach(g => FsUtil.deleteRecursively(g._2))
  }

  /** Merged view of base ∪ segments. Latest-wins runs only over
    * SEGMENT rows (bounded by the compaction policy); base rows
    * anti-join the thin superseded-key set. The window partitions by
    * (bucket, row_key) — bucket is functionally dependent on the key
    * — so a serve path's bucket filter still prunes below it. */
  def read(spark: SparkSession): DataFrame = {
    refuseCopyOnWriteLayout()
    val stored = storedSchema
    val base = activeBase.map(d => readerOf(spark, stored).parquet(d.getPath))
    val segs = activeSegs
    if (segs.isEmpty) base.getOrElse(emptyFromSidecar(spark))
    else {
      val delta = readerOf(spark, stored.map(_.add("__deleted", BooleanType)))
        .option("mergeSchema", "true")
        .option("basePath", deltaRoot.getPath)
        .parquet(segs.map(_.getPath): _*)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("bucket", "row_key")
        .orderBy(col("seg").desc, col("__deleted").asc)
      val latest = delta
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1 && !col("__deleted"))
        .drop("__rn", "__deleted", "seg")
      base match {
        case None => latest
        case Some(b) =>
          // the superseded-key-count estimate (live segment rows ≥
          // distinct keys) picks the base-side plan — both branches
          // below keep the corpus-sized base out of every Exchange
          // and every broadcast
          val keyEst = math.max(1L, segs.map(rowsOf).sum)
          if (keyEst <= maxBroadcastKeys)
            // EXPLICIT broadcast of the superseded-key set (r16
            // verdict #2 / ADVICE): the base side is corpus-sized —
            // left to statistics, segments past the auto-broadcast
            // threshold would sort-merge and EXCHANGE the base on
            // every read, the exact linear-in-N shuffle KeyedFetch
            // exists to prevent.
            b.join(broadcast(delta.select(col("row_key")).distinct()),
                Seq("row_key"), "left_anti")
              .unionByName(latest, allowMissingColumns = true)
          else {
            // bloom-prefiltered merge (class doc): a fat table run
            // under the proportional fold trigger legitimately holds
            // more delta keys than any broadcast should carry. Base
            // rows failing a delta-key bloom probe serve with NO join
            // at all; only the bloom-positive sliver (true superseded
            // keys + fpp of the base) pays an exact anti-join, forced
            // to sort-merge so the planner cannot choose to broadcast
            // the large key set. The filter is eager (one O(delta)
            // aggregate builds the bloom when the read PLAN is built)
            // and the broadcast it rides lives until session GC —
            // acceptable because reads this large are rare (folds,
            // handoffs, crash recovery), and each is corpus-scan
            // bound anyway.
            val keys = delta.select(col("row_key")).distinct()
            val bf = keys.stat.bloomFilter("row_key", keyEst, 0.01)
            val bc = spark.sparkContext.broadcast(bf)
            val might = udf((k: String) =>
              k != null && bc.value.mightContainString(k))
            b.filter(!might(col("row_key")))
              .unionByName(
                b.filter(might(col("row_key")))
                  .join(keys.hint("merge"), Seq("row_key"), "left_anti"))
              .unionByName(latest, allowMissingColumns = true)
          }
      }
    }
  }

  /** `spark.read`, with the payload schema SUPPLIED when the
    * `_schema.json` sidecar exists (like [[StateStore.read]]): no
    * footer-inference job runs, and files written before a column was
    * added read it as null, as `mergeSchema` inference would.
    * Containers written before the sidecar existed keep inference.
    * Partition columns (`bucket`, `seg`) are discovered from the
    * paths either way. */
  private def readerOf(spark: SparkSession, schema: Option[StructType])
      : org.apache.spark.sql.DataFrameReader =
    schema.fold(spark.read)(spark.read.schema)

  /** A written-then-emptied table (all rows tombstoned and folded, or
    * post-drop) reads as an empty LOCAL relation of its stored
    * schema, which Catalyst folds joins over. */
  private def emptyFromSidecar(spark: SparkSession): DataFrame =
    StateStore.emptyDf(spark, storedSchema.getOrElse(
      throw new IllegalStateException(s"target $dir not yet written")))
}

/** One flow, several physical containers: routes each desired row to
  * one CHILD target by a tag derived from its `row_key` (default: the
  * prefix before the first ':'). This is the multi-target-stage shape
  * the reference gets from mounting one source into several exports
  * (one `mount_each` fanned into sibling targets,
  * python/cocoindex/_internal/live_component.py:567) — the corpus is
  * listed, loaded, staged and reconciled ONCE, and only the final
  * apply fans out, instead of each export paying its own full engine
  * pass over the same source.
  *
  * Delete keys carry only `row_key`, which is why the tag must be
  * derivable from the key itself — a separate tag column could not
  * route deletes. Rows whose tag matches no child fail the apply
  * loudly (a silently dropped row would desync the tracking table
  * from the physical containers); children with an empty slice are
  * skipped without paying their per-apply jobs.
  */
final case class FanoutTarget(children: Map[String, Target],
    tagOfKeySql: String = "substring_index(row_key, ':', 1)")
    extends Target {
  require(children.nonEmpty, "FanoutTarget needs at least one child")

  private def tagCol = expr(tagOfKeySql)

  override def containerSignature: String =
    children.toSeq.sortBy(_._1)
      .map { case (tag, t) => s"$tag={${t.containerSignature}}" }
      .mkString(s"fanout;tag=$tagOfKeySql;", ";", "")

  override def truncate(spark: SparkSession): Unit =
    children.values.foreach(_.truncate(spark))

  def apply(spark: SparkSession, upserts: DataFrame,
      deleteKeys: DataFrame): TargetStats = {
    val up = upserts.withColumn("__tag", tagCol).cache()
    val del = deleteKeys.select(col("row_key")).withColumn("__tag", tagCol)
      .cache()
    try {
      // one action answers routing for every child: which tags have
      // rows (skip empty children's per-apply jobs) and whether any
      // row routes nowhere (fail before touching any container)
      val tagsPresent = up.select("__tag").unionByName(del.select("__tag"))
        .distinct().collect().map(_.getString(0)).toSet
      val unrouted = tagsPresent -- children.keySet
      require(unrouted.isEmpty,
        s"FanoutTarget: rows with tag(s) ${unrouted.mkString(", ")} match " +
          s"no child (children: ${children.keys.toSeq.sorted.mkString(", ")})")
      children.toSeq.sortBy(_._1).map { case (tag, t) =>
        if (!tagsPresent(tag)) TargetStats(0, 0)
        else t.apply(spark,
          up.filter(col("__tag") === tag).drop("__tag"),
          del.filter(col("__tag") === tag).drop("__tag"))
      }.reduce((a, b) => TargetStats(a.upserted + b.upserted,
        a.deleted + b.deleted))
    } finally { up.unpersist(); del.unpersist() }
  }

  /** Union of the children's contents, tagged; children not yet
    * written are skipped (a fanout flow's first apply may create only
    * the children that received rows). */
  def read(spark: SparkSession): DataFrame = {
    val readable = children.toSeq.sortBy(_._1).flatMap { case (tag, t) =>
      try Some(t.read(spark).withColumn("__fanout", lit(tag)))
      catch { case _: IllegalStateException => None }
    }
    if (readable.isEmpty)
      throw new IllegalStateException("FanoutTarget: no child written yet")
    readable.reduceLeft((a, b) => a.unionByName(b, allowMissingColumns = true))
  }
}

/** Files in a managed directory — the reference's
  * `localfs.mount_dir_target` (python/cocoindex/connectors/localfs/
  * _target.py:300-451): each row is one file (`row_key` = relative
  * path, `content` = bytes or string); delete removes the file.
  * Writes happen executor-side (foreachPartition), never through the
  * driver.
  */
final case class LocalFsDirTarget(dir: String) extends Target {

  override def containerSignature: String = s"managed-dir;dir=$dir"

  override def truncate(spark: SparkSession): Unit =
    FsUtil.deleteRecursively(new java.io.File(dir), keepRoot = true)

  def apply(spark: SparkSession, upserts: DataFrame,
      deleteKeys: DataFrame): TargetStats = {
    val base = dir
    // counts ride the write jobs as accumulators (r19, guide §1.2
    // step 1): the former standalone count() per side executed each
    // side's whole plan twice — once to count, once to write.
    // Accumulator updates inside ACTIONS are exactly-once under task
    // retry (Spark's documented guarantee), so the tallies are exact.
    val nUp =
      if (!upserts.columns.contains("content")) 0L // e.g. a drop: keys only
      else {
        val up = upserts.select(col("row_key"),
          col("content").cast("binary").as("content"))
        val acc = spark.sparkContext.longAccumulator("graft.fsdir.upserts")
        up.foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
          rows.foreach { r =>
            val f = new java.io.File(base, r.getString(0))
            f.getParentFile.mkdirs()
            java.nio.file.Files.write(f.toPath, r.getAs[Array[Byte]](1))
            acc.add(1L)
          }
        }
        acc.value.longValue()
      }
    val del = deleteKeys.select("row_key")
    val delAcc = spark.sparkContext.longAccumulator("graft.fsdir.deletes")
    del.foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
      rows.foreach { r =>
        val f = new java.io.File(base, r.getString(0))
        f.delete()
        delAcc.add(1L)
        // prune now-empty parent dirs up to (not incl.) the base
        var p = f.getParentFile
        val stop = new java.io.File(base).getCanonicalFile
        while (p != null && p.getCanonicalFile != stop &&
          Option(p.list()).exists(_.isEmpty)) {
          p.delete(); p = p.getParentFile
        }
      }
    }
    TargetStats(nUp, delAcc.value.longValue())
  }

  def read(spark: SparkSession): DataFrame =
    spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true").load(dir)
      .select(col("path"), col("content"))
}
