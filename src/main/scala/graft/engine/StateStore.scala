package graft.engine

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._
import scala.util.Try

/** The engine's own persistent state — the Spark analog of the
  * reference's LMDB environment (SURVEY.md §1.4; keyspace
  * rust/core/src/state/db_schema.rs:158-226). State lives as
  * versioned parquet snapshots:
  *
  * {{{
  *   stateDir/v=3/component_memo/…parquet        # base table
  *   stateDir/v=3/tracking@s000004/…parquet      # delta segment
  *   stateDir/_CURRENT            # contains "3"; atomically replaced
  * }}}
  *
  * `commit` writes a new snapshot and then atomically moves the
  * `_CURRENT` pointer. Convergence contract (the reference's
  * "no rollback, convergent roll-forward",
  * docs processing_component.mdx): target writes are idempotent
  * keyed MERGEs and happen *before* the pointer flip, so a crash
  * anywhere leaves either (a) old pointer + partially-applied
  * targets — next run recomputes the same delta from the old state
  * and re-applies it idempotently — or (b) new pointer + fully
  * applied targets. The reference needs a pending-token protocol
  * (execution.rs:806-827) because it commits per-component; a
  * whole-snapshot pointer collapses that to a single atomic rename.
  *
  * Write amplification: a table may be committed either [[StateStore.Full]]
  * (complete rewrite — the reference's whole-DB LMDB txn analog) or
  * [[StateStore.Delta]] (ONE new parquet segment holding just the
  * run's upserts + delete tombstones). Delta commits make a changing
  * run's state write O(changed rows), not O(components): every
  * untouched base/segment directory carries forward as hard links
  * (metadata-only). `read` merges base + segments latest-wins on the
  * family's merge keys and filters tombstones — the Delta-log /
  * LSM-compaction pattern on a plain filesystem. When a family
  * accumulates more than [[StateStore.MaxSegments]] segments, the
  * next Delta commit compacts it back to a single base (amortized
  * O(N) every ~MaxSegments runs, so reads stay a bounded union).
  */
final class StateStore(spark: SparkSession, rootDir: String) {
  import StateStore._

  private val root: Path = Paths.get(rootDir)
  Files.createDirectories(root)

  def currentVersion: Long = {
    val p = root.resolve(CurrentFile)
    if (Files.exists(p))
      Try(new String(Files.readAllBytes(p), StandardCharsets.UTF_8).trim.toLong)
        .getOrElse(0L)
    else 0L
  }

  /** Directory names inside snapshot `v` (empty when absent). */
  private def snapshotDirs(v: Long): Array[String] =
    if (v <= 0) Array.empty
    else Option(root.resolve(s"v=$v").toFile.listFiles())
      .getOrElse(Array.empty).filter(_.isDirectory).map(_.getName)

  /** Segment dirs of `table` at version `v`, (name, seq) sorted by seq. */
  private def segmentsOf(table: String, v: Long): Seq[(String, Long)] =
    snapshotDirs(v).toSeq
      .filter(_.startsWith(table + SegSep))
      .flatMap { n =>
        Try(n.drop(table.length + SegSep.length).toLong).toOption.map(n -> _)
      }
      .sortBy(_._2)

  private def rootKey: String = root.toAbsolutePath.toString

  /** Read a state table at the current version (an empty local
    * relation with the right schema when absent or counted empty).
    * Base + delta segments merge latest-wins on the family's merge
    * keys; tombstones are filtered.
    *
    * The merged view is persisted and memoized JVM-wide by
    * (root, version, table): snapshots are immutable, so every read
    * of the same table at the same version — an engine run touches
    * component_memo several times, and multi-run gates more — shares
    * one materialization instead of re-running the union + window
    * per consumer. Entries invalidate with their snapshot (commit
    * prune / clear). Base-only reads are NOT cached: a plain parquet
    * scan is already cheap and cache-managed by the file index. */
  def read(table: String, schema: StructType): DataFrame = {
    val v = currentVersion
    val base = root.resolve(s"v=$v").resolve(table)
    val hasBase = v > 0 && Files.exists(base)
    val segs = segmentsOf(table, v)
    if (!hasBase && segs.isEmpty || countsAt(v).get(table).contains(0L))
      emptyDf(spark, schema)
    else if (segs.isEmpty) spark.read.schema(schema).parquet(base.toString)
    else {
      val key = (rootKey, v, table)
      val cached = StateStore.readCacheGet(key)
      // a cached view is only valid for a LIVE session: after a
      // session stop/restart in the same JVM the entry's plan is
      // bound to a dead context — drop and rebuild on this session
      val cachedLive =
        if (cached == null) null
        else if ((cached.sparkSession eq spark) &&
          !spark.sparkContext.isStopped) cached
        else { StateStore.readCacheDrop(key, cached); null }
      if (cachedLive != null) cachedLive
      else {
        StateStore.noteBuild(rootKey)
        val merged = mergedView(table, schema, v, hasBase, segs, None)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val prior = StateStore.readCachePutIfAbsent(key, merged)
        if (prior != null) { merged.unpersist(false); prior } else merged
      }
    }
  }

  /** Merged view of `table` restricted — BELOW the latest-wins
    * window — to rows matching `pred`. Sound ONLY when `pred` is
    * stable across every version of a merge-key group: a predicate on
    * the merge keys themselves, or on a column the caller declares
    * immutable per key (e.g. [[Flow]]'s `rowKeyOwnedByItem` tracking
    * scope). An unstable predicate could keep a superseded version of
    * a key while dropping its current one, serving stale rows as
    * current.
    *
    * Unlike [[read]], the restriction reaches the parquet scans as a
    * pushed predicate — bases are clustered by their merge keys at
    * commit, so a keyed/scoped read prunes row groups and the merge
    * window shuffles only the matched rows: O(scope), not O(table).
    * Uncached (each call plans fresh); callers cache the delta-sized
    * result if they consume it more than once.
    *
    * TOMBSTONES pass the filter unconditionally: a tombstone row
    * carries only the merge keys (every other column null), so a
    * predicate on a non-key column would silently DROP it and
    * resurrect the deleted row's older version — the first run of
    * this method's own spec caught exactly that. Keeping all
    * tombstones is sound: a group whose pred-matching upserts were
    * all filtered out ranks a tombstone (or nothing) first and the
    * final `!deleted` filter drops it, so out-of-scope rows still
    * never surface. */
  def readWhere(table: String, schema: StructType,
      pred: org.apache.spark.sql.Column): DataFrame = {
    val v = currentVersion
    val base = root.resolve(s"v=$v").resolve(table)
    val hasBase = v > 0 && Files.exists(base)
    val segs = segmentsOf(table, v)
    if (!hasBase && segs.isEmpty || countsAt(v).get(table).contains(0L))
      emptyDf(spark, schema)
    else if (segs.isEmpty)
      spark.read.schema(schema).parquet(base.toString).filter(pred)
    else mergedView(table, schema, v, hasBase, segs, Some(pred))
  }

  /** The merge plan shared by [[read]] and [[readWhere]]: base ∪
    * segments of `table` at version `v`, latest-wins on the family's
    * merge keys, tombstones filtered. `pred` restricts every part
    * BELOW the window; tombstones pass it (see [[readWhere]]). */
  private def mergedView(table: String, schema: StructType, v: Long,
      hasBase: Boolean, segs: Seq[(String, Long)],
      pred: Option[org.apache.spark.sql.Column]): DataFrame = {
    import org.apache.spark.sql.functions._
    val keys = StateStore.mergeKeysOf(table)
    require(keys.nonEmpty,
      s"state table $table has delta segments but no registered merge keys")
    val segSchema = StructType(schema.fields :+
      StructField(DelCol, org.apache.spark.sql.types.BooleanType))
    val snapshot = root.resolve(s"v=$v")
    val parts =
      (if (hasBase)
        Seq(spark.read.schema(schema).parquet(snapshot.resolve(table).toString)
          .withColumn(DelCol, lit(false)).withColumn(SeqCol, lit(0L)))
      else Seq.empty) ++
      segs.map { case (name, seq) =>
        spark.read.schema(segSchema)
          .parquet(snapshot.resolve(name).toString)
          .withColumn(SeqCol, lit(seq))
      }
    // within one segment an upsert beats a tombstone of its own key
    // (false sorts first), so a commit writes its tombstones as given:
    // a key both deleted and re-upserted survives, and a repeated
    // tombstone is harmless
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col(SeqCol).desc, col(DelCol).asc)
    pred.fold(parts)(p => parts.map(_.filter(p || col(DelCol))))
      .reduce(_.unionByName(_))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && !col(DelCol))
      .select(schema.fieldNames.map(col).toIndexedSeq: _*)
  }

  /** Whether `table` exists (base or any delta segment) in the
    * current snapshot. */
  def tableExists(table: String): Boolean = {
    val v = currentVersion
    v > 0 && (Files.exists(root.resolve(s"v=$v").resolve(table)) ||
      segmentsOf(table, v).nonEmpty)
  }

  /** One scope's slice of a sharded family: its shard once that
    * exists; until then, rows for `scope` from a legacy unsharded
    * table of the same name (a snapshot written before sharding —
    * ignoring it would restart id sequences and void fn caches). The
    * caller's first commit seeds the shard from this read; from then
    * on the frozen legacy copy is ignored, so rows the shard has
    * since pruned cannot resurrect from it. */
  def readScoped(family: String, scope: String, schema: StructType)
      : DataFrame = {
    val shard = shardName(family, scope)
    if (tableExists(shard)) read(shard, schema)
    else read(family, schema)
      .filter(org.apache.spark.sql.functions.col("scope") === scope)
  }

  /** Union of every shard of a sharded table family (see
    * [[StateStore.shardName]]) plus any legacy unsharded table of the
    * same name. Sharding keeps a per-scope commit from rewriting the
    * whole family: each scope is its own physical table, so `commit`
    * touches only that scope's files and sibling scopes carry forward
    * as hard links. */
  def readFamily(family: String, schema: StructType): DataFrame = {
    val v = currentVersion
    // distinct logical TABLE names of the family (segment suffixes
    // stripped): the base family plus every `family~scope-hash` shard
    val tables = snapshotDirs(v)
      .map(n => n.indexOf(SegSep) match {
        case -1 => n
        case i  => n.take(i)
      })
      .distinct
      .filter(n => n == family || n.startsWith(family + "~"))
    val (legacy, shards) = tables.partition(_ == family)
    def readAll(ts: Array[String]): DataFrame =
      ts.map(read(_, schema)).reduce(_.unionByName(_))
    if (tables.isEmpty) emptyDf(spark, schema)
    else if (legacy.isEmpty || shards.isEmpty) readAll(tables)
    else {
      // a scope that has migrated to its own shard was SEEDED from the
      // legacy table (readScoped) — its legacy rows are a frozen copy
      // that must not double-count or resurrect shard-pruned rows;
      // only scopes without a shard still read from legacy
      val shardRows = readAll(shards)
      readAll(legacy)
        .join(shardRows.select("scope").distinct(), Seq("scope"), "left_anti")
        .unionByName(shardRows)
    }
  }

  /** Full-rewrite commit of every given table (the original protocol;
    * tables absent from `tables` carry forward as hard links). */
  def commit(tables: Map[String, DataFrame]): Long =
    commitTables(tables.map { case (n, df) => n -> Full(df) })

  // ---- per-table row counts (snapshot sidecar) ------------------------
  // Exact row counts ride each snapshot so a delta-scoped engine pass
  // can report totals (components/unchanged) WITHOUT materializing the
  // merged table — the stats analog of the nightly's "O(sidecar),
  // never a corpus count" rule. Maintained exactly: rewrites (Full /
  // first commit / compaction) recount from parquet footers (no data
  // pages read); a Delta segment commit advances by the caller's
  // declared delta, or INVALIDATES the entry when the caller cannot
  // supply one — absent counts make readers fall back to the full
  // path, never serve a wrong total.
  private def countsFile(v: Long): java.io.File =
    root.resolve(s"v=$v").resolve("_counts.json").toFile
  private def countsAt(v: Long): Map[String, Long] =
    if (v <= 0) Map.empty
    else Sidecar.read(countsFile(v))
      .map(_.flatMap { case (k, s) => Try(s.toLong).toOption.map(k -> _) })
      .getOrElse(Map.empty)

  /** Exact current row count of `table`, when this snapshot carries
    * one (see the counts sidecar notes above). */
  def rowCount(table: String): Option[Long] =
    countsAt(currentVersion).get(table)

  /** Sum of the parquet row counts under `dir`, from file footers on
    * the driver — exact, no Spark job, no data pages. */
  private def parquetFooterRows(d: Path): Long = {
    val files = Option(d.toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    val conf = spark.sessionState.newHadoopConf()
    files.map { f =>
      Try {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new org.apache.hadoop.fs.Path(f.getPath), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRecordCount finally r.close()
      }.getOrElse(0L)
    }.sum
  }

  /** Write the next snapshot, then atomically flip `_CURRENT`.
    * [[Full]] tables are rewritten (their old base + segments drop);
    * [[Delta]] tables gain ONE new segment of upserts + tombstones —
    * O(changed rows) of physical write. Every other directory in the
    * current snapshot carries forward untouched as hard links
    * (metadata-only — a committer of memo+tracking must not lose
    * id_seq/user_state). Returns the new version.
    *
    * The table writes, the carry-forward and `alongside` (an engine
    * pass's target apply) run concurrently ([[Overlap]]): none reads
    * what another writes, and `v=next` is invisible until the flip,
    * which happens only after every branch has succeeded — so the
    * target apply still lands before the pointer moves. A failed
    * branch removes the partial `v=next` and rethrows. */
  def commitTables(tables: Map[String, TableCommit],
      countDeltas: Map[String, Long] = Map.empty,
      alongside: () => Unit = () => ()): Long = {
    val cur = currentVersion
    val next = cur + 1
    val dir = root.resolve(s"v=$next")
    // the pointer still names `cur`, so an existing v=next is what a
    // crashed or failed commit left behind: its stale segment dirs,
    // or a crashed compaction's parts beside hard-linked base files,
    // would go live at this commit's flip
    deleteRecursively(dir)
    // footer-only recount of a freshly-rewritten table, driver-side
    // (no Spark job — a per-commit count job would tax every engine
    // pass ~100-300 ms of pure scheduling); keyless tables (e.g. the
    // 1-row target_state rewritten every run) carry no counts at all
    type CountUpdate = Map[String, Long] => Map[String, Long]
    def recount(name: String): CountUpdate =
      if (mergeKeysOf(name).isEmpty) identity
      else _ + (name -> parquetFooterRows(dir.resolve(name)))
    // bases are CLUSTERED by their merge keys (range-partitioned +
    // sorted within partitions) so a keyed read's IN predicate prunes
    // parquet row groups by column statistics — the difference between
    // a reconcile reading O(scope keys) and re-scanning the table
    // (hash/lineage placement spreads every key range over every file,
    // making min/max stats vacuous). The range shuffle rides writes
    // that are already O(table) — first commit, compaction, Full — so
    // the asymptotics are unchanged.
    def clustered(df: DataFrame, name: String): DataFrame = {
      import org.apache.spark.sql.functions.col
      val keys = mergeKeysOf(name)
      if (keys.isEmpty) df
      else df.repartitionByRange(keys.map(col).toIndexedSeq: _*)
        .sortWithinPartitions(keys.map(col).toIndexedSeq: _*)
    }
    def rewrite(df: DataFrame, name: String): CountUpdate = {
      clustered(df, name).write.mode("overwrite")
        .parquet(dir.resolve(name).toString)
      recount(name)
    }
    // resolve each table to (rewritten?, its write) on the driver; a
    // family over MaxSegments compacts: its merged current content +
    // the delta rewrites as a fresh base (amortized O(N) every
    // ~MaxSegments delta commits)
    val plans: Seq[(String, Boolean, () => CountUpdate)] = tables.toSeq.map {
      case (name, Full(df)) => (name, true, () => rewrite(df, name))
      case (name, Delta(upserts, deleteKeys)) =>
        val keys = mergeKeysOf(name)
        require(keys.nonEmpty,
          s"Delta commit of $name: no registered merge keys")
        require(keys.forall(upserts.columns.contains),
          s"Delta commit of $name: upserts missing key cols " +
            keys.filterNot(upserts.columns.contains).mkString(","))
        import org.apache.spark.sql.functions._
        val schema = upserts.schema
        val segs = segmentsOf(name, cur)
        val hasBase = cur > 0 &&
          Files.exists(root.resolve(s"v=$cur").resolve(name))
        def dirBytes(d: Path): Long =
          if (!Files.exists(d)) 0L
          else {
            val stream = Files.walk(d)
            try {
              var n = 0L
              val it = stream.iterator()
              while (it.hasNext) {
                val p = it.next()
                if (Files.isRegularFile(p)) n += Files.size(p)
              }
              n
            } finally stream.close() // walk holds directory fds open
          }
        // LSM trigger: enough segments AND (their bytes approach the
        // base's, or the hard fan-in cap is hit) — amortized O(delta)
        // write per commit, bounded read-side union
        val shouldCompact = segs.size >= MaxSegments && {
          val segBytes = segs.map { case (n2, _) =>
            dirBytes(root.resolve(s"v=$cur").resolve(n2))
          }.sum
          val baseBytes = dirBytes(root.resolve(s"v=$cur").resolve(name))
          segs.size >= HardMaxSegments || segBytes * 4L >= baseBytes
        }
        val upsertRows =
          upserts.select(schema.fieldNames.map(col).toIndexedSeq: _*)
        if (!hasBase && segs.isEmpty)
          // first commit of this table: the delta IS the content —
          // write it as a clean base (tombstones have nothing to hit),
          // so steady-state reads start from a single dir
          (name, true, () => rewrite(upsertRows, name))
        else if (shouldCompact)
          // compact: merged view (lazy over the CURRENT version's
          // files, which survive until prune keeps `next`-1) + delta
          (name, true, () => {
            val delKeys = deleteKeys
              .select(keys.map(c => col(c)).toIndexedSeq: _*).distinct()
            rewrite(read(name, schema)
              .join(upserts.select(keys.map(col).toIndexedSeq: _*)
                .union(delKeys), keys, "left_anti")
              .unionByName(upsertRows), name)
          })
        else (name, false, () => {
          val nextSeq = segs.lastOption.map(_._2 + 1).getOrElse(1L)
          val keyCols = keys.map(col).toIndexedSeq
          // tombstones go in as given — one write job per segment: the
          // merged read lets an upsert win over its own key's tombstone
          // in the same segment (see mergedView)
          val tombRows = schema.fields.filterNot(f => keys.contains(f.name))
            .foldLeft(deleteKeys.select(keyCols: _*))((df, f) =>
              df.withColumn(f.name, lit(null).cast(f.dataType)))
            .select(schema.fieldNames.map(col).toIndexedSeq: _*)
            .withColumn(DelCol, lit(true))
          // small-delta segments coalesce to one file: the write cost
          // of a 1-row change must be one small file, not 32 shards
          // sorted within the (single) file so scoped reads prune
          // parquet row groups in segments too, not just the base
          upsertRows.withColumn(DelCol, lit(false)).unionByName(tombRows)
            .coalesce(1).sortWithinPartitions(keyCols: _*)
            .write.mode("overwrite")
            .parquet(dir.resolve(f"$name$SegSep$nextSeq%06d").toString)
          // base + prior segments of this family carry forward; the
          // count advances by the caller's declared exact delta, or
          // invalidates (see the counts sidecar notes)
          (counts: Map[String, Long]) => countDeltas.get(name) match {
            case Some(d) if counts.contains(name) =>
              counts + (name -> (counts(name) + d))
            case _ => counts - name
          }
        })
    }
    // logical tables rewritten this commit (Full/first/compaction)
    val written = plans.collect { case (name, true, _) => name }.toSet
    val prevDir = root.resolve(s"v=$cur")
    def carryForward(): Unit = if (cur > 0 && Files.exists(prevDir)) {
      import scala.jdk.CollectionConverters._
      // a directory carries forward unless its logical table was
      // REWRITTEN this commit (Full/compaction replaces base+segments)
      def tableOf(n: String): String =
        n.indexOf(SegSep) match { case -1 => n; case i => n.take(i) }
      Option(prevDir.toFile.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && !written.contains(tableOf(f.getName)))
        .foreach { t =>
          val tgt = dir.resolve(t.getName)
          val stream = Files.walk(t.toPath)
          try stream.iterator().asScala.foreach { p =>
            val rel = t.toPath.relativize(p)
            val dst = tgt.resolve(rel.toString)
            if (Files.isDirectory(p)) Files.createDirectories(dst)
            else {
              Files.createDirectories(dst.getParent)
              // snapshot files are immutable once written, so carrying
              // a table forward is a metadata-only hard link — O(#files),
              // not O(bytes); `prune` removes links, the content is
              // freed with its last reference (the Delta/Iceberg
              // manifest-reuse analog on a plain filesystem)
              try Files.createLink(dst, p)
              catch { case _: Exception =>
                Files.copy(p, dst, StandardCopyOption.REPLACE_EXISTING)
              }
            }
          } finally stream.close()
        }
    }
    val updates =
      try Overlap.all[Option[CountUpdate]](
        plans.map { case (_, _, write) => () => Some(write()) } ++
          Seq(() => { carryForward(); None }, () => { alongside(); None }))
      catch { case e: Throwable => deleteRecursively(dir); throw e }
    val counts = updates.flatten.foldLeft(countsAt(cur))((c, u) => u(c))
    // counts land inside the snapshot dir BEFORE the version flip, so
    // they are exactly as atomic as the tables they describe
    Files.createDirectories(dir)
    Sidecar.write(countsFile(next),
      counts.map { case (k, v) => k -> v.toString })
    val tmp = root.resolve(s"$CurrentFile.tmp")
    Files.write(tmp, next.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, root.resolve(CurrentFile),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    // cached merged views of the snapshots prune() is about to delete
    // must go FIRST: an unmaterialized cached plan over deleted files
    // would fail its first action
    StateStore.invalidateReadCache(rootKey, upTo = next - 2)
    prune(keep = 2, next)
    next
  }

  /** Drop all state (the `drop` lifecycle op). */
  def clear(): Unit = {
    StateStore.invalidateReadCache(rootKey, upTo = Long.MaxValue)
    deleteRecursively(root)
    Files.createDirectories(root)
  }

  private def prune(keep: Int, current: Long): Unit = {
    val dirs = Option(root.toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("v="))
      .map(f => f.getName.drop(2).toLong)
      .filter(_ <= current - keep)
    dirs.foreach(v => deleteRecursively(root.resolve(s"v=$v")))
  }

  private def deleteRecursively(p: Path): Unit =
    FsUtil.deleteRecursively(p.toFile)
}

object StateStore {
  val CurrentFile = "_CURRENT"

  /** An empty LOCAL relation: Catalyst's PropagateEmptyRelation folds
    * joins, filters and grouped aggregates over it at plan time, so a
    * read of known-empty state costs no scan, exchange or job. */
  private[engine] def emptyDf(spark: SparkSession, schema: StructType)
      : DataFrame =
    spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)

  /** JVM-wide memo of persisted merged reads, keyed by
    * (state root, snapshot version, table) — see [[StateStore.read]].
    * Snapshot immutability makes the key sound; entries die with
    * their snapshot — AND with LRU pressure: commits only evict
    * entries of the SAME root, so a long session touching many roots
    * (or many readScoped shard tables) would otherwise pin persisted
    * views indefinitely.
    *
    * Eviction is ROOT-AWARE, not a flat LRU: a flat bound lets one
    * root's churn (a gate creating many shard-table entries) evict
    * another ACTIVE root's merged views between two of its own reads,
    * forcing the union+window merge to re-run over and over — in a
    * multi-flow gate that turned a bounded cache into a ~30% tax per
    * gate. Structure: per-root sub-caches, both levels access-ordered.
    * When the total exceeds the bound we evict the eldest entry of the
    * least-recently-used root that is NOT among the 2 most-recently
    * -used roots (active flows interleave at most a source and a
    * target root between consecutive reads); if every root is that
    * recent (≤ 2 roots live), the inserting root cannibalizes its own
    * LRU entry — other roots' working sets are never touched. The
    * evicted view unpersists and the next reader simply rebuilds it.
    * The default bound is sized well above a single gate's working
    * set (shards × tables × ≤2 live versions); entries are lazily
    * persisted plans, so an entry costs memory only once computed and
    * spills MEMORY_AND_DISK under pressure. */
  private val ReadCacheMax =
    sys.env.getOrElse("SPARK_GRAFT_STATE_READ_CACHE_MAX", "1024").toInt
  /** Roots exempt from cross-root eviction (most-recently-used K). */
  private val ReadCacheExemptRoots = 2
  /** Test seam: shrink the bound to observe eviction. */
  private[engine] var readCacheMaxOverride: Option[Int] = None

  private type ReadKey = (String, Long, String)
  private type RootCache = java.util.LinkedHashMap[ReadKey, DataFrame]
  /** Outer map: access-ordered by root; inner: access-ordered keys. */
  private val readCache =
    new java.util.LinkedHashMap[String, RootCache](16, 0.75f, true)
  private var readCacheEntries = 0
  /** Per-root count of merged-view BUILDS (cache misses that ran the
    * union+window merge). Test seam for the no-thrash invariant: an
    * active root re-read under other roots' churn must not rebuild. */
  private[engine] val readBuildCounts =
    scala.collection.concurrent.TrieMap.empty[String, Long]
  private[engine] def noteBuild(rootKey: String): Unit = {
    readBuildCounts.updateWith(rootKey) {
      case Some(n) => Some(n + 1); case None => Some(1L)
    }; ()
  }

  private[engine] def readCacheGet(key: ReadKey): DataFrame =
    readCache.synchronized {
      val inner = readCache.get(key._1)
      if (inner == null) null else inner.get(key)
    }

  private[engine] def readCachePutIfAbsent(
      key: ReadKey, df: DataFrame): DataFrame = {
    val dead = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val prior = readCache.synchronized {
      val inner = readCache.computeIfAbsent(key._1,
        _ => new RootCache(16, 0.75f, true))
      val p = inner.putIfAbsent(key, df)
      if (p == null) {
        readCacheEntries += 1
        evictLocked(insertingRoot = key._1, justPut = key, dead)
      }
      p
    }
    dead.foreach(d => scala.util.Try(d.unpersist(blocking = false)))
    prior
  }

  /** Evict down to the bound. Caller holds the readCache monitor;
    * victims are collected into `dead` and unpersisted outside it. */
  private def evictLocked(
      insertingRoot: String, justPut: ReadKey,
      dead: scala.collection.mutable.ArrayBuffer[DataFrame]): Unit = {
    import scala.jdk.CollectionConverters._
    val max = readCacheMaxOverride.getOrElse(ReadCacheMax)
    var stuck = false
    while (readCacheEntries > max && !stuck) {
      // Snapshot eldest-first WITHOUT calling get() on the outer map:
      // an access-ordered get would promote the victim root to MRU and
      // rotate eviction onto the roots the policy exists to protect.
      val roots = readCache.entrySet().asScala.toVector
        .map(e => e.getKey -> e.getValue) // eldest-first
      val exempt = roots.takeRight(ReadCacheExemptRoots).map(_._1).toSet
      // No third fallback onto other roots: when only exempt roots
      // hold entries and the inserting root owns just the fresh one,
      // evicting an exempt root's entry would be exactly the
      // cross-root rebuild this policy exists to prevent — accept a
      // transient over-bound instead (bounded by the exempt roots'
      // own working set; their next insert self-cannibalizes via the
      // second branch).
      val victim: Option[(String, RootCache)] =
        roots.find(r => !exempt(r._1))
          .orElse(roots.find(r => r._1 == insertingRoot && r._2.size > 1))
      victim match {
        case None => stuck = true // only exempt working sets remain
        case Some((vr, inner)) =>
          val it = inner.entrySet().iterator()
          var evicted = false
          while (it.hasNext && !evicted) {
            val e = it.next()
            if (e.getKey != justPut) {
              dead += e.getValue; it.remove()
              readCacheEntries -= 1; evicted = true
            }
          }
          if (inner.isEmpty) readCache.remove(vr)
          if (!evicted) stuck = true // nothing evictable but fresh entry
      }
    }
  }

  private[engine] def readCacheDrop(key: ReadKey, expected: DataFrame): Unit =
    readCache.synchronized {
      val inner = readCache.get(key._1)
      if (inner != null && inner.remove(key, expected)) {
        readCacheEntries -= 1
        if (inner.isEmpty) readCache.remove(key._1)
      }
    }
  private[engine] def readCacheSize: Int =
    readCache.synchronized(readCacheEntries)

  private def invalidateReadCache(rootKey: String, upTo: Long): Unit = {
    import scala.jdk.CollectionConverters._
    val dead = readCache.synchronized {
      val inner = readCache.get(rootKey)
      if (inner == null) Vector.empty[DataFrame]
      else {
        val ks = inner.keySet.asScala.toVector.filter(_._2 <= upTo)
        val dfs = ks.map(inner.remove)
        readCacheEntries -= ks.size
        if (inner.isEmpty) readCache.remove(rootKey)
        dfs
      }
    }
    dead.foreach { df =>
      if (df != null) scala.util.Try(df.unpersist(blocking = false))
    }
  }

  /** Segment-dir separator: `tracking@s000004` is delta segment 4 of
    * table `tracking`. (`~` is taken by scope shards; `@` is inert to
    * both Hadoop path parsing and glob expansion.) */
  val SegSep = "@s"

  /** Tombstone marker column inside delta segments. */
  val DelCol = "__del"

  /** Merge-ordinal column (derived from the segment name at read). */
  val SeqCol = "__seq"

  /** Segment count past which compaction is CONSIDERED. Actually
    * compacting additionally requires the accumulated segment bytes
    * to reach a fraction of the base (LSM-style): compacting a huge
    * base because 8 one-row ticks accumulated would make a
    * high-frequency live loop pay amortized O(N/8) per tick — the
    * cost the delta log exists to avoid. */
  val MaxSegments: Int =
    sys.env.getOrElse("SPARK_GRAFT_STATE_MAX_SEGMENTS", "8").toInt

  /** Hard segment-count cap: compaction is forced here regardless of
    * byte ratio, bounding the read-side union fan-in. */
  val HardMaxSegments: Int =
    sys.env.getOrElse("SPARK_GRAFT_STATE_HARD_MAX_SEGMENTS", "64").toInt

  /** How a table is committed: [[Full]] rewrites it; [[Delta]] writes
    * one segment of upserts + delete-key tombstones (O(changed)). */
  sealed trait TableCommit
  final case class Full(df: DataFrame) extends TableCommit
  /** A segment commit: `upserts` rows plus tombstones for
    * `deleteKeys`. Delete keys may repeat, and a key both deleted and
    * upserted keeps its upsert. */
  final case class Delta(upserts: DataFrame, deleteKeys: DataFrame)
      extends TableCommit

  /** Latest-wins merge keys per state family (shard names resolve to
    * their family). A family absent here is Full-commit-only. */
  def mergeKeysOf(table: String): Seq[String] = {
    val family = table.split('~')(0)
    family match {
      case "component_memo" => Seq("item_key")
      case "tracking"       => Seq("row_key")
      case "errors"         => Seq("item_key", "row_key")
      case "user_state"     => Seq("item_key", "state_key")
      case "fn_memo"        => Seq("scope", "args_fp")
      case "id_seq"         => Seq("scope", "seq_key")
      case _                => Seq.empty
    }
  }

  /** Physical table name for one scope of a sharded family:
    * `family~<sanitized-scope>-<hash8>`. Committing a scope rewrites
    * only its own shard; at 100× the cache this bounds a memoized
    * stage's commit to O(its scope), with every sibling scope carried
    * forward as hard links. The hash keeps exotic scope names unique
    * after sanitization. */
  def shardName(family: String, scope: String): String = {
    val san = scope.take(48).map(c =>
      if (c.isLetterOrDigit || c == '.' || c == '_' || c == '-') c else '_')
    s"$family~$san-${Fingerprint.of("shard", scope).take(8)}"
  }

  /** One row per component (= source item): the component-level memo
    * (reference ComponentMemoizationInfo, db_schema.rs:271-292).
    * `memo_state` is the cheap first-level freshness check (mtime:size
    * for files); `content_fp` the second level (reference 2-level
    * FileLike validation, python/cocoindex/resources/file.py:160-183).
    */
  val ComponentMemoSchema: StructType = StructType(Seq(
    StructField("item_key", StringType, nullable = false),
    StructField("processor_fp", StringType, nullable = false),
    StructField("memo_state", StringType, nullable = true),
    StructField("content_fp", StringType, nullable = true)))

  /** One row per declared target state: the diff baseline (reference
    * StablePathEntryTrackingInfo, db_schema.rs:435-452, collapsed to
    * its at-rest single-state form). */
  val TrackingSchema: StructType = StructType(Seq(
    StructField("item_key", StringType, nullable = false),
    StructField("row_key", StringType, nullable = false),
    StructField("value_fp", StringType, nullable = false)))

  /** Persistent per-component user state cells
    * (reference `coco.use_state`, api.py:747; db_schema.rs:78). */
  val UserStateSchema: StructType = StructType(Seq(
    StructField("item_key", StringType, nullable = false),
    StructField("state_key", StringType, nullable = false),
    StructField("value", StringType, nullable = true)))

  /** Per-row failures recorded at the last run of their component
    * (the engine's exception-routing sidecar). */
  val ErrorsSchema: StructType = StructType(Seq(
    StructField("item_key", StringType, nullable = false),
    StructField("row_key", StringType, nullable = false),
    StructField("error", StringType, nullable = true)))

  /** Stable id sequences (reference IdSequencerInfo,
    * db_schema.rs:483-487). */
  val IdSeqSchema: StructType = StructType(Seq(
    StructField("scope", StringType, nullable = false),
    StructField("seq_key", StringType, nullable = false),
    StructField("id", LongType, nullable = false)))

  /** The flow target's table-level tracking record + provider
    * generation (reference TargetStateInfoItem + provider_generation,
    * rust/core/src/state/db_schema.rs; generation bump semantics
    * execution.rs:1063-1085): `main` is the container signature,
    * `sub_json` the per-column signatures; a destructive transition
    * bumps `provider_id`, a lossy one `schema_version` — both feed the
    * effective processor fingerprint, so memoized components re-run.
    */
  val TargetStateSchema: StructType = StructType(Seq(
    StructField("main", StringType, nullable = false),
    StructField("sub_json", StringType, nullable = false),
    StructField("managed_by", StringType, nullable = false),
    StructField("provider_id", LongType, nullable = false),
    StructField("schema_version", LongType, nullable = false),
    // SQL-command attachment records (name/fp/teardown/invalidation;
    // reference attachment target states) — null in legacy snapshots
    StructField("att_json", StringType, nullable = true)))
}
