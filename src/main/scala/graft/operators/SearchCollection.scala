package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine._

/** A search collection — rows plus MAINTAINED vector + keyword
  * indexes declared as one unit, the shape of the reference's
  * vector-store table targets: lancedb's `declare_row` +
  * `declare_vector_index` + `declare_fts_index`
  * (python/cocoindex/connectors/lancedb/_target.py:1258,1288,1337),
  * qdrant collections (qdrant/_target.py:549-621), doris's dual
  * vector+inverted indexes (doris/_target.py:1227-1287). The store
  * itself maintains its indexes per row write; here the engine does:
  *
  *   - rows reconcile into a bucketed parquet table (the collection
  *     body — swap [[graft.engine.JdbcTableTarget]] in for a SQL
  *     store);
  *   - the IVF vector index and the BM25 inverted index are
  *     co-sourced flows over the row table, each O(changed rows) per
  *     refresh through the engine's memo/reconcile loop;
  *   - ONE [[SharedScanSource]] cycle spans every refresh, so the
  *     pair pays a single corpus fingerprint scan and sees a single
  *     collection snapshot (the auto-bracket).
  *
  * Serving: [[knn]] (IVF-pruned), [[keyword]] (bucket-pruned BM25),
  * [[hybrid]] (RRF fusion) — the three retrieval modes every
  * reference vector target exposes.
  *
  * This is also the engine's answer for the reference's EMBEDDED
  * vector stores — lancedb (local Lance tables) and zvec (embedded
  * dense+sparse collections, zvec/_target.py:894-989): those
  * connectors have no wire protocol to transport, only the
  * rows+indexes-in-one-declare capability, which this implements
  * natively on the engine's own storage (sparse retrieval rides
  * [[Similarity]]'s sparse index, q87).
  */
final class SearchCollection private (
    val rows: Flow,
    // index flows build lazily on the FIRST sync: ivfFlow trains its
    // quantizer from the row table, which does not exist until the
    // rows flow has committed once
    mkIvf: SparkSession => Flow,
    mkFts: SparkSession => Fts.FtsFlows,
    shared: SharedScanSource,
    ivfDir: String,
    ftsDir: String) {

  @volatile private var ivfFlow: Flow = _
  @volatile private var ftsFlows: Fts.FtsFlows = _

  /** Reconcile source rows, then refresh both indexes inside one
    * shared-scan cycle. Each phase is O(changed) via the engine.
    *
    * The two index flows run CONCURRENTLY (optimization guide §2.6 —
    * overlap independent jobs): they are independent writers (separate
    * state dirs, separate target containers) co-sourced through the
    * synchronized [[SharedScanSource]], and Spark's scheduler happily
    * interleaves jobs from two driver threads — the FTS flow's tasks
    * back-fill executors the IVF flow's stragglers leave idle, instead
    * of the whole cluster idling through each flow's tail in turn.
    * Same jobs, same results, same per-flow stats — only the wall
    * clock overlaps. */
  def sync(spark: SparkSession): (RunStats, RunStats, RunStats) = {
    val r = rows.run(spark)
    if (ivfFlow == null) ivfFlow = mkIvf(spark)
    if (ftsFlows == null) ftsFlows = mkFts(spark)
    // Overlap joins BOTH flows before control leaves the shared-scan
    // cycle, even when one throws (ADVICE r18): an orphan writer still
    // running would have cycle()'s finally drop the shared-scan caches
    // under it, and a retried sync() would start a second run racing
    // it on the same state dir (StateStore.commitTables has no
    // cross-writer locking — both compute v=cur+1)
    val (i, f) = SharedScanSource.cycle(shared) {
      Overlap.both(ivfFlow.run(spark), ftsFlows.run(spark))
    }
    (r, i, f)
  }

  def read(spark: SparkSession): DataFrame = rows.target.read(spark)

  /** IVF-pruned top-k over the collection's embedding column. */
  def knn(spark: SparkSession, queries: DataFrame, k: Int,
      nProbe: Int = 4): DataFrame =
    Similarity.ivfQuery(queries, Similarity.ivfLoad(spark, ivfDir), k, nProbe)

  /** Bucket-pruned BM25 over the collection's text column. */
  def keyword(spark: SparkSession, terms: Seq[String]): DataFrame =
    Fts.bm25(Fts.ftsLoad(spark, ftsDir), terms)

  /** RRF fusion of [[knn]] and [[keyword]] rankings (`doc_id`,
    * `rrf`, `rank_0` = vector, `rank_1` = keyword). */
  def hybrid(spark: SparkSession, queryVec: DataFrame, terms: Seq[String],
      k: Int, nProbe: Int = 4): DataFrame = {
    val vec = knn(spark, queryVec, k, nProbe)
      .select(col("neighbor_id").as("doc_id"), col("rank"))
    val txt = keyword(spark, terms)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("score").desc, col("doc_id"))).cast("int"))
      .filter(col("rank") <= k)
      .select("doc_id", "rank")
    Fts.rrfFuse(Seq(vec, txt), "doc_id")
  }
}

object SearchCollection {

  /** Declare a collection over `corpus` (`idCol`, `textCol`,
    * `embCol`, any payload columns). `dir` owns the row table and
    * both index tables; `stateDir` the three flows' engine state. */
  def apply(name: String,
      corpus: SparkSession => DataFrame,
      dir: String, stateDir: String,
      idCol: String = "doc_id", textCol: String = "text",
      embCol: String = "embedding",
      nCells: Int = 16, numBuckets: Int = 8): SearchCollection = {

    val rowStage = CocoFn(s"${name}_rows", 1,
      deps = Seq(s"id=$idCol"),
      fn = df => df.withColumn("row_key", col("item_key")))
    val rowsFlow = new Flow(s"${name}_rows",
      TableSource(corpus, keyCol = idCol),
      Seq(rowStage),
      ParquetTableTarget(s"$dir/rows", numBuckets),
      s"$stateDir/rows",
      rowKeyOwnedByItem = true)

    // both indexes read the ROW TABLE (not the raw corpus): they see
    // exactly what the collection committed, and share one scan
    val shared = new SharedScanSource(TableSource(
      sp => rowsFlow.target.read(sp)
        .select(col("row_key"), col(textCol), col(embCol)),
      keyCol = "row_key"))

    val mkIvf = (sp0: SparkSession) => Similarity.ivfFlow(sp0, s"${name}_ivf",
      sp => rowsFlow.target.read(sp).select(col("row_key"), col(embCol)),
      s"$dir/ivf", s"$stateDir/ivf",
      nCells = nCells, numBuckets = numBuckets,
      idCol = "row_key", embCol = embCol,
      sourceOverride = Some(shared))

    val mkFts = (sp0: SparkSession) => Fts.ftsFlow(sp0, s"${name}_fts",
      sp => rowsFlow.target.read(sp).select(col("row_key"), col(textCol)),
      s"$dir/fts", s"$stateDir/fts", numBuckets = numBuckets,
      idCol = "row_key", textCol = textCol,
      sourceOverride = Some(shared))

    new SearchCollection(rowsFlow, mkIvf, mkFts, shared,
      s"$dir/ivf", s"$dir/fts")
  }
}
