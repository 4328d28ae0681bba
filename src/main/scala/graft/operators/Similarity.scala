package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.VectorFunctions._

/** Similarity search over an `ARRAY<FLOAT>` embedding column.
  *
  * Two tiers (SURVEY.md §7.2 M6 / builder mandate):
  *   - [[bruteForceTopK]]: exact cosine top-k. The query side is
  *     broadcast, so the corpus is scanned once with no shuffle; the
  *     per-query top-k is a ranking window partitioned by query id.
  *     At 100 TB this is the "small query batch × huge corpus" shape:
  *     corpus-partition-parallel, one narrow pass, then a k-row
  *     per-partition heap via the window's partial TakeOrdered.
  *   - [[lshTopK]]: approximate variant — sign-random-projection
  *     (SimHash for cosine) bucketing. Corpus vectors are hashed into
  *     `planes`-bit signatures once; candidates = bucket collisions in
  *     any band; exact cosine re-rank on candidates only. This is the
  *     scale path: the candidate join is an equi-join on (band,
  *     signature), so a 1000-executor cluster shuffles only bucket
  *     ids, never the O(Q×N) cross product.
  *
  * Reference behavior mirrored: pgvector KNN retrieval
  * (examples/text_embedding/main.py:138-156) and the FAISS candidate
  * search inside entity resolution
  * (python/cocoindex/ops/entity_resolution/__init__.py:200).
  */
object Similarity {

  /** Exact top-k neighbors for each query vector.
    *
    * @param queries (id, embedding); must be small enough to broadcast
    * @param corpus  (id, embedding)
    */
  def bruteForceTopK(
      queries: DataFrame, corpus: DataFrame, k: Int,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"),
      col(embCol).as("q_emb"))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(embCol).as("c_emb"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("score", round(cosineSimilarity(col("q_emb"), col("c_emb")), 6))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "score", "rank")
  }

  /** Exact top-k under ColBERT-style MaxSim over MULTI-VECTOR columns
    * (`ARRAY<ARRAY<FLOAT>>` — one token-vector list per row), the
    * reference's `MultiVectorSchema` + `multivector_comparator=
    * "max_sim"` surface (reference resources/schema.py:49,
    * qdrant/_target.py:69, examples/image_search_colpali/pipeline.py).
    *
    * Plan shape = [[bruteForceTopK]]'s: the query batch is broadcast,
    * the corpus is scanned ONCE with the whole MaxSim computed as a
    * single expression per (query, doc) pair
    * ([[graft.functions.VectorFunctions.maxSimScore]] — no explode to
    * token-level rows, no shuffle before the per-query top-k window's
    * partial TakeOrdered). At 100 TB this stays corpus-partition-
    * parallel with shuffle volume O(candidates), not O(N·|Q|·tokens).
    */
  def maxSimTopK(
      queries: DataFrame, corpus: DataFrame, k: Int,
      distance: String = "cosine",
      idCol: String = "vec_id", embCol: String = "tokens"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(embCol).as("q_toks"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(embCol).as("c_toks"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("score", maxSimScore(col("q_toks"), col("c_toks"), distance))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "score", "rank")
  }

  /** Deterministic SRP hyperplane matrix: component (p, d) =
    * (md5₆₀("p:d") mod 10⁶) / (5·10⁵) − 1 ∈ [−1, 1), where md5₆₀ is
    * the first 15 hex chars of md5 as a positive long — the same
    * md5-derivation scheme the dedup gates use, so an EXTERNAL SQL
    * engine regenerates the identical planes and the whole LSH
    * candidate set becomes oracle-replicable (q43 went rows-only →
    * value-exact on this). Materialized once at plan time as a
    * literal: zero per-row hashing (the earlier xxhash64 form
    * re-hashed every (plane, dim) per corpus row). */
  private[graft] def srpPlaneMatrix(planes: Int, dims: Int)
      : Seq[Seq[Double]] =
    (0 until planes).map { p =>
      (0 until dims).map { d =>
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(s"$p:$d".getBytes("UTF-8"))
        val h = java.lang.Long.parseLong(
          md.map("%02x".format(_)).mkString.take(15), 16)
        (h % 1000000L).toDouble / 500000.0 - 1.0
      }
    }

  /** `planes`-bit sign-random-projection signature of an embedding,
    * returned as an array of per-band long codes (`planes` must be a
    * multiple of `bands`; embeddings must have at most `dims`
    * components — a LONGER embedding FAILS LOUDLY rather than
    * silently hashing out-of-matrix dimensions to null (which would
    * send every vector to band code 0 and degenerate the bucket join
    * to a cross product); shorter embeddings project on their first
    * size(emb) plane components). */
  def srpBandCodes(emb: Column, planes: Int, bands: Int,
      dims: Int = 64): Column = {
    // signature computation is the native codegen'd expression (the
    // previous triple-nested HOF form walked planes×dims interpreted
    // tree steps per corpus row — see SrpBandCodesExpr's scaladoc for
    // the exactness contract it preserves); the loud oversize guard
    // stays out here at the Column level, verbatim
    import org.apache.spark.sql.GraftExpressionBridge
    val native = GraftExpressionBridge.column(
      graft.functions.SrpBandCodesExpr(
        GraftExpressionBridge.expression(emb), planes, bands, dims))
    when(size(emb) <= dims, native).otherwise(raise_error(
      concat(lit("srpBandCodes: embedding has "), size(emb).cast("string"),
        lit(s" components > dims=$dims — pass the right dims"))))
  }

  /** Approximate top-k: SRP-LSH candidate generation + exact cosine
    * re-rank. Increase `bands` for recall, `planes/bands` for
    * precision. */
  def lshTopK(
      queries: DataFrame, corpus: DataFrame, k: Int,
      planes: Int = 32, bands: Int = 8,
      idCol: String = "vec_id", embCol: String = "embedding",
      dims: Int = 64): DataFrame = {
    def banded(df: DataFrame, id: String, emb: String) =
      df.select(col(idCol).as(id), col(embCol).as(emb),
          posexplode(srpBandCodes(col(embCol), planes, bands, dims))
            .as(Seq("band", "code")))
    val q = banded(queries, "query_id", "q_emb")
    val c = banded(corpus, "neighbor_id", "c_emb")
    // equi-join on (band, code): only colliding buckets shuffle
    val candidates = c.join(q, Seq("band", "code"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id", "q_emb", "c_emb")
      .dropDuplicates("query_id", "neighbor_id")
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("neighbor_id"))
    candidates
      .withColumn("score", round(cosineSimilarity(col("q_emb"), col("c_emb")), 6))
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "score", "rank")
  }

  /** A built IVF index: the coarse quantizer (`centroids`: cell,
    * centroid ARRAY<DOUBLE>) and the corpus inverted lists
    * (`assignment`: cell, neighbor_id, c_emb). Both are plain
    * DataFrames — persist them with [[save]] / reload with
    * [[IvfIndex.load]] exactly like any other engine state table, or
    * make them a flow target so the index is maintained
    * incrementally. */
  final case class IvfIndex(centroids: DataFrame, assignment: DataFrame) {
    def save(dir: String): Unit = {
      centroids.write.mode("overwrite").parquet(s"$dir/centroids")
      assignment.write.mode("overwrite").parquet(s"$dir/assignment")
    }
  }
  object IvfIndex {
    def load(spark: org.apache.spark.sql.SparkSession, dir: String): IvfIndex =
      IvfIndex(spark.read.parquet(s"$dir/centroids"),
        spark.read.parquet(s"$dir/assignment"))
  }

  /** Build an IVF index: train the coarse quantizer, assign every
    * corpus vector to its nearest cell ONCE. This is the expensive
    * half — an index-build pipeline output at 100 TB (reference
    * pattern: pgvector's ivfflat index is built by DDL and consumed
    * by KNN queries, python/cocoindex/connectors/postgres/
    * _target.py:499, examples/text_embedding/main.py:138-156) — and
    * it never belongs in the query path: [[ivfQuery]] only probes.
    *
    * Training cost is decoupled from corpus size: Lloyd rounds run on
    * a deterministic `trainSize`-row sample (the corpus vectors with
    * the smallest xxhash64(id) — data-independent order, so the index
    * is reproducible run to run), the standard quantizer-training
    * practice; only the final cell assignment touches the full
    * corpus, one broadcast-join pass.
    */
  def ivfBuild(
      corpus: DataFrame, nCells: Int = 16, lloydRounds: Int = 3,
      trainSize: Int = 4096,
      idCol: String = "vec_id", embCol: String = "embedding"): IvfIndex = {
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(embCol).as("c_emb"))
    val centroids = ivfTrainQuantizer(corpus, nCells, lloydRounds,
      trainSize, idCol, embCol)
    // ---- inverted lists: ONE full-corpus pass, broadcast quantizer ----
    val assignment = assignCells(c, centroids, 1).join(c, Seq("neighbor_id"))
      .localCheckpoint()
    IvfIndex(centroids, assignment)
  }

  /** Train only the coarse quantizer (`cell`, `centroid`) — the
    * expensive-once half of [[ivfBuild]], split out so the inverted
    * lists can be maintained incrementally ([[ivfFlow]]) against a
    * frozen quantizer, FAISS-style.
    *
    * Deterministic AND oracle-replicable (the q43/q106 scheme): the
    * sample is the `trainSize` corpus vectors with the smallest
    * md5(id) — a hash any SQL engine reproduces, unlike xxhash64 —
    * and every sample component is quantized to an integer
    * ⌊x·10⁶+0.5⌋ BEFORE training. The whole Lloyd loop then runs in
    * fixed point ([[lloyd]]): dots, norms AND centroid updates are
    * exact Long arithmetic on the 10⁻⁶ grid (centroids round back to
    * the grid each round), so every value fed to the round-6
    * assignment comparison is a deterministic function of exact
    * integers — no float accumulation order exists for a replaying
    * engine to drift on. (The one remaining float exposure in the
    * IVF pipeline is the CORPUS-side assignment/re-rank cosine over
    * raw float embeddings, a single non-cascading decision per row —
    * the same exposure every round-6 KNN gate here shares.) ~1 MiB
    * at the defaults; the quantizer is a driver-scale object, which
    * is exactly how FAISS trains ivfflat: in-memory k-means on a
    * sample, never a distributed job per Lloyd round. */
  def ivfTrainQuantizer(
      corpus: DataFrame, nCells: Int = 16, lloydRounds: Int = 3,
      trainSize: Int = 4096,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val sampleQ: Array[Array[Long]] = corpus
      .select(col(idCol).as("neighbor_id"), col(embCol).as("c_emb"))
      .withColumn("h", md5(col("neighbor_id").cast("string")))
      .orderBy(col("h"), col("neighbor_id"))
      .limit(math.max(trainSize, nCells))
      .select(col("c_emb").cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toArray
        .map(x => math.floor(x * 1e6 + 0.5).toLong))
    lloyd(sampleQ, nCells, lloydRounds).zipWithIndex
      .map { case (a, i) => (i.toLong, a.toSeq) }.toSeq
      .toDF("cell", "centroid")
  }

  /** round(x, 6), HALF_UP — bit-identical to Spark's `round(col, 6)`
    * (both go through BigDecimal.setScale HALF_UP) and to DuckDB's
    * round(x, 6), the equivalence every oracle-checked cosine gate
    * already leans on. */
  private[operators] def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** In-memory spherical k-means (cosine Lloyd), STRUCTURALLY
    * order-free: points AND centroids live on the 10⁻⁶ integer grid
    * for the whole training loop. Init = first k sample vectors;
    * assignment by highest round-6 cosine (ties → lowest cell) where
    * dot and both norms are EXACT Long sums over grid coordinates
    * (≤ 64·10¹² ≪ 2⁶³ — no float accumulation anywhere, so no
    * summation-order exposure at all, in any engine); update = the
    * per-component grid mean, rounded half-toward-+∞ via the explicit
    * `floor((2s + c) / 2c)` formula both engines evaluate on exact
    * small doubles (2s + c ≤ ~2³³ ≪ 2⁵³); an emptied cell keeps its
    * previous centroid. Cosine itself is `dot / √(na·nb)` with each
    * Long cast to double exactly — the only float ops are one
    * multiply, one sqrt, one divide on identical inputs, which IEEE
    * 754 makes bit-identical across engines. This closes the former
    * caveat about a cosine landing within 1 ulp of a round-6 boundary
    * cascading through the rounds: the inputs to round6 are now
    * deterministic functions of exact integers, not of a sum order. */
  private def lloyd(pointsQ: Array[Array[Long]], k: Int,
      rounds: Int): Array[Array[Double]] = {
    if (pointsQ.isEmpty) return Array.empty
    val dim = pointsQ(0).length
    var cents: Array[Array[Long]] = pointsQ.take(k).map(_.clone)
    for (_ <- 1 to rounds) {
      val sums = Array.fill(cents.length)(new Array[Long](dim))
      val counts = new Array[Long](cents.length)
      var pi = 0
      while (pi < pointsQ.length) {
        val q = pointsQ(pi)
        var best = 0; var bestCs = Double.NegativeInfinity
        var ci = 0
        while (ci < cents.length) {
          val cs = round6(intCosine(q, cents(ci)))
          if (cs > bestCs) { bestCs = cs; best = ci }
          ci += 1
        }
        var d = 0
        while (d < dim) { sums(best)(d) += q(d); d += 1 }
        counts(best) += 1
        pi += 1
      }
      cents = cents.zipWithIndex.map { case (old, ci) =>
        if (counts(ci) == 0) old
        else Array.tabulate(dim)(d =>
          math.floor((2.0 * sums(ci)(d) + counts(ci)) /
            (2.0 * counts(ci))).toLong)
      }
    }
    cents.map(_.map(_ / 1e6))
  }

  /** Cosine over 10⁻⁶-grid coordinates: dot and norms are exact Long
    * sums (scale cancels in the ratio), so the value is independent
    * of accumulation order by construction. */
  private def intCosine(a: Array[Long], b: Array[Long]): Double = {
    var dot = 0L; var na = 0L; var nb = 0L; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    if (na == 0L || nb == 0L) 0.0
    else dot.toDouble / math.sqrt(na.toDouble * nb.toDouble)
  }

  /** Serve KNN from a built [[IvfIndex]]: quantize the query batch,
    * probe the `nProbe` nearest cells' inverted lists via an
    * equi-join on cell id (the shuffle moves cell ids, never the Q×N
    * cross product), exact cosine re-rank on the candidates. */
  def ivfQuery(
      queries: DataFrame, index: IvfIndex, k: Int, nProbe: Int = 4,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(embCol).as("q_emb"))
    val probes = assignCells(
      q.select(col("query_id").as("neighbor_id"), col("q_emb").as("c_emb")),
      index.centroids, nProbe)
      .select(col("neighbor_id").as("query_id"), col("cell"))
    val candidates = probes.join(q, Seq("query_id"))
      .join(index.assignment, Seq("cell"))
      // compare as strings: an ivfFlow-maintained index carries STRING
      // row keys while ad-hoc queries often use numeric ids — the
      // implicit numeric coercion would throw CAST_INVALID_INPUT
      .filter(col("query_id").cast("string") =!= col("neighbor_id").cast("string"))
      .dropDuplicates("query_id", "neighbor_id")
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("neighbor_id"))
    candidates
      .withColumn("score", round(cosineSimilarity(col("q_emb"), col("c_emb")), 6))
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "score", "rank")
  }

  /** Build-then-query convenience (tests, one-shot jobs). Real
    * deployments build once ([[ivfBuild]] / [[ivfIndexFor]]) and
    * serve many query batches from the persisted index. */
  def ivfTopK(
      queries: DataFrame, corpus: DataFrame, k: Int,
      nCells: Int = 16, nProbe: Int = 4, lloydRounds: Int = 3,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame =
    ivfQuery(queries,
      ivfBuild(corpus, nCells, lloydRounds, idCol = idCol, embCol = embCol),
      k, nProbe, idCol, embCol)

  /** An IVF index maintained INCREMENTALLY by the engine: the
    * quantizer is trained once and persisted under
    * `indexDir/centroids` (trained now if absent); the inverted-list
    * `assignment` table is a flow target keyed by vector id, so a
    * corpus edit re-assigns only the changed vectors through the
    * normal reconcile — RunStats shows O(changed) rows rewritten, not
    * a rebuild. This is the DDL-index model the reference relies on
    * (pgvector ivfflat built once, maintained by the store per row,
    * postgres/_target.py:499 + examples/text_embedding/main.py:138).
    *
    * The quantizer's fingerprint is part of the target's CONTAINER
    * signature: [[ivfRetrain]] changes it, so the next run plans a
    * destructive transition — truncate + full re-assignment — exactly
    * like `REINDEX`, through the statediff planner. Query with
    * `ivfQuery(queries, ivfLoad(spark, indexDir), …)`. */
  def ivfFlow(
      spark: org.apache.spark.sql.SparkSession, name: String,
      corpus: org.apache.spark.sql.SparkSession => DataFrame,
      indexDir: String, stateDir: String,
      nCells: Int = 16, lloydRounds: Int = 3, numBuckets: Int = 8,
      idCol: String = "vec_id", embCol: String = "embedding",
      /** Keyed change feed over the corpus (vec-id keys, durable
        * cursor): with it, a [[graft.engine.Flow.runFeed]] refresh
        * re-assigns only the changed vectors instead of
        * re-fingerprinting the whole corpus per catch-up. */
      changeFeed: Option[() => graft.engine.SourceWatcher] = None,
      /** Pre-built source to read the corpus through — see
        * [[Fts.ftsFlow]]'s `sourceOverride`: one
        * [[graft.engine.SharedScanSource]] across co-sourced index
        * flows inside a `cycle` = one corpus scan per refresh.
        * Quantizer training still reads `corpus` directly (one-time,
        * outside the cycle). */
      sourceOverride: Option[graft.engine.Source] = None)
      : graft.engine.Flow = {
    val centDir = s"$indexDir/centroids"
    if (!new java.io.File(centDir).exists())
      ivfTrainQuantizer(corpus(spark), nCells, lloydRounds,
        idCol = idCol, embCol = embCol)
        .write.mode("overwrite").parquet(centDir)

    val inner = graft.engine.ParquetTableTarget(
      s"$indexDir/assignment", numBuckets)
    val target = new graft.engine.Target {
      def apply(s: org.apache.spark.sql.SparkSession, up: DataFrame,
          del: DataFrame): graft.engine.TargetStats = inner.apply(s, up, del)
      def read(s: org.apache.spark.sql.SparkSession): DataFrame = inner.read(s)
      override def truncate(s: org.apache.spark.sql.SparkSession): Unit =
        inner.truncate(s)
      /** Retraining the quantizer invalidates every inverted-list
        * entry — container identity, planned Destructive. Read FRESH
        * on every call (the fingerprint is a few-row driver read): a
        * construction-time capture would blind a held Flow instance
        * to an [[ivfRetrain]], leaving old-cell assignments silently
        * paired with new centroids. */
      override def containerSignature: String =
        s"ivf;quantizer=${quantizerFingerprint(spark, centDir)};" +
          inner.containerSignature
    }

    val assign = graft.engine.CocoFn("ivf_assign", 1,
      // embCol is stage logic: switching the embedding column on an
      // existing stateDir must invalidate memoized assignments
      deps = Seq(s"cells=$nCells", s"emb=$embCol", s"id=$idCol"),
      fn = df => {
        val cents = df.sparkSession.read.parquet(centDir)
        val vecs = df.select(col("item_key").as("neighbor_id"),
          col(embCol).as("c_emb"))
        assignCells(vecs, cents, 1).join(vecs, Seq("neighbor_id"))
          .select(col("neighbor_id").as("item_key"),
            col("neighbor_id").as("row_key"), col("cell"), col("c_emb"))
      })
    val tableSrc = sourceOverride.getOrElse(
      graft.engine.TableSource(corpus, keyCol = idCol))
    new graft.engine.Flow(name,
      changeFeed.map(f => graft.engine.ChangeFeedSource(tableSrc, f):
        graft.engine.Source).getOrElse(tableSrc),
      Seq(assign), target, stateDir,
      // row_key = item_key: item-owned for life
      rowKeyOwnedByItem = true)
  }

  /** Re-train and persist the quantizer; the next [[ivfFlow]] run
    * plans a destructive full re-assignment (the `REINDEX` analog). */
  def ivfRetrain(
      spark: org.apache.spark.sql.SparkSession, indexDir: String,
      corpus: DataFrame, nCells: Int = 16, lloydRounds: Int = 3,
      idCol: String = "vec_id", embCol: String = "embedding"): Unit =
    ivfTrainQuantizer(corpus, nCells, lloydRounds, idCol = idCol,
      embCol = embCol)
      .write.mode("overwrite").parquet(s"$indexDir/centroids")

  /** Load an [[ivfFlow]]-maintained index for [[ivfQuery]]. The
    * assignment table reads through its target handle, which merges
    * base + segments — a raw parquet read of the target dir would
    * surface tombstones as rows. */
  def ivfLoad(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): IvfIndex =
    IvfIndex(spark.read.parquet(s"$indexDir/centroids"),
      graft.engine.ParquetTableTarget(s"$indexDir/assignment")
        .read(spark)
        .select(col("row_key").as("neighbor_id"), col("cell"), col("c_emb")))

  private def quantizerFingerprint(
      spark: org.apache.spark.sql.SparkSession, centDir: String): String = {
    val rows = spark.read.parquet(centDir)
      .orderBy("cell")
      .select(to_json(struct(col("cell"), col("centroid"))))
      .collect().map(_.getString(0))
    graft.engine.Fingerprint.of(rows.toIndexedSeq: _*)
  }

  private val indexCache =
    new java.util.concurrent.ConcurrentHashMap[String, IvfIndex]
  /** Per-JVM memoized index keyed by a caller-chosen identity (e.g.
    * the dataset directory) — the in-session analog of querying a
    * DDL-built index: the first caller builds, everyone after probes. */
  def ivfIndexFor(key: String, corpus: => DataFrame,
      nCells: Int = 16, lloydRounds: Int = 3): IvfIndex =
    indexCache.computeIfAbsent(key, _ => ivfBuild(corpus, nCells, lloydRounds))

  /** Nearest `take` cells per vector (broadcast the tiny centroid
    * table; primitive-loop cosine — the interpreted HOF form was the
    * training bottleneck). Scores round to 6 decimals before the
    * argmax/rank so cell choice is robust to summation order and an
    * external engine reproduces it (ties → lowest cell). */
  private def assignCells(vecs: DataFrame, centroids: DataFrame,
      take: Int): DataFrame = {
    val cos = udf { (a: Seq[Float], b: Seq[Double]) =>
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) {
        val x = a(i).toDouble; val y = b(i)
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      if (na == 0 || nb == 0) 0.0 else round6(dot / math.sqrt(na * nb))
    }
    val scored = vecs.crossJoin(broadcast(centroids))
      .withColumn("cs", cos(col("c_emb"), col("centroid")))
    if (take == 1)
      // nearest cell via max_by: partial-aggregates map-side (one
      // combined row per vector per partition), no window sort — this
      // is the full-corpus pass, so the saved shuffle is O(N·cells)
      // (tie-break: highest cs, then lowest cell id, as the window
      // ordering below)
      scored.groupBy("neighbor_id")
        .agg(max_by(col("cell"), struct(col("cs"), -col("cell"))).as("cell"))
        .select(col("neighbor_id"), col("cell"))
    else {
      val w = Window.partitionBy("neighbor_id")
        .orderBy(col("cs").desc, col("cell"))
      scored
        .withColumn("r", row_number().over(w))
        .filter(col("r") <= take)
        .select(col("neighbor_id"), col("cell"))
    }
  }

  /** All pairs (a < b) whose cosine similarity rounds to ≥ threshold —
    * embedding-based near-duplicate detection, exact. Reference
    * all-pairs form: a non-equi self-join, i.e. a nested-loop cross
    * product with the cosine evaluated as interpreted expressions.
    * Kept ONLY as the small-N oracle cross-check for
    * [[nearDupPairsBlocked]]; never use on real data. */
  def nearDupPairs(
      vectors: DataFrame, threshold: Double,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val a = vectors.select(col(idCol).as("id_a"), col(embCol).as("emb_a"))
    val b = vectors.select(col(idCol).as("id_b"), col(embCol).as("emb_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cosine", round(cosineSimilarity(col("emb_a"), col("emb_b")), 6))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** Per-dimension (min, max) corpus stats for scalar quantization —
    * a single narrow aggregation; the collect is `dims` rows,
    * independent of corpus size. */
  def sq8Stats(corpus: DataFrame, dims: Int, embCol: String = "embedding")
      : (Array[Double], Array[Double]) = {
    val rows = corpus
      .select(posexplode(col(embCol).cast("array<double>")).as(Seq("d", "x")))
      .groupBy("d").agg(min("x").as("mn"), max("x").as("mx"))
      .collect()
    val mn = new Array[Double](dims)
    val mx = new Array[Double](dims)
    rows.foreach { r =>
      val d = r.getInt(0)
      if (d < dims) { mn(d) = r.getDouble(1); mx(d) = r.getDouble(2) }
    }
    (mn, mx)
  }

  /** Encode-then-decode an embedding through uint8 scalar
    * quantization (FAISS SQ8): per dimension, bucket
    * t = (x−mn)/(mx−mn) into code c = clamp(⌊t·256⌋, 0, 255) and
    * reconstruct mn + c·((mx−mn)/255). ⌊·⌋ (not round) so no
    * tie-breaking mode can diverge across engines; a constant
    * dimension (mx = mn) reconstructs to mn. Clamped at BOTH ends,
    * matching FAISS: stats come from the corpus, so a QUERY
    * component outside the corpus per-dimension range must saturate
    * to code 0/255, not leave the uint8 domain. */
  def sq8Reconstruct(emb: Column, mn: Array[Double], mx: Array[Double])
      : Column = {
    val mnL = lit(mn)
    val mxL = lit(mx)
    zip_with(emb.cast("array<double>"),
      sequence(lit(0), lit(mn.length - 1)), (x, d) => {
        val m = element_at(mnL, d + 1)
        val bigM = element_at(mxL, d + 1)
        val t = when(bigM === m, lit(0.0)).otherwise((x - m) / (bigM - m))
        val c = greatest(least(floor(t * 256), lit(255.0)), lit(0.0))
        m + c * ((bigM - m) / 255.0)
      })
  }

  /** Approximate KNN over scalar-quantized (SQ8) embeddings: corpus
    * and queries are squeezed through the uint8 codec, then scored
    * exactly in the reconstructed space. The point of SQ8 at 100 TB
    * is a 4× memory/bandwidth cut on the stored index (codes + 2
    * floats per dimension instead of float32 vectors) at ~1% recall
    * cost; the scan shape is unchanged — brute force stays O(N),
    * compose with the IVF/LSH cells for sublinear candidates. Fully
    * deterministic: stats are exact min/max (no accumulation-order
    * sensitivity), the codec is ⌊·⌋-based, so an external engine
    * recomputes every score bit-for-bit. */
  def sq8TopK(
      queries: DataFrame, corpus: DataFrame, k: Int, dims: Int = 64,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val (mn, mx) = sq8Stats(corpus, dims, embCol)
    def rec(df: DataFrame) =
      df.withColumn(embCol, sq8Reconstruct(col(embCol), mn, mx))
    bruteForceTopK(rec(queries), rec(corpus), k, idCol, embCol)
  }

  /** Contrastive triplet mining for embedding-model training data:
    * for each query vector, the strongest same-label neighbor (the
    * positive) and the strongest different-label neighbor (the hard
    * negative — the pair a trained encoder must learn to push apart).
    * Returns (query_id, pos_id, pos_score, neg_id, neg_score); a
    * query missing either side (no same-label or no other-label
    * candidate) is dropped.
    *
    * Same plan shape as [[bruteForceTopK]]: small query batch
    * broadcast against a corpus-partition-parallel scan, one narrow
    * pass, per-partition heaps via the windowed top-1. At 100 TB feed
    * `corpus` from an ANN candidate set ([[lshTopK]] / [[ivfQuery]]
    * output) instead of the raw table — the mining math is
    * unchanged. */
  def contrastiveTriplets(
      queries: DataFrame, corpus: DataFrame, labelCol: String = "label",
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"),
      col(labelCol).as("q_lab"), col(embCol).as("q_emb"))
    val c = corpus.select(col(idCol).as("cand_id"),
      col(labelCol).as("c_lab"), col(embCol).as("c_emb"))
    val pairs = broadcast(q).join(c, col("query_id") =!= col("cand_id"))
      .withColumn("score",
        round(cosineSimilarity(col("q_emb"), col("c_emb")), 6))
    def top1(side: DataFrame, id: String, sc: String) = side
      .withColumn("rnk", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("score").desc, col("cand_id"))))
      .filter(col("rnk") === 1)
      .select(col("query_id"), col("cand_id").as(id), col("score").as(sc))
    val pos = top1(pairs.filter(col("q_lab") === col("c_lab")),
      "pos_id", "pos_score")
    val neg = top1(pairs.filter(col("q_lab") =!= col("c_lab")),
      "neg_id", "neg_score")
    pos.join(neg, Seq("query_id"))
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023: cluster the
    * embedding space, drop all but one of each within-cluster group
    * of near-identical vectors). The published method clusters with
    * k-means; here clusters are deterministic md5-derived SRP cells
    * ([[srpPlaneMatrix]], `planes` bits → 2^planes direction
    * buckets), which makes the whole sweep oracle-replicable while
    * keeping the same shape: per-cluster pairwise cosine, never
    * corpus-wide. Survivor rule: connected components over the
    * within-cluster near-dup edges, smallest id kept — one row per
    * input vector: (vec_id, cluster, canonical_id, kept).
    *
    * Scale shape: the pair join is an equi-join on the cluster code
    * (SemDeDup's per-cluster quadratic, bounded by cluster size —
    * pick `planes` so 2^planes ≈ √N, the paper's k;
    * [[semDedupPlanesFor]] computes exactly that); clustering is
    * [[EntityResolution.connectedComponents]] (driver union-find on
    * small edge sets, distributed pointer-jumping past 2^20).
    *
    * Miscalibration guard: "2^planes ≈ √N" was previously only
    * documented — nothing stopped a caller from running 10⁹ vectors
    * through 16 cells, where one cell's within-cluster pairwise
    * silently goes quadratic on ~6·10⁷ rows. The operator now
    * CHECKS the cluster histogram and refuses when the largest cell
    * exceeds `maxClusterSize`, naming the plane count that would fix
    * it.
    *
    * NOTE this operator is EAGER: the guard aggregation and the
    * component pass both run Spark jobs at call time (unlike a plain
    * transformation). The coded projection is persisted across those
    * passes and released before returning, so the srpBandCodes
    * projection runs once for the eager jobs plus once more when the
    * caller executes the returned plan. */
  def semDedupKeep(
      vectors: DataFrame, threshold: Double, planes: Int = 4,
      dims: Int = 64, idCol: String = "vec_id", embCol: String = "embedding",
      maxClusterSize: Long = 1L << 16): DataFrame = {
    val coded = vectors
      .select(col(idCol).cast("long").as("vec_id"),
        col(embCol).cast("array<double>").as("emb"),
        element_at(srpBandCodes(col(embCol), planes, 1, dims), 1)
          .as("cluster"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val (worst, total) = {
        val r = coded.groupBy("cluster").agg(count(lit(1)).as("n"))
          .agg(coalesce(max("n"), lit(0L)), coalesce(sum("n"), lit(0L)))
          .head
        (r.getLong(0), r.getLong(1))
      }
      require(worst <= maxClusterSize,
        s"semDedupKeep: largest SRP cell holds $worst of $total vectors " +
          s"(> maxClusterSize=$maxClusterSize) — within-cell pairwise " +
          s"would run ~${worst}² comparisons. Raise planes to " +
          s"~${semDedupPlanesFor(total)} (2^planes ≈ √N, the paper's " +
          "cluster count) or raise maxClusterSize explicitly.")
      val edges = coded
        .select(col("cluster"), col("vec_id").as("id_a"),
          col("emb").as("emb_a"))
        .join(coded.select(col("cluster"), col("vec_id").as("id_b"),
          col("emb").as("emb_b")), Seq("cluster"))
        .filter(col("id_a") < col("id_b"))
        .filter(round(cosineSimilarity(col("emb_a"), col("emb_b")), 6)
          >= threshold)
        .select("id_a", "id_b")
      EntityResolution
        .connectedComponents(coded.select(col("vec_id")), edges,
          "vec_id", "id_a", "id_b")
        .join(coded.select(col("vec_id"), col("cluster")),
          col("id") === col("vec_id"))
        .select(col("vec_id"), col("cluster"),
          col("component").as("canonical_id"),
          (col("vec_id") === col("component")).as("kept"))
    } finally coded.unpersist(blocking = false)
  }

  /** [[semDedupKeep]] with the plane count auto-calibrated: one
    * count() over the corpus, then `planes = semDedupPlanesFor(n)` —
    * the paper's "k ≈ √N" applied without the caller having to know
    * the rule. Expected within-cell pairwise work is then O(√N) rows
    * per cell, so the miscalibration guard cannot fire on any
    * non-adversarial (roughly direction-balanced) corpus. */
  def semDedupKeepAuto(
      vectors: DataFrame, threshold: Double, dims: Int = 64,
      idCol: String = "vec_id", embCol: String = "embedding",
      maxClusterSize: Long = 1L << 16,
      /** Pass the corpus cardinality when the caller already counted
        * it — skips the extra count job without changing the result
        * (q115 counts once for its late-bound oracle). */
      knownCount: Long = -1L): DataFrame = {
    val n = if (knownCount >= 0) knownCount else vectors.count()
    semDedupKeep(vectors, threshold, semDedupPlanesFor(n),
      dims, idCol, embCol, maxClusterSize)
  }

  /** Incremental EMBEDDING dedup — the SemDeDup screen applied to an
    * arriving batch against the accumulated corpus (the vector
    * counterpart of [[graft.operators.Dedup.incrementalNearDup]],
    * completing the exact-key / text-fuzzy / embedding incremental
    * trilogy): keep only the increment vectors with no corpus
    * neighbor at round-6 cosine ≥ `threshold`. Candidates come from
    * the SRP band join (a re-encode at cosine ≈ 1 collides in some
    * band w.h.p.; with planes=64 bands=4 the per-band flip budget is
    * 16 bits, so a 0.999-cosine pair is missed with probability
    * ~1e-8), verification is the exact codegen'd cosine on candidate
    * pairs only.
    *
    * Scale shape — identical to the text variant: the corpus is
    * scanned ONCE and never shuffled (increment band codes
    * broadcast; corpus embeddings ride the map-side join to the
    * verify, so no second corpus pass), per-batch work is
    * O(corpus scan + candidates). Every derived value (md5 planes,
    * MSB-packed band codes, round-6 cosine) is oracle-replayable —
    * the q129 gate checks the whole screen value-exact. */
  def incrementalSemDedup(
      corpus: DataFrame, increment: DataFrame, threshold: Double,
      planes: Int = 64, bands: Int = 4, dims: Int = 64,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    // codes and payload broadcast separately (the incrementalNearDup
    // shape): band codes explode to `bands` rows per vector, so
    // carrying the embedding through the explode would ship `bands`
    // copies of every increment vector to every executor — instead
    // the code probe is embedding-free and the payload joins once,
    // on the deduped candidates only
    val incVecs = increment
      .select(col(idCol).as("__inc_id"), col(embCol).as("__emb_i"))
      .localCheckpoint() // feeds the code projection AND the verify
    val incCodes = incVecs.select(col("__inc_id"),
      posexplode(srpBandCodes(col("__emb_i"), planes, bands, dims))
        .as(Seq("band", "code")))
      .select("__inc_id", "band", "code")
    val corpusBanded = corpus
      .select(col(idCol).as("__c_id"), col(embCol).as("__emb_c"),
        posexplode(srpBandCodes(col(embCol), planes, bands, dims))
          .as(Seq("band", "code")))
    val dupIds = corpusBanded
      .join(broadcast(incCodes), Seq("band", "code"))
      .select(col("__c_id"), col("__emb_c"), col("__inc_id"))
      .dropDuplicates("__c_id", "__inc_id")
      .join(broadcast(incVecs), Seq("__inc_id"))
      .withColumn("__cos",
        round(cosineSimilarity(col("__emb_c"), col("__emb_i")), 6))
      .filter(col("__cos") >= threshold)
      .select(col("__inc_id"))
      .distinct()
    increment.join(dupIds,
      increment(idCol) === dupIds("__inc_id"), "left_anti")
  }

  /** The SRP band-code index as an engine-maintained flow target —
    * the VECTOR counterpart of [[graft.operators.Dedup.minHashFlow]]
    * (r14 verdict task #2b): each vector is one component whose rows
    * are its `bands` band codes (`row_key = key:band`), so an edited
    * vector rewrites exactly its own rows through the reconcile and
    * a deleted vector's bands GC as orphans. The index holds
    * (item_key, band, code) only — embeddings stay in the corpus,
    * fetched per-candidate at serve time — so it is thin enough to
    * scan as the probe side at any corpus size.
    */
  def srpFlow(
      name: String,
      corpus: org.apache.spark.sql.SparkSession => DataFrame,
      indexDir: String, stateDir: String,
      planes: Int = 64, bands: Int = 4, dims: Int = 64,
      idCol: String = "vec_id", embCol: String = "embedding",
      /** Keyed change feed over the corpus (vec-id keys, durable
        * cursor): with it, a [[graft.engine.Flow.runFeed]] refresh
        * re-codes only the changed vectors instead of
        * re-fingerprinting the whole corpus per catch-up. */
      changeFeed: Option[() => graft.engine.SourceWatcher] = None,
      /** Bucket count of the index's parquet layout — MUST match the
        * layout the index was bootstrapped/maintained with (validated
        * against the sidecar at takeover; ADVICE r15: a silent
        * mismatch would strand stale rows in buckets the flow never
        * reconciles and duplicate row_keys across buckets). */
      numBuckets: Int = 8)
      : graft.engine.Flow = {
    require(planes % bands == 0, s"planes $planes % bands $bands != 0")
    graft.engine.Sidecar.validate(srpMetaFile(indexDir),
      Map("numBuckets" -> numBuckets.toString),
      what = s"srpFlow($indexDir) takeover",
      // pre-r16 sidecars don't record numBuckets; those indexes were
      // built with the then-hardcoded 8 — compare against that, don't
      // pass silently
      defaults = Map("numBuckets" -> "8"))
    val stage = graft.engine.CocoFn("srp_bands", 1,
      // embCol/idCol are stage logic: changing either on an existing
      // stateDir must invalidate the memo, or the index keeps
      // serving codes computed from the old column
      deps = Seq(s"p=$planes", s"b=$bands", s"d=$dims",
        s"emb=$embCol", s"id=$idCol"),
      fn = df => srpBandRows(df, planes, bands, dims, embCol))
    val tableSrc = graft.engine.TableSource(corpus, keyCol = idCol)
    new graft.engine.Flow(name,
      changeFeed.map(f => graft.engine.ChangeFeedSource(tableSrc, f):
        graft.engine.Source).getOrElse(tableSrc),
      Seq(stage),
      graft.engine.ParquetTableTarget(indexDir, numBuckets = numBuckets),
      stateDir,
      // row keys are "item:band" — item-owned for life (minHashFlow
      // convention): tracking scope reads pruned below the merge
      rowKeyOwnedByItem = true,
      // declared only AFTER a successful commit (the minHashFlow
      // convention): a declared-but-failed run can never relabel an
      // index built with other parameters
      afterCommit = Some(() =>
        graft.engine.Sidecar.write(srpMetaFile(indexDir), Map(
          "planes" -> planes.toString, "bands" -> bands.toString,
          "dims" -> dims.toString, "idCol" -> idCol,
          "embCol" -> embCol, "numBuckets" -> numBuckets.toString))))
  }

  /** Plane count for an SRP band index serving a corpus of ~`n`
    * vectors — the index-build-time analogue of the rescan screen's
    * derived candidate budget (r15's minhash lesson, re-learned for
    * SRP by the r16 10⁷ sweep cell: a FIXED 16-bit band code at
    * n = 10⁷ admits n·bands/2¹⁶ ≈ 2,400 random candidates per probe
    * vector and the served screen degenerates to corpus-sized
    * shuffles).
    *
    * Rule: bits per band = ⌈log₂(n·bands / 4)⌉ floored at 16 (the
    * legacy 64/4 default) — expected RANDOM candidates per probe
    * ≤ ~4, so per-batch verify work stays O(batch) at any corpus
    * size. Recall: a band matches when all its bits agree,
    * P = (1−θ/π)^bits; the near-identical pairs an index screen
    * exists for (re-crawls, re-encodes; θ → 0) keep ≈ full recall at
    * any practical width, while borderline-threshold pairs trade
    * recall for candidate volume — the standard LSH dial: raise
    * `bands` to buy recall back, which this rule folds in (more
    * bands ⇒ wider bits for the same budget). Capped at 40 bits
    * (2⁴⁰·4/4 ≈ 10¹² vectors — past any single index). */
  def srpIndexPlanesFor(n: Long, bands: Int = 4): Int = {
    require(n >= 0 && bands > 0)
    var bits = 16
    while (bits < 40 && (1L << bits) < n * bands / 4) bits += 1
    bands * bits
  }

  /** Batch bootstrap of a [[srpFlow]]-shaped index WITHOUT the flow
    * engine — the way a 100 TB deployment stands the index up: ONE
    * distributed batch write of the band rows in the target's exact
    * bucket layout, after which [[srpFlow]] (same `numBuckets`) can
    * take over maintenance — its first run upserts by `row_key`, so
    * the handover is idempotent, and [[semDedupIncrementOver]] serves
    * from either. The flow-engine path builds the same index
    * component-by-component, the right shape for STAYING current but
    * not for standing up 10⁹ vectors in one shot. Size `planes` with
    * [[srpIndexPlanesFor]] — an under-sized band code at large N
    * floods the served screen with random candidates. */
  def srpIndexBootstrap(
      spark: org.apache.spark.sql.SparkSession, indexDir: String,
      corpus: DataFrame, planes: Int = 64, bands: Int = 4,
      dims: Int = 64, idCol: String = "vec_id",
      embCol: String = "embedding", numBuckets: Int = 8): Unit = {
    require(planes % bands == 0, s"planes $planes % bands $bands != 0")
    // layout from the TARGET itself (shared with the flow — the two
    // build paths cannot drift); truncate + one batch apply, written
    // as the target's compacted base
    val target = graft.engine.ParquetTableTarget(indexDir,
      numBuckets = numBuckets)
    target.truncate(spark)
    val rows = srpBandRows(
      corpus.select(col(idCol).cast("string").as("item_key"),
        col(embCol)),
      planes, bands, dims, embCol)
    target.apply(spark, rows, rows.select(col("row_key")).limit(0))
    graft.engine.Sidecar.write(srpMetaFile(indexDir), Map(
      "planes" -> planes.toString, "bands" -> bands.toString,
      "dims" -> dims.toString, "idCol" -> idCol, "embCol" -> embCol,
      "numBuckets" -> numBuckets.toString))
  }

  /** The band-row derivation shared by [[srpFlow]]'s stage and
    * [[srpIndexBootstrap]] — ONE copy, so probe/index bit-parity
    * cannot drift between the two build paths (review r15). Input
    * carries `(item_key, embCol)`; output is the index row set. */
  private def srpBandRows(
      df: DataFrame, planes: Int, bands: Int, dims: Int,
      embCol: String): DataFrame =
    df.select(col("item_key"),
        posexplode(srpBandCodes(col(embCol), planes, bands, dims))
          .as(Seq("band", "code")))
      .select(col("item_key"),
        concat(col("item_key"), lit(":"), col("band")).as("row_key"),
        col("band"), col("code"))

  // sibling of the index dir, NOT inside it: a destructive target
  // transition truncates the dir itself, and the declared parameters
  // must survive that
  private def srpMetaFile(indexDir: String) = {
    val d = new java.io.File(indexDir).getAbsoluteFile
    new java.io.File(d.getParentFile, d.getName + "._graft_srp.json")
  }

  /** The index's target handle with its DECLARED bucket layout (from
    * the sidecar; pre-r16 sidecars without the field read as the
    * historical default 8) — serve paths go through this so the
    * layout they assume is the one the index was built with. */
  private def srpIndexTarget(indexDir: String)
      : graft.engine.ParquetTableTarget =
    graft.engine.ParquetTableTarget(indexDir,
      numBuckets = graft.engine.Sidecar.read(srpMetaFile(indexDir))
        .flatMap(_.get("numBuckets")).map(_.toInt).getOrElse(8))

  /** The band index's probe-side projection — (item_key, band, code),
    * nothing else. ONE definition shared by the serve path
    * ([[semDedupIncrementOver]]) and the scale sweep's
    * read-attribution cell, so what the sweep measures is exactly
    * what the serve scans.
    *
    * 100 TB shape of this scan, and the attribution of the sweep's
    * `vover_read_mb` creep (r17 verdict task #5 — measured, not
    * hypothesized): the r17 guess was that this index scan grew with
    * N, but DEDUP_SCALE.json's `vover_idx_scan_mb` cell — this exact
    * projection, scanned alone — measures 0.4→0.4→0.8→1.4 MB across
    * 10⁴→10⁷ (the three probe columns encode to ~0.2% of the 577 MB
    * on-disk index at 10⁷): the probe does read the index wholesale
    * by design (it is bucketed by `row_key` for the delta-log's
    * supersede window, so it cannot be code-partitioned for pruning
    * without a second projection), but that scan is under a tenth of
    * the screen's read. The creep lives in the candidate POINT
    * FETCH: the fixed batch's band collisions land uniformly across
    * the corpus parquet, and each scattered candidate costs one
    * row-group column-chunk slice of the embedding column — so the
    * read grows with the number of DISTINCT row groups the ~bounded
    * candidate set touches, which SATURATES once every candidate
    * hits its own row group (sweep: read minus index scan
    * 5.2→11.1→14.8→15.1 MB across 10⁴→10⁷ — flat in the last
    * decade, exactly the saturation point). The asymptote is
    * |candidates| × chunk-slice bytes — constant in N, the same
    * plateau law as the key index's |candidates| × keysPerPartition
    * confirm read. */
  def srpIndexProbeRows(
      spark: org.apache.spark.sql.SparkSession, indexDir: String)
      : DataFrame =
    srpIndexTarget(indexDir).read(spark)
      .select(col("item_key"), col("band"), col("code"))

  /** [[incrementalSemDedup]] served from a [[srpFlow]]-maintained
    * band index — the r14 design-gap fix: the per-batch screen no
    * longer re-encodes the whole corpus. The arriving batch's band
    * codes (broadcast) probe the thin index for candidate corpus
    * vectors; only THOSE vectors' embeddings are fetched (semi-join-
    * pruned corpus read) for the exact round-6 cosine verify —
    * per-batch work is O(batch + candidates + index probe), the
    * `minHashIncrementOver` shape. Index parameters come from the
    * index's declared sidecar, never from the caller — a drifted
    * caller cannot silently probe with mismatched banding.
    * Spec-gated (SrpFlowSpec): equals the corpus-rescan screen
    * [[incrementalSemDedup]] on identical inputs. */
  def semDedupIncrementOver(
      spark: org.apache.spark.sql.SparkSession, indexDir: String,
      corpus: DataFrame, increment: DataFrame, threshold: Double,
      idCol: String = "vec_id", embCol: String = "embedding")
      : DataFrame = {
    val meta = graft.engine.Sidecar.read(srpMetaFile(indexDir))
      .getOrElse(throw new IllegalStateException(
        s"semDedupIncrementOver($indexDir): no index metadata — was " +
          "the index built by srpFlow?"))
    graft.engine.Sidecar.validate(srpMetaFile(indexDir),
      Map("idCol" -> idCol, "embCol" -> embCol),
      what = s"semDedupIncrementOver($indexDir)")
    val planes = meta("planes").toInt
    val bands = meta("bands").toInt
    val dims = meta("dims").toInt

    val indexBands = srpIndexProbeRows(spark, indexDir)
      .select(col("item_key").as("__c_key"), col("band"), col("code"))

    // batch codes via the EXACT stage pipeline srpFlow writes;
    // embedding-free (the incrementalSemDedup shape: codes and
    // payload broadcast separately, no bands× payload blowup)
    val incCodes = increment
      .select(col(idCol).cast("string").as("__inc_key"),
        posexplode(srpBandCodes(col(embCol), planes, bands, dims))
          .as(Seq("band", "code")))
      .select("__inc_key", "band", "code")

    val candidates = indexBands
      .join(broadcast(incCodes), Seq("band", "code"))
      .select(col("__c_key"), col("__inc_key"))
      .dropDuplicates("__c_key", "__inc_key")
      .localCheckpoint()

    // verify: corpus embeddings ONLY for candidate vectors. The
    // candidate-derived sides are BROADCAST — candidates are bounded
    // by the banding budget ([[srpIndexPlanesFor]]), the corpus is
    // not: left to statistics, the planner sort-merge-joins these and
    // EXCHANGES the corpus-sized embedding table, which is exactly
    // the r16 10⁷ sweep blowup (shuffle bytes linear in N). With the
    // hints the corpus is scanned once, semi-pruned in place, and
    // never shuffled. Better still, when the candidate key set fits
    // the driver-list bound, it pushes into the scan itself as an IN
    // filter on the id column's NATIVE type (r16 verdict #1: casting
    // to string before the fetch would strip the pushdown for int64
    // ids) — a parquet-backed corpus then prunes row groups by
    // column stats and the fetch reads O(candidate row groups), not
    // O(corpus): a 100 TB embedding column is never re-scanned for a
    // 2k-doc batch. (The same bounded-driver-list contract as the
    // nightly delta re-stat; past the bound the semi join is the
    // honest degradation.)
    val corpusEmb = graft.engine.KeyedFetch.byNativeKey(
        corpus.select(col(idCol), col(embCol).as("__emb_c")),
        idCol, candidates.select("__c_key").distinct(), "__c_key")
      .drop(idCol)
    val incEmb = increment
      .select(col(idCol).cast("string").as("__inc_key"),
        col(embCol).as("__emb_i"))
      .join(broadcast(candidates.select("__inc_key").distinct()),
        Seq("__inc_key"), "left_semi")

    val dupKeys = corpusEmb
      .join(broadcast(candidates), Seq("__c_key"))
      .join(broadcast(incEmb), Seq("__inc_key"))
      .withColumn("__cos",
        round(cosineSimilarity(col("__emb_c"), col("__emb_i")), 6))
      .filter(col("__cos") >= threshold)
      .select(col("__inc_key"))
      .distinct()

    increment.join(dupKeys,
      increment(idCol).cast("string") === dupKeys("__inc_key"),
      "left_anti")
  }

  /** Diagnostic: (largest SRP cell, total vectors) for a candidate
    * plane count — the histogram [[semDedupKeep]]'s guard checks,
    * exposed so a pipeline can validate calibration on a corpus
    * sample without paying the dedup itself. Emb column untouched:
    * this aggregates only the derived cell code. */
  def semDedupCellStats(
      vectors: DataFrame, planes: Int, dims: Int = 64,
      embCol: String = "embedding"): (Long, Long) = {
    val r = vectors
      .select(element_at(srpBandCodes(col(embCol), planes, 1, dims), 1)
        .as("cluster"))
      .groupBy("cluster").agg(count(lit(1)).as("n"))
      .agg(coalesce(max("n"), lit(0L)), coalesce(sum("n"), lit(0L)))
      .head
    (r.getLong(0), r.getLong(1))
  }

  /** Smallest SRP plane count with 2^planes ≥ √n — SemDeDup's
    * "k ≈ √N" cluster-count rule (Abbas et al. 2023), so expected
    * within-cell pairwise work is O(√N) rows per cell. Capped at 24
    * planes (16.7M cells — past any realistic corpus's √N·safety). */
  def semDedupPlanesFor(n: Long): Int = {
    require(n >= 0, s"negative corpus count $n")
    var p = 1
    while (p < 24 && (1L << (2 * p)) < n) p += 1
    p
  }

  /** Exact all-pairs cosine ≥ threshold via *block-partitioned*
    * pairwise scoring — the distributed dense-matrix form of
    * [[nearDupPairs]], value-identical to it (same IEEE operation
    * order: index-ordered double accumulation, dot/(‖a‖·‖b‖), then
    * round to 6).
    *
    * Plan shape: vectors are hash-grouped into `numBlocks` packed
    * blocks; the join is over *block pairs* (bid_a ≤ bid_b — only
    * B(B+1)/2 rows, each carrying two packed arrays), and each task
    * scores one block pair with primitive double-array loops. Shuffle
    * volume is O(B·N/B·B) = O(N·B) vector replications, versus the
    * nested-loop join's O(N²) expression evaluations with per-pair
    * norm recomputation.
    *
    * Exact all-pairs is inherently O(N²) compute at any scale — for
    * the 100 TB path use [[Dedup.embeddingNearDupLsh]] (equi-join on
    * LSH buckets) and accept probabilistic recall; this operator is
    * the right *exact* shape: embarrassingly parallel block tasks,
    * each a cache-friendly primitive loop (no codegen fallback, no
    * per-pair array re-deserialization).
    */
  def nearDupPairsBlocked(
      vectors: DataFrame, threshold: Double, numBlocks: Int = 16,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val packed = vectors
      .select(col(idCol).cast("long").as("id"),
        col(embCol).cast("array<float>").as("emb"))
      .withColumn("bid", pmod(col("id"), lit(numBlocks)).cast("int"))
      .groupBy("bid").agg(collect_list(struct(col("id"), col("emb"))).as("items"))
    val joined = packed
      .select(col("bid").as("bid_a"), col("items").as("items_a"))
      .join(packed.select(col("bid").as("bid_b"), col("items").as("items_b")),
        col("bid_a") <= col("bid_b"))
      .select("bid_a", "items_a", "bid_b", "items_b")
    // anything below this raw cutoff cannot round up to `threshold`
    val cutoff = threshold - 5e-7
    val raw = joined.flatMap { row =>
      def unpack(i: Int): Array[(Long, Array[Double], Double)] =
        row.getSeq[org.apache.spark.sql.Row](i).iterator.map { r =>
          val e = r.getSeq[Float](1)
          val arr = new Array[Double](e.length)
          var k = 0; var sq = 0.0
          while (k < arr.length) {
            arr(k) = e(k).toDouble; sq += arr(k) * arr(k); k += 1
          }
          (r.getLong(0), arr, math.sqrt(sq))
        }.toArray
      val sameBlock = row.getInt(0) == row.getInt(2)
      val as = unpack(1)
      val bs = if (sameBlock) as else unpack(3)
      val out = Seq.newBuilder[(Long, Long, Double)]
      var i = 0
      while (i < as.length) {
        val (ia, ea, na) = as(i)
        var j = if (sameBlock) i + 1 else 0
        while (j < bs.length) {
          val (ib, eb, nb) = bs(j)
          if (ia != ib) {
            var dot = 0.0; var k = 0
            while (k < ea.length) { dot += ea(k) * eb(k); k += 1 }
            // zero-norm pairs score 0, not NaN (NaN >= cutoff is
            // silently false — it would drop the pair even when a
            // non-positive threshold should include it, diverging
            // from the scorers that already guard this)
            val cos = if (na == 0 || nb == 0) 0.0 else dot / (na * nb)
            if (cos >= cutoff)
              out += (if (ia < ib) (ia, ib, cos) else (ib, ia, cos))
          }
          j += 1
        }
        i += 1
      }
      out.result()
    }.toDF("id_a", "id_b", "raw")
    raw.withColumn("cosine", round(col("raw"), 6))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  // ---- sparse-vector retrieval ---------------------------------------

  /** Text → sparse term-frequency weights `(id, term, w)` — the
    * simplest learned-sparse stand-in (a SPLADE/BM25-family model
    * would emit the same relation with learned weights; the reference
    * stores such vectors as qdrant sparse vectors,
    * qdrant/_target.py:72-81, and zvec sparse fields,
    * zvec/_target.py:236-241). Tokenization is [[Fts.tokens]], the
    * analysis chain every keyword path here shares. */
  def sparseTermWeights(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol).as("id"),
      explode(Fts.tokens(col(textCol))).as("term"))
      .groupBy("id", "term")
      .agg(count(lit(1)).cast("double").as("w"))

  /** Sparse struct columns (`indices: ARRAY<INT>, values:
    * ARRAY<FLOAT>` — the wire shape of qdrant/zvec sparse vectors) →
    * the same `(id, term, w)` relation, terms being dimension ids. */
  def sparseStructWeights(docs: DataFrame, idCol: String,
      sparseCol: String): DataFrame =
    docs.select(col(idCol).as("id"),
      explode(arrays_zip(col(s"$sparseCol.indices"),
        col(s"$sparseCol.values"))).as("t"))
      .select(col("id"), col("t.indices").cast("string").as("term"),
        col("t.values").cast("double").as("w"))

  /** Top-k sparse dot-product retrieval — the inverted-index join:
    * score(q, d) = Σ_{t ∈ q ∩ d} q_t · d_t.
    *
    * Scale shape: with a small query batch the query side is
    * BROADCAST, so the corpus posting relation is scanned once with
    * no shuffle of corpus rows — the join is a map-side hash probe on
    * `term`, partials aggregate map-side, and the per-query top-k is
    * a ranking window (partial TakeOrdered per partition). With
    * `broadcastQueries = false` it degrades to a term-shuffled
    * equi-join for query sets too big to broadcast. Hot terms
    * (stopword-like dimensions) fan out the probe — prune them with
    * `maxDocFreq` (drop terms occurring in more than that fraction of
    * docs; learned-sparse models train those weights toward zero
    * anyway, and the reference's own FTS pruning plays the same
    * role).
    *
    * Ties break on ascending doc id, like every other top-k here.
    */
  def sparseTopK(docWeights: DataFrame, queryWeights: DataFrame, k: Int,
      broadcastQueries: Boolean = true,
      maxDocFreq: Double = 1.0,
      /** Drop hits whose doc id equals the query id — for
        * corpus-as-queries self-retrieval (near-dup style). */
      excludeSelf: Boolean = false): DataFrame = {
    val d0 = docWeights.select(col("id").as("doc_id"), col("term"),
      col("w").as("dw"))
    val d =
      if (maxDocFreq >= 1.0) d0
      else {
        val nDocs = docWeights.select("id").distinct().count()
        val keep = d0.groupBy("term")
          .agg(count(lit(1)).as("df"))
          .filter(col("df") <= lit(maxDocFreq * nDocs))
          .select("term")
        d0.join(broadcast(keep), "term")
      }
    val q = queryWeights.select(col("id").as("query_id"), col("term"),
      col("w").as("qw"))
    val joined =
      if (broadcastQueries) d.join(broadcast(q), "term")
      else d.join(q, "term")
    val filtered =
      if (excludeSelf) joined.filter(col("doc_id") =!= col("query_id"))
      else joined
    val scores = filtered
      .groupBy("query_id", "doc_id")
      .agg(sum(col("qw") * col("dw")).as("score"))
    val win = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("doc_id"))
    scores.withColumn("rank", row_number().over(win))
      .filter(col("rank") <= k)
      .select("query_id", "doc_id", "score")
  }
}
