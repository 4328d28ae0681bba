package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Full-text retrieval over an inverted term index.
  *
  * Every analytical target in the reference declares a full-text
  * index next to its vector index — doris's inverted FTS index
  * (`doris/_target.py:1227-1287`), lancedb's FTS index
  * (`lancedb/_target.py:1337`), valkey's search index
  * (`valkey/_target.py:675`) — and the serving side is a ranked
  * keyword query against that index. This module is the Spark-native
  * equivalent: the index is two DataFrames (postings + doc lengths),
  * buildable in one pass and maintainable incrementally (postings
  * are per-doc rows, so the engine reconcile updates exactly the
  * edited documents' rows — same pattern as the IVF vector index),
  * and search is BM25 over an equi-join on term.
  *
  * Scale shape: postings shuffle once on `term` at build; a query
  * touches only its terms' posting rows (partition-pruned when the
  * index table is written bucketed/partitioned by term), the query
  * term list is broadcast, and corpus-level stats (N, avgdl) ride a
  * broadcast 1-row cross join — no driver-side collect anywhere.
  */
object Fts {

  /** Lowercased word tokens; the analysis chain shared by index and
    * query sides (and by the DuckDB oracle — keep in sync). */
  def tokens(text: Column): Column =
    regexp_extract_all(lower(text), lit("[a-z0-9]+"), lit(0))

  /** Inverted index: `postings(term, doc_id, tf)` and
    * `docLengths(doc_id, dl)`. One tokenize pass, one shuffle.
    * `termBuckets` is present when the postings are term-bucketed on
    * disk ([[ftsFlow]]): `(numBuckets, term → bucket)`, letting
    * [[bm25]] prune the scan to the query terms' buckets. */
  final case class Index(postings: DataFrame, docLengths: DataFrame,
      termBuckets: Option[(Int, String => Int)] = None)

  def buildIndex(
      docs: DataFrame, idCol: String = "doc_id", textCol: String = "text")
      : Index = {
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("term"))
    Index(
      postings = toks.groupBy("term", "doc_id")
        .agg(count(lit(1)).as("tf")),
      docLengths = toks.groupBy("doc_id")
        .agg(count(lit(1)).as("dl")))
  }

  /** BM25 scores for `queryTerms` against a prebuilt index: one row
    * per document matching at least one term, schema
    * `(doc_id, score)`. Lucene's non-negative idf variant,
    * `ln(1 + (N - df + ½)/(df + ½))`.
    *
    * df/N/avgdl derive from the index itself so a served index is
    * self-contained; both aggregates stay lazy (1-row broadcast
    * cross join), keeping the whole search a single Spark plan.
    */
  def bm25(
      index: Index, queryTerms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val terms = queryTerms.distinct
    // term-bucketed index: restrict the scan to the buckets the query
    // terms hash to — partition pruning, the point of the layout
    val pruned = index.termBuckets match {
      case Some((_, bucketOf)) =>
        val qb = terms.map(bucketOf).distinct
        index.postings.filter(col("bucket").isin(qb: _*))
      case None => index.postings
    }
    val matched = pruned
      .filter(col("term").isin(terms: _*))
    val df = matched.groupBy("term")
      .agg(count(lit(1)).as("df"))
    val stats = index.docLengths
      .agg(count(lit(1)).as("n"), avg(col("dl")).as("avgdl"))
    val idf = log(lit(1.0) +
      (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val tfNorm = col("tf") * lit(k1 + 1.0) /
      (col("tf") + lit(k1) *
        (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))
    matched
      .join(broadcast(df), Seq("term"))
      .join(index.docLengths, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("term_score", idf * tfNorm)
      .groupBy("doc_id")
      .agg(sum(col("term_score")).as("score"))
  }

  /** Convenience: tokenize + index + score in one plan. */
  def bm25Search(
      docs: DataFrame, queryTerms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    bm25(buildIndex(docs, idCol, textCol), queryTerms, k1, b)

  /** Bucket of a term under the [[ftsFlow]] layout: the same
    * xxhash64(seed 42) Spark computes for the write path, evaluated
    * driver-side on the literal. */
  private[operators] def termBucket(term: String, numBuckets: Int): Int = {
    val h = new org.apache.spark.sql.catalyst.expressions.XxHash64(
      Seq(org.apache.spark.sql.catalyst.expressions.Literal.create(
        term, org.apache.spark.sql.types.StringType)))
      .eval(null).asInstanceOf[Long]
    java.lang.Math.floorMod(h, numBuckets.toLong).toInt
  }

  /** The maintained FTS index: ONE flow whose stage emits both the
    * postings rows and the doc-length rows, fanned into the two
    * physical tables by a [[graft.engine.FanoutTarget]] — the corpus
    * is listed, loaded, tokenized and reconciled once per refresh
    * (it used to be two separate engine passes, which a clean
    * measurement showed doubled the per-refresh fixed cost), and both
    * tables always commit views of the SAME corpus snapshot. */
  final case class FtsFlows(flow: graft.engine.Flow) {
    def run(spark: org.apache.spark.sql.SparkSession): graft.engine.RunStats =
      flow.run(spark)
    /** Feed-driven refresh: one watcher, one consumer group — the
      * single flow re-stats only the changed docs per drain. */
    def runFeed(spark: org.apache.spark.sql.SparkSession)
        : graft.engine.RunStats =
      flow.runFeed(spark)
  }

  /** The inverted index as an engine-maintained flow target — the
    * FTS analog of [[Similarity.ivfFlow]]: each document is one
    * component whose rows are its postings plus its one doc-length
    * row (`row_key = pl:doc:term` / `dl:doc`), so an edited document
    * rewrites exactly its own rows through the reconcile (O(changed
    * docs), not a corpus rebuild), and a deleted document's rows are
    * GC'd as orphans. A single engine pass maintains BOTH tables: the
    * stage emits the two row kinds and a [[graft.engine.FanoutTarget]]
    * routes them by `row_key` prefix into the postings and doclen
    * containers (previously two separate flows = two full list/load/
    * reconcile cycles per refresh over the same corpus).
    *
    * Layout is read-optimized: postings are BUCKETED BY TERM
    * (`bucketKeySql` hashes the row_key's term suffix), so a query
    * prunes its scan to the buckets its terms hash to — the inverted-
    * index property the module header promises. The cost is write
    * fan-out: one edited document's postings touch up to
    * min(|terms|, numBuckets) buckets instead of one — the classic
    * read-optimized trade every search engine makes (Lucene pays it
    * as segment merging). Doc lengths are their own maintained table
    * (`row_key = dl:doc`), so corpus stats (N, avgdl) fold from a
    * doc-count-sized table instead of re-aggregating the postings
    * per query.
    */
  def ftsFlow(
      spark: org.apache.spark.sql.SparkSession, name: String,
      corpus: org.apache.spark.sql.SparkSession => DataFrame,
      indexDir: String, stateDir: String, numBuckets: Int = 8,
      idCol: String = "doc_id", textCol: String = "text",
      /** Keyed change feed over the corpus (doc-id keys) with a
        * durable cursor (e.g. [[graft.engine.TopicTarget.feed]] with
        * a consumer group): with it, [[FtsFlows.runFeed]] re-stats
        * only the changed docs instead of re-fingerprinting the
        * corpus. One watcher maintains both tables — the single flow
        * needs a single cursor. */
      changeFeed: Option[() => graft.engine.SourceWatcher] = None,
      /** Pre-built source to read the corpus through instead of a
        * private TableSource — pass the SAME
        * [[graft.engine.SharedScanSource]] to every co-sourced index
        * flow and run them inside one `SharedScanSource.cycle` so
        * they pay ONE corpus fingerprint scan per refresh (and see
        * one corpus snapshot). The shared projection must carry
        * `textCol`; extra columns (a sibling flow's embedding) only
        * widen the memo fingerprint — rows whose other columns
        * change re-stat but reconcile to noop. */
      sourceOverride: Option[graft.engine.Source] = None)
      : FtsFlows = {
    // refuse takeover of a mismatched bucket layout (the srpFlow/
    // minHashFlow ADVICE-r15 contract): maintaining a bootstrapped
    // index with a different numBuckets would strand postings in
    // buckets the term→bucket map never probes — and this flow's
    // afterCommit would then RELABEL the sidecar with the wrong value
    graft.engine.Sidecar.validate(
      new java.io.File(indexDir, "_graft_fts.json"),
      Map("numBuckets" -> numBuckets.toString),
      what = s"ftsFlow($indexDir) takeover")
    val tableSrc = sourceOverride.getOrElse(
      graft.engine.TableSource(corpus, keyCol = idCol))
    val src: graft.engine.Source = changeFeed match {
      case Some(f) => graft.engine.ChangeFeedSource(tableSrc, f)
      case None => tableSrc
    }
    // terms are [a-z0-9]+ tokens (no ':'), so the substring after the
    // LAST ':' of `pl:doc:term` is unambiguously the term even when
    // doc ids themselves contain ':'
    val target = graft.engine.FanoutTarget(Map(
      "pl" -> graft.engine.ParquetTableTarget(
        s"$indexDir/postings", numBuckets,
        bucketKeySql = "substring_index(row_key, ':', -1)"),
      "dl" -> graft.engine.ParquetTableTarget(
        s"$indexDir/doclen", numBuckets)))
    // textCol/idCol are stage logic: reconfiguring either on an
    // existing stateDir must invalidate the memo, or unchanged docs
    // keep serving postings built from the OLD column. v2: the
    // single-flow layout prefixed every row_key (pl:/dl:) — memoized
    // v1 outputs describe rows that no longer exist under these keys
    val stage = graft.engine.CocoFn("fts_index", 2,
      deps = Seq(s"t=$textCol", s"id=$idCol"),
      fn = df => ftsIndexRows(df, textCol))
    FtsFlows(new graft.engine.Flow(name, src, Seq(stage), target, stateDir,
      // row keys are "pl:item:term" / "dl:item" — item-owned for life
      rowKeyOwnedByItem = true,
      // the layout declaration ftsLoad prunes by — written only
      // AFTER a successful commit, so it always describes the
      // bucketing actually on disk
      afterCommit = Some(() => graft.engine.Sidecar.write(
        new java.io.File(indexDir, "_graft_fts.json"),
        Map("numBuckets" -> numBuckets.toString)))))
  }

  /** Load an [[ftsFlow]]-maintained index for [[bm25]]. Doc ids are
    * the engine's STRING item keys. The postings keep their `bucket`
    * partition column and the term→bucket map, so [[bm25]] prunes. */
  /** Batch bootstrap of an [[ftsFlow]]-shaped index WITHOUT the flow
    * engine — the FTS member of the bootstrap family
    * ([[graft.operators.Similarity.srpIndexBootstrap]],
    * [[graft.operators.Dedup.minHashIndexBootstrap]]): ONE
    * distributed write of the postings and doc-length tables in the
    * targets' exact bucket layouts (postings bucketed by the TERM so
    * query-time pruning works; doc lengths by row_key), plus the
    * layout sidecar [[ftsLoad]] requires. [[ftsFlow]] with the same
    * `numBuckets` takes over maintenance idempotently by row_key. */
  def ftsIndexBootstrap(
      spark: org.apache.spark.sql.SparkSession, indexDir: String,
      corpus: DataFrame, numBuckets: Int = 8,
      idCol: String = "doc_id", textCol: String = "text"): Unit = {
    val rows = ftsIndexRows(
      corpus.select(col(idCol).cast("string").as("item_key"),
        col(textCol)), textCol)
    val postings = rows.filter(col("row_key").startsWith("pl:"))
    val lens = rows.filter(col("row_key").startsWith("dl:"))
    // layout from the TARGETS themselves (shared with ftsFlow — the
    // two build paths cannot drift); truncate + one batch apply each,
    // written as each target's compacted base
    val plT = graft.engine.ParquetTableTarget(s"$indexDir/postings",
      numBuckets, bucketKeySql = "substring_index(row_key, ':', -1)")
    val dlT = graft.engine.ParquetTableTarget(s"$indexDir/doclen",
      numBuckets)
    plT.truncate(spark); dlT.truncate(spark)
    plT.apply(spark, postings, postings.select(col("row_key")).limit(0))
    dlT.apply(spark, lens, lens.select(col("row_key")).limit(0))
    graft.engine.Sidecar.write(
      new java.io.File(indexDir, "_graft_fts.json"),
      Map("numBuckets" -> numBuckets.toString))
  }

  /** The index-row derivation shared by [[ftsFlow]]'s stage and
    * [[ftsIndexBootstrap]] — ONE copy, so the two build paths cannot
    * drift (review r15). Input carries `(item_key, textCol)`; output
    * is the fanout row set: `pl:` postings and `dl:` doc lengths.
    * Token-less (or null-text) docs have no postings, so they must
    * have no doc-length row either — otherwise the served N/avgdl
    * diverge from buildIndex, which derives lengths from exploded
    * tokens and never sees such docs. */
  private def ftsIndexRows(df: DataFrame, textCol: String): DataFrame = {
    val toks = df.select(col("item_key"),
      explode(tokens(col(textCol))).as("term"))
    val postings = toks.groupBy("item_key", "term")
      .agg(count(lit(1)).as("tf"))
      .select(col("item_key"),
        concat(lit("pl:"), col("item_key"), lit(":"), col("term"))
          .as("row_key"),
        col("term"), col("tf"), lit(null).cast("long").as("dl"))
    val lens = df
      .select(col("item_key"),
        concat(lit("dl:"), col("item_key")).as("row_key"),
        lit(null).cast("string").as("term"),
        lit(null).cast("long").as("tf"),
        size(tokens(col(textCol))).cast("long").as("dl"))
      .filter(col("dl") > 0)
    postings.unionByName(lens)
  }

  def ftsLoad(spark: org.apache.spark.sql.SparkSession, indexDir: String)
      : Index = {
    // the bucket count MUST come from the index's own declaration: a
    // silent default would prune with the wrong term→bucket map and
    // drop real postings from every query — fail loudly instead
    val metaF = new java.io.File(indexDir, "_graft_fts.json")
    val numBuckets = graft.engine.Sidecar.read(metaF)
      .flatMap(_.get("numBuckets")).map(_.toInt)
      .getOrElse(throw new IllegalStateException(
        s"ftsLoad: missing/unreadable layout sidecar $metaF — cannot " +
          "prune an index whose bucketing is unknown"))
    // through the target handles, not raw parquet reads: read()
    // merges base + segments and drops tombstones
    val postings = graft.engine.ParquetTableTarget(
      s"$indexDir/postings", numBuckets,
      bucketKeySql = "substring_index(row_key, ':', -1)").read(spark)
    Index(
      postings = postings.select(col("item_key").as("doc_id"),
        col("term"), col("tf"), col("bucket")),
      docLengths = graft.engine.ParquetTableTarget(
        s"$indexDir/doclen", numBuckets).read(spark)
        .select(col("item_key").as("doc_id"), col("dl")),
      termBuckets = Some((numBuckets, termBucket(_, numBuckets))))
  }

  /** Reciprocal-rank fusion of ranked result lists: each list
    * contributes `1/(k0 + rank)` for the ids it ranks, summed across
    * lists (ids missing from a list contribute nothing — the
    * standard RRF of Cormack et al., and what hybrid
    * vector+keyword search over the reference's qdrant/lancedb
    * targets computes). Inputs are `(id, rank)` DataFrames with
    * dense 1-based ranks; output is `(id, rrf, ranks...)` with one
    * `rank_i` column per input list (null where absent).
    */
  def rrfFuse(ranked: Seq[DataFrame], idCol: String, k0: Int = 60)
      : DataFrame = {
    require(ranked.nonEmpty)
    val named = ranked.zipWithIndex.map { case (r, i) =>
      r.select(col(idCol), col("rank").as(s"rank_$i"))
    }
    val joined = named.reduce(_.join(_, Seq(idCol), "full_outer"))
    val contrib = named.indices.map { i =>
      when(col(s"rank_$i").isNotNull,
        lit(1.0) / (lit(k0) + col(s"rank_$i"))).otherwise(lit(0.0))
    }.reduce(_ + _)
    joined.withColumn("rrf", contrib)
  }
}
