package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{CocoFn, Flow, ParquetTableTarget, Sidecar, Source}

/** Incrementally-maintained aggregate — a materialized GROUP BY view
  * kept in sync by the engine's reconcile instead of recomputed from
  * the base table.
  *
  * The reference maintains *row-level* derived state (chunks,
  * embeddings, graph rows) incrementally; the analytics side of a
  * pipeline needs the same property for aggregates: a 100 TB base
  * table whose daily delta is 0.1% should not pay a full-scan
  * GROUP BY to refresh its summary tables. Decomposable aggregates
  * (count/sum/min/max — and avg as sum/count) split into per-bucket
  * partials that the engine maintains and a cheap fold at read:
  *
  *   - components = hash buckets of the base table's primary key
  *     ([[BucketedTableSource]]): a changed row dirties exactly one
  *     bucket, and the bucket's memo state is an order-insensitive
  *     row-fingerprint sum, computed in one map-side-combined pass.
  *   - the stage recomputes partials `(bucket, group) → cnt/sum/min/max`
  *     for dirty buckets only; the reconcile rewrites only those
  *     buckets' partial rows in the view table.
  *   - [[serve]] folds `numBuckets × |groups|` partial rows — for a
  *     view worth materializing that is orders of magnitude smaller
  *     than the base table, so serving cost is independent of base
  *     size.
  *
  * Size `numBuckets` so a bucket's rows fit one task comfortably
  * (≈ rows/10⁵); non-decomposable aggregates (exact count-distinct,
  * exact percentiles) need sketch partials instead and are out of
  * scope here by design.
  */
object AggView {

  private def metaFile(viewDir: String) = {
    val d = new java.io.File(viewDir).getAbsoluteFile
    new java.io.File(d.getParentFile, d.getName + "._graft_aggview.json")
  }

  /** Base-table buckets as flow components: `item_key` = pmod of the
    * key hash, memo state = order-insensitive sum of row
    * fingerprints (+ row count), so any row edit/insert/delete flips
    * exactly its bucket's state. The decimal sum keeps the
    * aggregation overflow-free under ANSI semantics and constant-
    * memory per bucket (no collect_list of row hashes). */
  final case class BucketedTableSource(
      table: SparkSession => DataFrame, keyCol: String, numBuckets: Int)
      extends Source {

    private def withBucket(df: DataFrame): DataFrame =
      df.withColumn("item_key",
        pmod(xxhash64(col(keyCol).cast("string")), lit(numBuckets))
          .cast("string"))

    /** The shared bucket-fingerprint aggregate: [[list]] and
      * [[listKeys]] must produce bit-identical memo states for the
      * same bucket, or a feed-driven re-stat would misclassify every
      * surviving bucket as changed. */
    private def bucketStates(df: DataFrame): DataFrame = {
      // nested hash, no JSON string building: the inner per-column
      // hash keeps nulls positional (a null column yields the seed
      // constant, so values cannot slide across columns), the outer
      // hash mixes them order-sensitively
      val valueCols = df.columns.filterNot(_ == "item_key").sorted
        .map(c => xxhash64(col(c))).toSeq
      df.select(col("item_key"),
          xxhash64(valueCols: _*).cast("decimal(38,0)").as("row_fp"))
        .groupBy("item_key")
        .agg(concat_ws(":", sum(col("row_fp")), count(lit(1)))
          .as("memo_state"))
    }

    def list(spark: SparkSession): DataFrame =
      bucketStates(withBucket(table(spark)))

    /** Bucket re-stat restricted to the requested buckets (a
      * [[graft.engine.ChangeFeedSource]] drain mapped through
      * [[AggView.bucketOf]]): the bucket id is a derived hash, so the
      * scan itself is not pruned for an arbitrary table thunk — but
      * the fingerprint + map-side-combined aggregate + shuffle run
      * over only the dirty buckets' rows, which is what dominates the
      * full listing's cost. A base table physically laid out by the
      * same bucketing (e.g. an upstream ParquetTableTarget) can prune
      * the scan too by filtering inside its thunk. */
    override def listKeys(spark: SparkSession, keys: Seq[String]): DataFrame = {
      val b = withBucket(table(spark))
      if (keys.isEmpty) bucketStates(b).limit(0)
      else bucketStates(b.filter(col("item_key").isin(keys.distinct: _*)))
    }

    def load(spark: SparkSession, keys: DataFrame): DataFrame =
      withBucket(table(spark))
        .join(keys.select("item_key"), Seq("item_key"), "left_semi")

    def contentFpOf: Option[org.apache.spark.sql.Column] = None
  }

  /** Bucket of a base-table key under [[BucketedTableSource]]'s
    * layout — the driver-side twin of its `pmod(xxhash64(key), n)`
    * (same seed-42 hash Spark evaluates; the [[graft.operators.Fts]]
    * termBucket pattern), used to map a change feed's row keys into
    * the dirty component set. */
  def bucketOf(key: String, numBuckets: Int): Int = {
    val h = new org.apache.spark.sql.catalyst.expressions.XxHash64(
      Seq(org.apache.spark.sql.catalyst.expressions.Literal.create(
        key, org.apache.spark.sql.types.StringType)))
      .eval(null).asInstanceOf[Long]
    java.lang.Math.floorMod(h, numBuckets.toLong).toInt
  }

  /** The maintained view: count/sum/min/max of `valueCol` per
    * `groupCols`, as an engine flow writing partial rows to
    * `viewDir`. Run it like any flow; re-running after base-table
    * changes touches only the dirty buckets. */
  def flow(
      name: String,
      table: SparkSession => DataFrame, keyCol: String,
      groupCols: Seq[String], valueCol: String,
      viewDir: String, stateDir: String,
      numBuckets: Int = 32,
      /** Maintain an approx-distinct of this column too: the partial
        * is a mergeable DataSketches HLL sketch per (bucket, group) —
        * the sketch algebra is what makes a non-decomposable
        * aggregate maintainable. */
      distinctCol: Option[String] = None,
      /** Maintain approximate quantiles of `valueCol` too: KLL
        * sketch partials per (bucket, group), unioned at serve into
        * p50/p95/p99 (±~1.65% rank error). Same caveat as the HLL
        * partial: sketch bytes are order-dependent, so recomputed
        * partials of a dirty bucket may rewrite without a semantic
        * change. */
      quantiles: Boolean = false,
      /** KLL accuracy parameter: the sketch (and its merge) is EXACT
        * while a group's total count stays ≤ k, approximate
        * (±~1.65% rank error at 200) past it. Serve with the same k. */
      quantileK: Int = graft.functions.QuantileSketch.DefaultK,
      /** A keyed change feed over the base table (e.g.
        * [[graft.engine.TopicTarget.feed]] on the upstream flow's
        * topic, one consumer group per view): drained row keys map to
        * their hash buckets, and a [[Flow.runFeed]] refresh re-stats
        * ONLY the dirty buckets — O(delta) view maintenance instead
        * of an O(N) base re-listing per refresh. */
      changeFeed: Option[() => graft.engine.SourceWatcher] = None): Flow = {
    val gcols = groupCols.map(col)
    val aggs =
      Seq(count(lit(1)).as("p_cnt"),
        sum(col(valueCol)).as("p_sum"),
        min(col(valueCol)).as("p_min"),
        max(col(valueCol)).as("p_max")) ++
        (if (quantiles)
          Seq(graft.functions.QuantileSketch
            .build(col(valueCol).cast("double"), quantileK).as("p_kll"))
        else Nil) ++
        // canonical string form: the sketch accepts int/long/string/
        // binary only, and the cast keeps any column type countable.
        // Sketch BYTES are insertion-order-dependent, so a recomputed
        // (bucket, group) partial may fingerprint differently even
        // when its data is unchanged — harmless (spurious updates stay
        // bounded inside already-dirty buckets) but visible in
        // rowsUpdated
        distinctCol.map(c =>
          hll_sketch_agg(col(c).cast("string"), 14).as("p_hll"))
    val stage = CocoFn(s"aggview_$name", 1,
      deps = Seq(s"g=${groupCols.mkString(",")}", s"v=$valueCol",
        s"d=${distinctCol.getOrElse("")}", s"q=$quantiles",
        s"qk=$quantileK"),
      fn = df => df
        .groupBy(col("item_key") +: gcols: _*)
        .agg(aggs.head, aggs.tail: _*)
        // to_json of the group-value struct: unambiguous row identity
        // (a separator join would collide "a","bc" with "ab","c")
        .withColumn("row_key",
          concat(col("item_key"), lit(":"), to_json(struct(gcols: _*)))))
    val bucketed = BucketedTableSource(table, keyCol, numBuckets)
    val src: Source = changeFeed match {
      case Some(f) => graft.engine.ChangeFeedSource(bucketed,
        () => new graft.engine.MappedWatcher(f(),
          keys => keys.map(k => bucketOf(k, numBuckets).toString)))
      case None => bucketed
    }
    new Flow(name,
      src,
      Seq(stage),
      ParquetTableTarget(viewDir, numBuckets = 8),
      stateDir,
      // persist the sketch parameter WITH the view: serve() must
      // merge partials at the k they were built with — a silently-
      // smaller k degrades exact quantiles to approximate with no
      // error (ADVICE r7). Sibling of the view dir (truncation
      // survives it), written only after a successful commit.
      afterCommit =
        if (quantiles) Some(() => Sidecar.write(metaFile(viewDir),
          Map("quantileK" -> quantileK.toString)))
        else None)
  }

  /** Fold the maintained partials into the final aggregate:
    * `(groupCols..., cnt, sum, min, max, avg)`. The KLL merge k is
    * read from the view's persisted metadata (written by [[flow]]);
    * the `quantileK` parameter is only a fallback for views that
    * predate the sidecar. */
  def serve(spark: SparkSession, viewDir: String, groupCols: Seq[String],
      quantileK: Int = graft.functions.QuantileSketch.DefaultK)
      : DataFrame = {
    val servedK = Sidecar.read(metaFile(viewDir))
      .flatMap(_.get("quantileK")).map(_.toInt)
      .getOrElse(quantileK)
    // through the target's reader, not a raw parquet scan: a
    // legitimately-empty view (every base row deleted) has no data
    // files left, and only the target knows the persisted schema
    val partials = ParquetTableTarget(viewDir).read(spark)
    val base = Seq(sum(col("p_cnt")).as("cnt"),
      sum(col("p_sum")).as("sum"),
      min(col("p_min")).as("min"),
      max(col("p_max")).as("max"))
    val aggs = base ++
      (if (partials.columns.contains("p_hll"))
        Seq(hll_sketch_estimate(hll_union_agg(col("p_hll")))
          .cast("long").as("approx_distinct"))
      else Nil) ++
      (if (partials.columns.contains("p_kll"))
        Seq(graft.functions.QuantileSketch
          .mergeAgg(col("p_kll"), servedK).as("__kll"))
      else Nil)
    val folded = partials.groupBy(groupCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("avg", col("sum") / col("cnt"))
    if (folded.columns.contains("__kll")) {
      // one deserialization serves all three ranks
      folded
        .withColumn("__qs", graft.functions.QuantileSketch
          .quantiles(col("__kll"), Seq(0.50, 0.95, 0.99)))
        .withColumn("p50", element_at(col("__qs"), 1))
        .withColumn("p95", element_at(col("__qs"), 2))
        .withColumn("p99", element_at(col("__qs"), 3))
        .drop("__kll", "__qs")
    } else folded
  }
}
