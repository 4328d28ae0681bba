package graft.engine

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Change-feed-driven table flows (reference LiveMapFeed → mount_each,
  * live_component.py:567; kafka/_source.py:482): a keyed feed turns a
  * table-backed flow's refresh from an O(N) base re-fingerprint into
  * O(k) work for a k-key delta — the listing re-stat, the payload
  * load, and the reconcile all touch only the drained keys.
  */
class ChangeFeedSpec extends SparkSpec {

  private def tmp(p: String) = {
    val d = Files.createTempDirectory(p); d.toFile.deleteOnExit(); d
  }

  /** A feed whose pending batches the test scripts; every watch() of
    * one feed drains from the same shared queue (what a durable
    * cursor gives a real feed across watcher restarts). */
  private final class ScriptedFeed {
    private val queue = new java.util.ArrayDeque[(Seq[String], Boolean)]()
    def push(keys: Seq[String]): Unit = queue.add((keys, false))
    def watch(): SourceWatcher = new SourceWatcher {
      def drain(): (Seq[String], Boolean) =
        if (queue.isEmpty) (Nil, false) else queue.poll()
      def close(): Unit = ()
    }
  }

  private def baseRows(n: Int, bumped: Set[Long]) = {
    val bump = bumped.toSeq
    spark.range(n.toLong).select(col("id").as("doc_id"),
      (col("id") * 10 +
        when(col("id").isInCollection(bump), 1).otherwise(0)).as("v"))
  }

  test("a k-key feed over an N-row base costs O(k) stat work, not O(N)") {
    val N = 2000
    val base = tmp("cf-base").resolve("t").toString
    baseRows(N, Set.empty).write.parquet(base)

    // every row the source actually fingerprints/loads evaluates the
    // observer column exactly once per pass — the stat-work meter
    val acc = spark.sparkContext.longAccumulator("stat-work")
    val obs = udf { (x: Long) => acc.add(1); x }
    val corpus = (sp: org.apache.spark.sql.SparkSession) =>
      sp.read.parquet(base).withColumn("w", obs(col("v")))

    val feed = new ScriptedFeed
    val stage = CocoFn("emit", 1, fn = df => df.select(col("item_key"),
      col("item_key").as("row_key"), col("v")))
    val flow = new Flow("cf",
      ChangeFeedSource(TableSource(corpus, keyCol = "doc_id"),
        () => feed.watch()),
      Seq(stage),
      ParquetTableTarget(tmp("cf-out").resolve("t").toString, numBuckets = 4),
      tmp("cf-state").toString)

    // bootstrap: empty memo ⇒ one full run (the feed starts at "now")
    val boot = flow.runFeed(spark)
    assert(boot.components == N && boot.recomputed == N, s"bootstrap: $boot")
    assert(acc.value >= N, "bootstrap fingerprints the whole base")

    // 5 of 2000 rows change; the feed delivers exactly those keys
    val changed = Set(3L, 700L, 701L, 1500L, 1999L)
    baseRows(N, changed).write.mode("overwrite").parquet(base)
    feed.push(changed.map(_.toString).toSeq)

    acc.reset()
    val delta = flow.runFeed(spark)
    assert(delta.recomputed == 5 && delta.unchanged == N - 5 &&
      delta.components == N, s"delta: $delta")
    // O(k): re-stat (~k) + load (~k) + bounded plan re-evaluations —
    // nowhere near the N-row re-fingerprint the trait default costs
    assert(acc.value <= N / 10,
      s"a 5-key delta did O(${acc.value}) stat work over a $N-row base")

    // the target converged on the edited values
    val got = flow.target.read(spark)
      .filter(col("item_key").isin(changed.map(_.toString).toSeq: _*))
      .select(col("item_key"), col("v")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == changed.map(k => k.toString -> (k * 10 + 1)).toMap)

    // and a feed-quiet runFeed is a pure no-op
    assert(flow.runFeed(spark).isNoop)
  }

  test("a quiet runFeed on a committed flow launches no Spark job") {
    val base = tmp("cf-quiet").resolve("t").toString
    baseRows(50, Set.empty).write.parquet(base)
    val feed = new ScriptedFeed
    val flow = new Flow("cf-quiet",
      ChangeFeedSource(TableSource(sp => sp.read.parquet(base), "doc_id"),
        () => feed.watch()),
      Seq(CocoFn("emit", 1, fn = df => df.select(col("item_key"),
        col("item_key").as("row_key"), col("v")))),
      ParquetTableTarget(tmp("cf-quiet-out").resolve("t").toString, 2),
      tmp("cf-quiet-state").toString)
    assert(flow.runFeed(spark).recomputed == 50)
    baseRows(50, Set(7L, 8L)).write.mode("overwrite").parquet(base)
    feed.push(Seq("7", "8"))
    assert(flow.runFeed(spark).recomputed == 2)

    // the bootstrap test reads the memo's count sidecar: an emptiness
    // check over the memo itself costs one job on every call
    val (quiet, jobs) = jobsWhile(flow.runFeed(spark))
    assert(quiet.isNoop, s"$quiet")
    assert(jobs == 0, s"a quiet runFeed launched $jobs Spark jobs")
  }

  test("the delta re-stat pushes the key filter into the parquet scan") {
    val base = tmp("cf-push").resolve("t").toString
    baseRows(100, Set.empty).write.parquet(base)
    val src = TableSource(sp => sp.read.parquet(base), keyCol = "doc_id")
    val plan = src.listKeys(spark, Seq("3", "5"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("In(doc_id"),
      s"key IN filter must reach the scan as a pushed filter:\n$plan")
    // and the same filter prunes the bounded load path
    val loadPlan = src.load(spark, Seq("3", "5"))
      .queryExecution.executedPlan.toString
    assert(loadPlan.contains("In(doc_id"),
      s"bounded load must push the key filter:\n$loadPlan")
  }

  test("topic-fed flow: bootstrap, O(delta) ticks, durable offsets") {
    import spark.implicits._
    val topic = TopicTarget(tmp("cf-topic").resolve("t").toString)
    val none = spark.emptyDataFrame.withColumn("row_key", lit(""))
      .filter(lit(false)).select("row_key")

    topic.apply(spark,
      (1 to 6).map(i => (s"d$i", i)).toDF("row_key", "n"), none) // seg 1

    val stage = CocoFn("emit", 1, fn = df => df.select(col("item_key"),
      col("item_key").as("row_key"),
      get_json_object(col("value"), "$.n").cast("long").as("n")))
    val flow = new Flow("topic-cf",
      topic.source(spark, consumerGroup = Some("g")),
      Seq(stage),
      ParquetTableTarget(tmp("cf-tout").resolve("t").toString, numBuckets = 2),
      tmp("cf-tstate").toString)

    val boot = flow.runFeed(spark)
    assert(boot.components == 6 && boot.recomputed == 6, s"bootstrap: $boot")
    // a fresh group commits its armed offset: the NEXT runFeed must
    // resume from here even though zero ticks were processed
    assert(topic.committedOffset("g").contains(1L))

    // seg 2: one update, one tombstone — produced AFTER the bootstrap
    topic.apply(spark, Seq(("d2", 20)).toDF("row_key", "n"),
      Seq("d5").toDF("row_key"))
    val delta = flow.runFeed(spark)
    assert(delta.recomputed == 1 && delta.deletedComponents == 1 &&
      delta.unchanged == 4, s"delta: $delta")
    // the loop's final empty drain committed the processed tick
    assert(topic.committedOffset("g").contains(2L))

    val served = flow.target.read(spark).select("item_key", "n").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(served == Map("d1" -> 1L, "d2" -> 20L, "d3" -> 3L,
      "d4" -> 4L, "d6" -> 6L))

    assert(flow.runFeed(spark).isNoop)
  }

  test("event-driven object-store live: a tick re-stats only event keys") {
    // the reference's oci_object_storage event-driven refresh
    // (_source.py:640): store notifications land on a topic; the
    // flow's tick drains them and re-stats ONLY those objects —
    // composing ChangeFeedSource over ObjectStoreSource with a
    // TopicTarget feed, no new machinery.
    val root = tmp("os-live")
    for (i <- 0 until 50)
      Files.writeString(root.resolve(f"o$i%02d.dat"), s"v$i")
    val inner = ObjectStoreSource(s"file://$root")

    // counting proxy: proves the tick never re-lists the bucket and
    // stats exactly the event keys
    var fullLists = 0
    val statCalls = scala.collection.mutable.Buffer[Seq[String]]()
    val counting = new Source {
      def list(sp: org.apache.spark.sql.SparkSession) = {
        fullLists += 1; inner.list(sp)
      }
      def load(sp: org.apache.spark.sql.SparkSession,
          keys: org.apache.spark.sql.DataFrame) = inner.load(sp, keys)
      def contentFpOf = inner.contentFpOf
      override def listKeys(sp: org.apache.spark.sql.SparkSession,
          keys: Seq[String]) = { statCalls += keys; inner.listKeys(sp, keys) }
      override def listUnder(sp: org.apache.spark.sql.SparkSession,
          prefixes: Seq[String]) = inner.listUnder(sp, prefixes)
    }

    import spark.implicits._
    val topic = TopicTarget(tmp("os-events").resolve("t").toString)
    val none = Seq.empty[String].toDF("row_key")
    val stage = CocoFn("sizes", 1, fn = df => df.select(
      col("item_key"), col("item_key").as("row_key"),
      length(Source.textOf(col("content"))).as("n")))
    val flow = new Flow("oslive",
      ChangeFeedSource(counting, () => topic.feed(spark, Some("oslive"))),
      Seq(stage),
      ParquetTableTarget(tmp("os-t").resolve("t").toString, numBuckets = 4),
      tmp("os-s").toString)

    val boot = flow.runFeed(spark)
    assert(boot.components == 50 && boot.recomputed == 50, s"$boot")
    assert(fullLists >= 1)

    // two objects change; their bucket notifications hit the topic
    Files.writeString(root.resolve("o07.dat"), "v7-edited")
    Files.writeString(root.resolve("o31.dat"), "v31-edited")
    topic.apply(spark,
      Seq(("o07.dat", 1), ("o31.dat", 1)).toDF("row_key", "n"), none)

    fullLists = 0; statCalls.clear()
    val delta = flow.runFeed(spark)
    assert(delta.recomputed == 2 && delta.unchanged == 48, s"$delta")
    assert(fullLists == 0, "an event tick must never re-list the bucket")
    assert(statCalls.flatten.toSet == Set("o07.dat", "o31.dat"),
      s"tick must stat exactly the event keys, got $statCalls")

    assert(flow.runFeed(spark).isNoop)
  }

  test("AggView change feed recomputes only the dirty buckets") {
    val N = 200
    val numBuckets = 16
    val base = tmp("cf-agg").resolve("t").toString
    def rows(bumped: Set[Long]) = {
      val bump = bumped.toSeq
      spark.range(N.toLong).select(col("id").as("k"),
        (col("id") % 4).cast("string").as("g"),
        (col("id").cast("double") +
          when(col("id").isInCollection(bump), 1000.0).otherwise(0.0)).as("v"))
    }
    rows(Set.empty).write.parquet(base)

    val feed = new ScriptedFeed
    val viewDir = tmp("cf-aggview").resolve("view").toString
    val view = graft.operators.AggView.flow("cf_view",
      sp => sp.read.parquet(base), keyCol = "k",
      groupCols = Seq("g"), valueCol = "v",
      viewDir = viewDir, stateDir = tmp("cf-aggstate").toString,
      numBuckets = numBuckets, changeFeed = Some(() => feed.watch()))

    val boot = view.runFeed(spark)
    assert(boot.components == numBuckets, s"bootstrap: $boot")

    val changed = Set(7L, 8L, 150L)
    rows(changed).write.mode("overwrite").parquet(base)
    feed.push(changed.map(_.toString).toSeq)
    val dirty = changed.map(k =>
      graft.operators.AggView.bucketOf(k.toString, numBuckets))

    val delta = view.runFeed(spark)
    assert(delta.recomputed == dirty.size &&
      delta.unchanged == numBuckets - dirty.size, s"delta: $delta")

    // the served aggregate equals a direct GROUP BY over the new base
    val got = graft.operators.AggView.serve(spark, viewDir, Seq("g"))
      .select(col("g"), col("cnt"), col("sum"), col("min"), col("max"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    val want = rows(changed).groupBy("g")
      .agg(count(lit(1)).as("cnt"), sum("v").as("sum"),
        min("v").as("min"), max("v").as("max"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(got == want)

    assert(view.runFeed(spark).isNoop)
  }
}
