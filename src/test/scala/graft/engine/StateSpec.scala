package graft.engine

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, StructField, StructType}
import java.nio.file.Files
import java.nio.charset.StandardCharsets

/** Sticky id sequences, per-component user state, and snapshot
  * carry-forward semantics of the state store (reference
  * test_id.py / user-state suites' shape).
  */
class StateSpec extends SparkSpec {

  private def tmp(p: String) = {
    val d = Files.createTempDirectory(p); d.toFile.deleteOnExit(); d
  }

  test("IdSequencer: ids are sticky across runs and never reused") {
    import spark.implicits._
    val store = new StateStore(spark, tmp("idseq").toString)
    def assign(keys: String*): Map[String, Long] =
      IdSequencer.assign(spark, store, "chunks", keys.toDF("seq_key"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    val first = assign("a", "b", "c")
    assert(first.values.toSet == Set(1L, 2L, 3L))
    // rerun with the same keys: identical assignment
    assert(assign("a", "b", "c") == first)
    // new key extends; existing keep theirs
    val withD = assign("a", "d")
    assert(withD("a") == first("a") && withD("d") == 4L)
    // after 'b' disappears, its id is NOT recycled
    val withE = assign("a", "e")
    assert(withE("e") == 5L)
    // and 'b' coming back still has its original id
    assert(assign("b")("b") == first("b"))
    // scopes are independent
    assert(IdSequencer.assign(spark, store, "other", Seq("a").toDF("k"))
      .collect().head.getLong(1) == 1L)
  }

  test("IdSequencer: fresh keys across many partitions still number densely in key order") {
    import spark.implicits._
    val store = new StateStore(spark, tmp("idseq-dist").toString)
    IdSequencer.assign(spark, store, "s", Seq("seed").toDF("k")) // max=1
    // 500 fresh keys scattered over 16 partitions: the distributed
    // prefix-sum numbering must equal the sequential row_number form
    val keys = (1 to 500).map(i => f"k$i%04d")
    val got = IdSequencer.assign(spark, store, "s",
        scala.util.Random.shuffle(keys).toDF("seq_key").repartition(16))
      .filter(col("seq_key") =!= "seed")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = keys.sorted.zipWithIndex.map { case (k, i) => k -> (i + 2L) }.toMap
    assert(got == want,
      "ids must be max+1.. in deterministic key order, dense and unique")
    // and sticky on rerun
    assert(IdSequencer.assign(spark, store, "s", Seq("k0042").toDF("k"))
      .collect().head.getLong(1) == want("k0042"))
  }

  test("a legacy unsharded id_seq table keeps its sequences after the sharding upgrade") {
    import spark.implicits._
    val store = new StateStore(spark, tmp("idseq-legacy").toString)
    // simulate a pre-sharding snapshot: rows in an UNSHARDED id_seq
    store.commit(Map("id_seq" -> Seq(
      ("chunks", "a", 1L), ("chunks", "b", 2L), ("other", "z", 7L))
      .toDF("scope", "seq_key", "id")))
    val got = IdSequencer.assign(spark, store, "chunks",
      Seq("a", "b", "c").toDF("k"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a" -> 1L, "b" -> 2L, "c" -> 3L),
      "legacy ids must be kept, new ids extend past the legacy max — " +
        "restarting at 1 would reuse ids already persisted downstream")
    // a sibling scope still reads its own legacy slice
    assert(IdSequencer.assign(spark, store, "other", Seq("z").toDF("k"))
      .collect().head.getLong(1) == 7L)
    // once the shard is seeded, it is authoritative
    assert(IdSequencer.assign(spark, store, "chunks", Seq("d").toDF("k"))
      .collect().head.getLong(1) == 4L)
  }

  test("user state: declared on compute, kept when unchanged, pruned on undeclare/delete") {
    import spark.implicits._
    val (src, tgt, st) = (tmp("us-src"), tmp("us-tgt"), tmp("us-st"))
    def write(rel: String, text: String): Unit = {
      Files.write(src.resolve(rel), text.getBytes(StandardCharsets.UTF_8))
    }
    write("a.md", "alpha one two")
    write("b.md", "bravo three")
    val stage = CocoFn("words", 1, fn = df =>
      df.select(col("item_key"),
        concat(col("item_key"), lit("#r")).as("row_key"),
        size(split(decode(col("content"), "UTF-8"), " ")).as("n_words")))
    // state: remember the word count per component
    val flow = new Flow("wc", LocalFsSource(src.toString, Seq("**.md")),
      Seq(stage), ParquetTableTarget(tgt.toString, 2), st.toString,
      userStateFn = Some((input, _) =>
        input.select(col("item_key"), lit("n_words").as("state_key"),
          size(split(decode(col("content"), "UTF-8"), " ")).cast("string")
            .as("value"))))

    flow.run(spark)
    val s1 = flow.userState(spark).collect()
      .map(r => r.getString(0) -> r.getString(2)).toMap
    assert(s1 == Map("a.md" -> "3", "b.md" -> "2"))

    // unchanged rerun: state intact (and no recompute touched it)
    assert(flow.run(spark).isNoop)
    assert(flow.userState(spark).count() == 2)

    // edit a.md: its state updates, b.md's is untouched
    write("a.md", "alpha has now five words")
    flow.run(spark)
    val s2 = flow.userState(spark).collect()
      .map(r => r.getString(0) -> r.getString(2)).toMap
    assert(s2 == Map("a.md" -> "5", "b.md" -> "2"))

    // delete b.md: its state is pruned with the component
    Files.delete(src.resolve("b.md"))
    flow.run(spark)
    assert(flow.userState(spark).collect()
      .map(r => r.getString(0)).toSeq == Seq("a.md"))
  }

  test("snapshot commit carries forward tables it does not rewrite") {
    import spark.implicits._
    val store = new StateStore(spark, tmp("carry").toString)
    IdSequencer.assign(spark, store, "s", Seq("x").toDF("k")) // writes id_seq
    // a commit of ONLY tracking must not lose id_seq
    store.commit(Map("tracking" -> Seq(("i", "r", "f"))
      .toDF("item_key", "row_key", "value_fp")))
    val ids = store.readFamily("id_seq", StateStore.IdSeqSchema)
    assert(ids.count() == 1)
    assert(store.read("tracking", StateStore.TrackingSchema).count() == 1)
  }

  test("a scope commit leaves sibling scopes' files byte-identical (linked, not rewritten)") {
    import spark.implicits._
    val root = tmp("shard")
    val store = new StateStore(spark, root.toString)
    IdSequencer.assign(spark, store, "alpha", Seq("a", "b").toDF("k"))
    val alphaShard = StateStore.shardName("id_seq", "alpha")
    // alpha's physical dirs: its base and/or its delta segments
    def shardFiles(v: Long): Map[String, (Long, Array[Byte])] = {
      val vdir = root.resolve(s"v=$v")
      val dirs = Option(vdir.toFile.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith(alphaShard))
      assert(dirs.nonEmpty, s"no physical dirs for $alphaShard at v=$v")
      dirs.flatMap { d =>
        Files.walk(d.toPath).filter(Files.isRegularFile(_)).toArray.map { p0 =>
          val p = p0.asInstanceOf[java.nio.file.Path]
          val ino = Files.getAttribute(p, "unix:ino").asInstanceOf[Long]
          vdir.relativize(p).toString -> (ino, Files.readAllBytes(p))
        }
      }.toMap
    }
    val v1 = store.currentVersion
    val before = shardFiles(v1)
    assert(before.nonEmpty)

    // a commit in a DIFFERENT scope must not touch alpha's shard:
    // same file set, byte-identical content, and actually the same
    // inodes (hard-linked carry-forward, not a rewrite or copy)
    IdSequencer.assign(spark, store, "beta", Seq("x", "y", "z").toDF("k"))
    val v2 = store.currentVersion
    assert(v2 == v1 + 1)
    val after = shardFiles(v2)
    assert(after.keySet == before.keySet, "alpha's file set must not change")
    before.foreach { case (rel, (ino, bytes)) =>
      assert(java.util.Arrays.equals(after(rel)._2, bytes),
        s"$rel must be byte-identical across a sibling-scope commit")
      assert(after(rel)._1 == ino, s"$rel must be hard-linked, not copied")
    }
    // and both scopes read back correctly through the family union
    val all = store.readFamily("id_seq", StateStore.IdSeqSchema)
    assert(all.groupBy("scope").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("alpha" -> 2L, "beta" -> 3L))
  }

  test("known-empty state reads as a local relation; an uncounted table reads parquet") {
    import StateStore._
    val store = new StateStore(spark, tmp("empty-reads").toString)
    val probe = spark.range(100).select(col("id").cast("string").as("row_key"))
    def exchanges(df: org.apache.spark.sql.DataFrame): Boolean =
      probe.join(df, Seq("row_key"), "full_outer")
        .queryExecution.executedPlan.toString.contains("Exchange")

    // absent table
    val absent = store.read("tracking", TrackingSchema)
    assert(absent.isLocal && absent.count() == 0)
    assert(store.readWhere("tracking", TrackingSchema,
      col("item_key") === "a").isLocal)
    assert(!exchanges(absent), "a full outer join against an absent table")

    // committed with 0 rows: the exact count sidecar says empty
    store.commitTables(Map("tracking" -> Full(emptyDf(spark, TrackingSchema))))
    assert(store.tableExists("tracking") &&
      store.rowCount("tracking").contains(0L))
    val counted = store.read("tracking", TrackingSchema)
    assert(counted.isLocal && counted.count() == 0)
    assert(store.readWhere("tracking", TrackingSchema,
      col("item_key") === "a").isLocal)
    assert(!exchanges(counted), "a full outer join against a count-0 table")

    // a table without a count sidecar reads through parquet, empty or not
    store.commitTables(Map("target_state" ->
      Full(emptyDf(spark, TargetStateSchema))))
    assert(store.rowCount("target_state").isEmpty)
    val uncounted = store.read("target_state", TargetStateSchema)
    assert(!uncounted.isLocal && uncounted.count() == 0)
    assert(exchanges(uncounted.select(col("main").as("row_key"))))
  }

  test("a stale v=next left by a failed commit never goes live") {
    import StateStore._
    val root = tmp("stale-next")
    val store = new StateStore(spark, root.toString)
    def frame(schema: org.apache.spark.sql.types.StructType,
        rows: Seq[Any]*): org.apache.spark.sql.DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(
        rows.map(r => org.apache.spark.sql.Row(r: _*)): _*), schema)
    def keysOf(cols: String*) = frame(org.apache.spark.sql.types.StructType(
      cols.map(org.apache.spark.sql.types.StructField(_,
        org.apache.spark.sql.types.StringType))))
    def memoRows(keys: String*) = keys.map(k => Seq(k, "p", s"m-$k", null))
    var memoModel = Map("a" -> "m-a", "b" -> "m-b")
    val errorsModel = Set(("a", "r1", "boom"))
    store.commitTables(Map(
      "component_memo" -> Delta(
        frame(ComponentMemoSchema, memoRows("a", "b"): _*), keysOf("item_key")),
      "errors" -> Delta(frame(ErrorsSchema, Seq("a", "r1", "boom")),
        keysOf("item_key", "row_key"))))
    val v1 = store.currentVersion

    // what a crashed commit leaves in v=next: a segment dir of its own,
    // and compaction parts where the memo base will be linked
    val next = root.resolve(s"v=${v1 + 1}")
    frame(StructType(ErrorsSchema.fields :+ StructField(DelCol, BooleanType)),
      Seq("z", "r9", "stale", false))
      .write.parquet(next.resolve(s"errors${SegSep}000009").toString)
    val parts = root.resolve("stray-parts")
    frame(ComponentMemoSchema, memoRows("zombie"): _*).coalesce(1)
      .write.parquet(parts.toString)
    Files.createDirectories(next.resolve("component_memo"))
    parts.toFile.listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(f => Files.copy(f.toPath,
        next.resolve("component_memo").resolve("part-99999-stale.parquet")))

    // the next commit appends a memo segment and carries the memo
    // base and the errors table forward
    store.commitTables(Map("component_memo" -> Delta(
      frame(ComponentMemoSchema, memoRows("c"): _*), keysOf("item_key"))))
    memoModel += "c" -> "m-c"
    assert(store.currentVersion == v1 + 1)
    assert(store.read("component_memo", ComponentMemoSchema).collect()
      .map(r => r.getString(0) -> r.getString(2)).toMap == memoModel)
    assert(store.read("errors", ErrorsSchema).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet ==
      errorsModel)
    assert(!Files.exists(next.resolve(s"errors${SegSep}000009")))
  }
}
