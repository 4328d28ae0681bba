package graft.syncbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.engine._
import graft.functions.HashEmbedder
import graft.operators.{Chunker, CrawlRefresh}

/** What one pass did, checked against what the generator planted. */
final case class PassResult(
    /** Why the pass is wrong, if it is. */
    error: Option[String],
    /** Target rows inserted + updated + deleted. */
    rowsWritten: Long,
    /** Source items the generator changed for this pass. */
    itemsChanged: Long,
    /** The engine's own report (RunStats / NightlyStats). */
    stats: String,
    /** Flow/nightly counters for the traced report. */
    counts: Map[String, Double] = Map.empty)

/** One index lifecycle: a seeded corpus, the engine objects that keep
  * its index current, and the generator that mutates the corpus. */
trait Replica extends AutoCloseable {
  /** The first pass, from empty state into an empty target. */
  def cold(): PassResult
  /** Mutate the source (outside any timed region). */
  def tick(): Unit
  /** A catch-up pass over the pending delta. */
  def update(): PassResult
  /** A catch-up pass when nothing changed. */
  def noop(): PassResult
  /** Target vs Transform(current source); None when they agree. */
  def verify(): Option[String]
  /** Directories holding the engine's own state. */
  def stateDirs: Seq[File]
  /** Statements the wire peer received since the previous call. */
  def drainPeer(): Long = 0L
  /** Digest of the generated inputs as they stand now. */
  def inputsDigest(): String
  def close(): Unit = ()
}

trait Workload {
  def name: String
  /** Ticks the warm-up replica runs after its cold build. */
  def warmupTicks: Int = 1
  /** No-op passes after each catch-up pass: a no-op pass is short, so
    * a run takes several and reports their median. */
  def noopsPerTick: Int
  /** Build a fresh replica: corpus, peer, engine objects. A `small`
    * replica is the warm-up one: the same code paths on a corpus a
    * tick can still mutate, so JIT and codegen warm-up cost little. */
  def open(spark: SparkSession, dir: File, seed: Long, traced: Boolean,
      small: Boolean): Replica
}

object Workload {
  val all: Seq[Workload] = Seq(PgFeed, CrawlNightly)
  def apply(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$name' (known: ${all.map(_.name).mkString(", ")})"))
}

/** Seeded text: a pseudo-word vocabulary and sentences drawn from it. */
final class TextGen(seed: Long) {
  val rng = new java.util.Random(seed)
  private val vocab: Array[String] = Array.fill(2000) {
    val n = 3 + rng.nextInt(7)
    new String(Array.fill(n)(('a' + rng.nextInt(26)).toChar))
  }
  /** About `len` characters of sentences of 6 to 16 words. */
  def paragraph(len: Int): String = {
    val sb = new StringBuilder
    while (sb.length < len) {
      if (sb.nonEmpty) sb.append(' ')
      val words = between(6, 16)
      (0 until words).foreach { i =>
        if (i > 0) sb.append(' ')
        sb.append(vocab(rng.nextInt(vocab.length)))
      }
      sb.append('.')
    }
    sb.toString
  }
  def between(lo: Int, hi: Int): Int = lo + rng.nextInt(hi - lo + 1)
  /** `k` distinct picks from `pool` that `ok` accepts. */
  def distinct[T](pool: scala.collection.IndexedSeq[T], k: Int, ok: T => Boolean): Seq[T] = {
    val out = mutable.LinkedHashSet.empty[T]
    while (out.size < k) {
      val x = pool(rng.nextInt(pool.size))
      if (ok(x)) out += x
    }
    out.toSeq
  }
}

object Digest {
  def md5(parts: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    parts.foreach { p => md.update(p.getBytes(UTF_8)); md.update(0.toByte) }
    md.digest().map(b => f"$b%02x").mkString
  }
  /** Order-independent (count, hash) of a frame's rows. */
  def frame(df: DataFrame): (Long, BigDecimal) = {
    val r = df.select(count(lit(1)),
      coalesce(sum(xxhash64(df.columns.map(col).toIndexedSeq: _*)
        .cast("decimal(38,0)")), lit(0).cast("decimal(38,0)"))).head()
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }
}

/** The O(delta) change-feed path: a keyed parquet table behind a
  * [[ChangeFeedSource]] whose watcher the generator feeds, into a
  * PostgreSQL table over the wire. */
object PgFeed extends Workload {
  val name = "pg_feed"
  /** The first no-op pass after a catch-up builds the engine's cached
    * view of the new state version; the other fifteen are the steady
    * idle poll, which their median reports. */
  val noopsPerTick = 16
  val Rows0 = 2000
  val Rewrites = 150
  val Deletes = 25
  val Inserts = 25
  val Dim = 64

  def open(spark: SparkSession, dir: File, seed: Long, traced: Boolean,
      small: Boolean): Replica =
    new Rep(spark, dir, seed, traced, if (small) 300 else Rows0)

  def stages(traced: Boolean): Seq[CocoFn] = Seq(
    CocoFn("chunk", 1, Seq("width=400", "stride=360"), df => {
      val text =
        if (!traced) col("text")
        else udf { s: String =>
          Trace.transformItems.incrementAndGet(); s }.apply(col("text"))
      Chunker.chunkFixed(df.select(col("item_key"), text.as("text")),
          "text", 400, 360)
        .select(col("item_key"),
          concat(col("item_key"), lit("#"), col("chunk_idx")).as("row_key"),
          col("chunk_idx"), col("chunk_text"))
    }),
    embedStage(traced))

  private def embedStage(traced: Boolean): CocoFn =
    CocoFn("embed", 1, Seq(s"dim=$Dim"), df =>
      df.withColumn("emb",
        if (!traced) HashEmbedder.embed(col("chunk_text"), Dim)
        else udf { s: String =>
          val t0 = System.nanoTime()
          val v = if (s == null) null else HashEmbedder.embedOne(s, Dim)
          Trace.transformNs.addAndGet(System.nanoTime() - t0)
          Trace.transformRows.incrementAndGet()
          v
        }.apply(col("chunk_text"))))

  private def runStats(s: RunStats): Map[String, Double] = {
    val desired = s.rowsInserted + s.rowsUpdated + s.rowsNoop
    Map(
      "flow.recomputed" -> s.recomputed.toDouble,
      "flow.refreshed" -> s.refreshed.toDouble,
      "flow.memo_hit_ratio" ->
        (if (s.components == 0) 0.0
         else (s.unchanged + s.refreshed).toDouble / s.components),
      "flow.rows_noop_ratio" ->
        (if (desired == 0) 0.0 else s.rowsNoop.toDouble / desired))
  }

  /** A pass's report, checked against the classification the
    * generator planted; a pass with nothing planted must be a no-op. */
  private def result(what: String, s: RunStats, recomputed: Long,
      deleted: Long, items: Long): PassResult = {
    val ok = s.recomputed == recomputed && s.deletedComponents == deleted &&
      s.refreshed == 0 && s.rowsFailed == 0 &&
      (recomputed + deleted > 0 || s.isNoop)
    PassResult(
      if (ok) None
      else Some(s"$what: expected recomputed=$recomputed deleted=$deleted " +
        s"refreshed=0, engine reported $s"),
      s.rowsInserted + s.rowsUpdated + s.rowsDeleted, items, s.toString,
      runStats(s))
  }

  /** The benchmark's own feed: the generator pushes changed keys,
    * a pass drains them. */
  final class Feed extends SourceWatcher {
    private val pending = mutable.LinkedHashSet.empty[String]
    def push(keys: Iterable[Long]): Unit = synchronized {
      pending ++= keys.map(_.toString)
    }
    def drain(): (Seq[String], Boolean) = synchronized {
      val out = pending.toSeq
      pending.clear()
      (out, false)
    }
    def close(): Unit = ()
  }

  final class Rep(spark: SparkSession, dir: File, seed: Long, traced: Boolean,
      rows: Int) extends Replica {
    private val gen = new TextGen(seed)
    private val texts = mutable.HashMap.empty[Long, String]
    private val live = mutable.ArrayBuffer.empty[Long]
    private var nextKey = 0L
    private var tickNo = 0
    @volatile private var current = ""
    private val feed = new Feed
    private val pg = new graft.fixtures.MiniPg
    private val state = new File(dir, "state")

    private def newText(): String = {
      val target = gen.between(600, 2400)
      val sb = new StringBuilder
      while (sb.length < target) {
        if (sb.nonEmpty) sb.append(' ')
        sb.append(gen.paragraph(gen.between(120, 400)))
      }
      sb.toString
    }
    private def insert(): Long = {
      val k = nextKey
      nextKey += 1
      texts(k) = newText()
      live += k
      k
    }
    private val schema = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("text", StringType, nullable = false)))
    /** Each version of the table is a fresh directory; the source
      * always reads the latest. */
    private def writeTable(): Unit = {
      val path = new File(dir, s"src/v=$tickNo").getPath
      val rows = texts.keys.toSeq.sorted.map(k => Row(k, texts(k)))
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .repartition(4).sortWithinPartitions("k")
        .write.parquet(path)
      val prev = current
      current = path
      if (prev.nonEmpty) FsUtil.deleteRecursively(new File(prev))
    }

    (0 until rows).foreach(_ => insert())
    writeTable()

    private val flow = {
      val src = ChangeFeedSource(
        TableSource(sp => sp.read.parquet(current), "k"), () => feed)
      val target = PgTableTarget(pg.host, pg.port, "bench", "chunks",
        vectorDims = Map("emb" -> Dim),
        writePartitions = spark.sparkContext.defaultParallelism)
      new Flow(name,
        if (traced) new TracedSource(src) else src,
        stages(traced),
        if (traced) new TracedTarget(target) else target,
        state.getPath, rowKeyOwnedByItem = true)
    }

    def stateDirs: Seq[File] = Seq(state)
    override def drainPeer(): Long = {
      var n = 0L
      while (pg.observed.poll() != null) n += 1
      n
    }

    def cold(): PassResult =
      result("cold build", flow.runFeed(spark), texts.size, 0, texts.size)

    def tick(): Unit = {
      tickNo += 1
      val rewrites = gen.distinct(live, Rewrites, (_: Long) => true)
      val deletes = gen.distinct(live, Deletes, (k: Long) => !rewrites.contains(k))
      rewrites.foreach { k =>
        var t = texts(k)
        while (t == texts(k)) t = newText()
        texts(k) = t
      }
      deletes.foreach { k => texts.remove(k); live -= k }
      val inserts = (0 until Inserts).map(_ => insert())
      writeTable()
      feed.push(rewrites ++ deletes ++ inserts)
    }

    def update(): PassResult =
      result(s"tick $tickNo", flow.runFeed(spark), Rewrites + Inserts, Deletes,
        Rewrites + Deletes + Inserts)

    def noop(): PassResult =
      result(s"no-op pass after tick $tickNo", flow.runFeed(spark), 0, 0, 0)

    def verify(): Option[String] = {
      val cols = Seq("row_key", "chunk_idx", "chunk_text", "emb")
      val table = pg.table("chunks").getOrElse(
        return Some("target table 'chunks' does not exist"))
      val held = table.rows.values.map(r =>
        Row(cols.map(c => r.get(c).flatten.orNull): _*)).toSeq
      val actual = Digest.frame(spark.createDataFrame(
        java.util.Arrays.asList(held: _*),
        StructType(cols.map(StructField(_, StringType)))))
      // PostgreSQL's text forms: integers as digits, vectors as [x,y,…]
      val vecText = udf((v: Seq[Float]) => v.mkString("[", ",", "]"))
      val source = spark.read.parquet(current)
        .select(col("k").cast("string").as("item_key"), col("text"))
      val expected = Digest.frame(
        stages(traced = false).foldLeft(source)((df, s) => s.fn(df))
          .select(col("row_key"), col("chunk_idx").cast("string"),
            col("chunk_text"), vecText(col("emb"))))
      if (expected == actual) None
      else Some(s"PostgreSQL table diverged from the source: expected " +
        s"(rows, hash) $expected, table holds $actual")
    }

    def inputsDigest(): String =
      Digest.md5(texts.keys.toSeq.sorted.iterator.flatMap(k =>
        Iterator(k.toString, texts(k))))

    override def close(): Unit = pg.close()
  }
}

/** The LLM-data operators on the delta-log export: a crawl refreshed
  * nightly through exact and fuzzy duplicate screens. */
object CrawlNightly extends Workload {
  val name = "crawl_nightly"
  /** A night costs ~120 Spark jobs whatever the corpus size, so the
    * warm-up replica only bootstraps: the timed night is the first
    * refresh night of the process, as a nightly batch job runs. */
  override val warmupTicks = 0
  val noopsPerTick = 3
  val Docs0 = 3000L
  val Removed = 100
  val Changed = 100
  val Added = 200
  val Tokens = 40

  def open(spark: SparkSession, dir: File, seed: Long, traced: Boolean,
      small: Boolean): Replica =
    new Rep(spark, dir, seed, if (small) 300L else Docs0)

  private def tokens(prefix: String, id: org.apache.spark.sql.Column) =
    concat_ws(" ", (0 until Tokens).map(j =>
      substring(md5(concat(lit(s"$prefix:"), id, lit(s":$j"))), 1, 8)): _*)

  final class Rep(spark: SparkSession, dir: File, seed: Long, docs: Long)
      extends Replica {
    private val gen = new TextGen(seed)
    // each seed plants its own (fixed) night size, so the export's
    // write amplification is a per-seed constant, not a global one
    private val removedN = math.round(Removed * (0.9 + 0.2 * gen.rng.nextDouble())).toInt
    private val changedN = math.round(Changed * (0.9 + 0.2 * gen.rng.nextDouble())).toInt
    private val freshN = Added / 2
    private val exactN = Added / 4
    private val nearN = Added - freshN - exactN
    private val work = new File(dir, "night").getPath
    /** Ids of the kept corpus (what the export must hold). */
    private val kept = mutable.ArrayBuffer.empty[Long]
    private var nextId = docs
    private var tickNo = 0
    private var snap = ""
    private var drain: Seq[String] = Nil

    private def snapPath(t: Int) = new File(dir, s"snap/v=$t").getPath
    private def publish(df: DataFrame): Unit = {
      val path = snapPath(tickNo)
      df.repartition(4).sortWithinPartitions("doc_id").write.parquet(path)
      val prev = snap
      snap = path
      if (prev.nonEmpty) FsUtil.deleteRecursively(new File(prev))
    }

    publish(spark.range(docs).toDF("id").select(col("id").as("doc_id"),
      tokens(s"$seed:w", col("id")).as("text")))
    kept ++= (0L until docs)

    def stateDirs: Seq[File] = Seq(new File(work, "mhstate"))

    private def night(keys: Seq[String]): CrawlRefresh.NightlyStats = {
      val watcher = () => new SourceWatcher {
        private var done = false
        def drain(): (Seq[String], Boolean) =
          if (done) (Nil, false) else { done = true; (keys, false) }
        def close(): Unit = ()
      }
      CrawlRefresh.nightly(spark, work, spark.read.parquet(snap),
        expectedKeys = 4 * docs, exportDeltaLog = true,
        changeFeed = Some(watcher))
    }

    private def counts(n: CrawlRefresh.NightlyStats) = Map(
      "nightly.slice" -> n.sliceSize.toDouble,
      "nightly.removed" -> n.removedSize.toDouble,
      "nightly.screened" -> n.screenedOut.toDouble)

    private def describe(n: CrawlRefresh.NightlyStats) =
      s"NightlyStats(bootstrap=${n.bootstrap},slice=${n.sliceSize}," +
        s"unchanged=${n.unchangedSize},removed=${n.removedSize}," +
        s"screened=${n.screenedOut},kept=${n.keptSize})"

    private def expectNight(what: String, n: CrawlRefresh.NightlyStats,
        slice: Long, removed: Long, screened: Long): Option[String] =
      if (!n.bootstrap && n.sliceSize == slice && n.removedSize == removed &&
          n.screenedOut == screened && n.keptSize == kept.size) None
      else Some(s"$what: expected slice=$slice removed=$removed " +
        s"screened=$screened kept=${kept.size}, nightly reported ${describe(n)}")

    def cold(): PassResult = {
      val n = night(Nil)
      val err =
        if (n.bootstrap && n.keptSize == kept.size) None
        else Some(s"bootstrap night: expected kept=${kept.size}, got ${describe(n)}")
      PassResult(err, n.keptSize, kept.size, describe(n), counts(n))
    }

    def tick(): Unit = {
      tickNo += 1
      val removed = gen.distinct(kept, removedN, (_: Long) => true).toSet
      val changed = gen.distinct(kept, changedN, (d: Long) => !removed(d)).toSet
      val sources = gen.distinct(kept, exactN + nearN,
        (d: Long) => !removed(d) && !changed(d))
      val (exact, near) = sources.splitAt(exactN)
      val fresh = (0 until freshN).map(i => nextId + i)
      val exactIds = (0 until exactN).map(i => nextId + freshN + i)
      val nearIds = (0 until nearN).map(i => nextId + freshN + exactN + i)
      nextId += freshN + exactN + nearN

      val prev = spark.read.parquet(snap)
      val keptRows = prev.filter(!col("doc_id").isin(removed.toSeq: _*))
        .select(col("doc_id"),
          when(col("doc_id").isin(changed.toSeq: _*),
            concat(lit(s"rev$tickNo: "), col("text"))).otherwise(col("text"))
            .as("text"))
      val freshRows = spark.createDataFrame(
          java.util.Arrays.asList(fresh.map(Row(_)): _*),
          StructType(Seq(StructField("doc_id", LongType, nullable = false))))
        .select(col("doc_id"), tokens(s"$seed:f", col("doc_id")).as("text"))
      def recrawl(ids: Seq[Long], from: Seq[Long], prefix: String) = {
        val m = spark.createDataFrame(
          java.util.Arrays.asList(ids.zip(from).map { case (a, b) => Row(a, b) }: _*),
          StructType(Seq(StructField("doc_id", LongType, nullable = false),
            StructField("src", LongType, nullable = false))))
        m.join(prev.select(col("doc_id").as("src"), col("text")), "src")
          .select(col("doc_id"), concat(lit(prefix), col("text")).as("text"))
      }
      publish(keptRows
        .unionByName(freshRows)
        .unionByName(recrawl(exactIds, exact, ""))
        .unionByName(recrawl(nearIds, near, "UPDATE: ")))
      kept --= removed
      kept ++= fresh
      drain = (removed ++ changed ++ fresh ++ exactIds ++ nearIds)
        .toSeq.sorted.map(_.toString)
    }

    def update(): PassResult = {
      val n = night(drain)
      drain = Nil
      val err = expectNight(s"night $tickNo", n,
        changedN + freshN + exactN + nearN, removedN, exactN + nearN)
      PassResult(err, n.removedSize + n.sliceSize - n.screenedOut,
        removedN + changedN + freshN + exactN + nearN, describe(n), counts(n))
    }

    def noop(): PassResult = {
      val n = night(Nil)
      PassResult(expectNight(s"unchanged night after $tickNo", n, 0, 0, 0),
        0, 0, describe(n), counts(n))
    }

    def verify(): Option[String] = {
      val m = CrawlRefresh.nightlyExportHandoff(spark, work)
      val total = m.agg(coalesce(sum("n_rows"), lit(0L))).head.getLong(0)
      if (total == kept.size) None
      else Some(s"export handoff holds $total rows, expected corpus of ${kept.size}")
    }

    def inputsDigest(): String = {
      val (n, h) = Digest.frame(spark.read.parquet(snap))
      s"$n:$h"
    }
  }
}
