package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.VectorFunctions.cosineSimilarity

/** Near-duplicate detection designed for the 100 TB shape: candidate
  * generation is always an equi-join on a derived key (token or LSH
  * bucket) — never an all-pairs theta join — followed by exact
  * verification on the candidates only.
  *
  * Reference behavior mirrored: the dedup role of
  * `resolve_entities`'s candidate search (reference
  * python/cocoindex/ops/entity_resolution/__init__.py:200) and the
  * near-dup filtering a training-data pipeline needs (builder
  * mandate: MinHash/LSH, n-gram Jaccard, embedding-cosine).
  */
object Dedup {

  /** Exact n-gram-Jaccard near-dup via prefix filtering (the
    * PPJoin/Vernica-et-al. set-similarity join):
    *
    *   1. shingle each doc; order the token universe by ascending
    *      document frequency (rare first), ties by token text;
    *   2. each doc emits only its *prefix* — the first
    *      |S| - ceil(t·|S|) + 1 tokens in that order. Any pair with
    *      Jaccard ≥ t must share a prefix token (J ≥ t ⇒
    *      |A∩B| ≥ ceil(t·|A|), which cannot fit in the suffix), so
    *      recall is exactly 1 — this is an *exact* algorithm, unlike
    *      MinHash banding;
    *   3. candidates = equi-join of prefixes on token (shuffle is by
    *      token; rare-first ordering keeps high-frequency tokens out
    *      of prefixes, bounding skew);
    *   4. exact Jaccard verification on candidate pairs only.
    *
    * Scale: 3 hash shuffles (freq, per-doc window, candidate join) +
    * 2 key joins for verification — no cross product anywhere. The
    * round-1 design (equality on a 64-char text prefix) collapsed
    * under any shared boilerplate prefix; token prefixes cannot,
    * because frequent tokens are excluded from them by construction.
    */
  /** 64-bit FNV-1a over the chars of an n-gram (words joined by a
    * single space), distinct per doc. One primitive pass per
    * document — the HOF-expression form (split → filter → transform
    * with per-element concat_ws) is interpreted, re-evaluates the
    * split per reference, and was the dominant cost of the whole
    * near-dup job. Hash values only need to be consistent and
    * collision-free (P < 1e-8 at 10⁹ distinct shingles), not equal
    * to any SQL function: Jaccard over hashed sets equals Jaccard
    * over the string sets. */
  private[graft] def shingleHashUdf(n: Int) =
    udf { text: String => shingleHashUdfImpl(text, n) }

  def shingleNearDup(
      docs: DataFrame, threshold: Double, n: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // Shingles are hashed to longs at the scan: every downstream
    // shuffle/join/intersect moves longs, not n-gram strings.
    // spread the shingle UDF + explode across the full parallelism up
    // front: a narrow few-partition input would otherwise bottleneck
    // every downstream stage (AQE coalesces by BYTES and cannot see
    // that these stages are compute-dense at few bytes per row)
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val d = docs
      .repartition(par)
      .select(col(idCol).as("doc_id"), shingleHashUdf(n)(col(textCol)).as("sh"))
      .filter(size(col("sh")) > 0)
      .cache() // reused by prefix generation and both verify joins
    val tok = d.select(col("doc_id"), size(col("sh")).as("sz"),
      explode(col("sh")).as("tok"))
    val freq = tok.groupBy("tok").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id").orderBy(col("df"), col("tok"))
    val prefix = tok.join(freq, "tok")
      .withColumn("pos", row_number().over(w))
      .filter(col("pos") <= col("sz") - ceil(col("sz") * threshold) + 1)
      .select("doc_id", "sz", "tok")
    val candidates = prefix.select(col("doc_id").as("doc_a"),
        col("sz").as("sz_a"), col("tok"))
      .join(prefix.select(col("doc_id").as("doc_b"), col("sz").as("sz_b"),
        col("tok")), Seq("tok")) // (d unpersisted after materialization below)
      .filter(col("doc_a") < col("doc_b") &&
        // length filter (exact): J ≥ t ⇒ t·|A| ≤ |B| and t·|B| ≤ |A|
        col("sz_b") >= col("sz_a") * threshold &&
        col("sz_a") >= col("sz_b") * threshold)
      .select("doc_a", "doc_b")
      .dropDuplicates("doc_a", "doc_b")
    val verified = candidates
      .join(d.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(d.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
    // |A ∪ B| = |A| + |B| − |A ∩ B| (sets are distinct): avoids
    // materializing the concatenated array per pair
    val inter = size(array_intersect(col("sh_a"), col("sh_b")))
    val unionSize = size(col("sh_a")) + size(col("sh_b")) - inter
    val out = verified
      .withColumn("jaccard", round(inter.cast("double") / unionSize, 4))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
      .localCheckpoint() // materialize, then release the shingle cache
    d.unpersist()
    out
  }

  /** 64-bit SimHash of a document's shingle set: each shingle hash
    * votes its bits; the fingerprint takes the sign of each bit-sum.
    * Near-dup pairs are those within `maxHamming` bits.
    *
    * Blocking is EXACT by pigeonhole: split the 64 bits into
    * `maxHamming + 1` bands — two fingerprints within `maxHamming`
    * bits must agree on at least one whole band, so the band
    * equi-join has recall 1 and the Hamming check on candidates is
    * exact verification, not correction. */
  private[graft] def simHash64(sh: Array[Long]): Long = {
    val votes = new Array[Int](64)
    var i = 0
    while (i < sh.length) {
      val h = sh(i)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var fp = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) fp |= (1L << b); b += 1 }
    fp
  }

  /** Exact SimHash near-dup: doc pairs whose fingerprints are within
    * `maxHamming` bits. One map pass computes fingerprints; the
    * candidate join is an equi-join on (band index, band bits). */
  def simHashNearDup(
      docs: DataFrame, maxHamming: Int = 3, n: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 16)
    // maxHamming = 0 is exact-fingerprint dedup: block on the whole
    // fingerprint (one band of width 64 would overflow the mask)
    val bands = math.max(2, maxHamming + 1)
    val width = 64 / bands
    val fpUdf = udf { text: String =>
      val sh = shingleHashUdfImpl(text, n)
      if (sh.isEmpty) null.asInstanceOf[java.lang.Long]
      else java.lang.Long.valueOf(simHash64(sh))
    }
    val d = docs.select(col(idCol).as("doc_id"), fpUdf(col(textCol)).as("fp"))
      .filter(col("fp").isNotNull)
    val banded = d.select(col("doc_id"), col("fp"),
      explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .withColumn("code",
        expr(s"shiftrightunsigned(fp, band * $width)")
          .bitwiseAND(lit((1L << width) - 1)))
    val candidates = banded.select(col("doc_id").as("doc_a"),
        col("fp").as("fp_a"), col("band"), col("code"))
      .join(banded.select(col("doc_id").as("doc_b"), col("fp").as("fp_b"),
        col("band"), col("code")), Seq("band", "code"))
      .filter(col("doc_a") < col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    candidates
      .withColumn("hamming", bit_count(col("fp_a").bitwiseXOR(col("fp_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }

  /** The shingle-hash loop, callable from other UDFs. */
  private[graft] def shingleHashUdfImpl(text: String, n: Int): Array[Long] =
    if (text == null) Array.empty[Long]
    else {
      val words = text.split(' ').filter(_.nonEmpty)
      if (words.length < n) Array.empty[Long]
      else {
        import graft.functions.Hashing
        val set = new java.util.HashSet[java.lang.Long](words.length * 2)
        var i = 0
        while (i <= words.length - n) {
          var h = Hashing.FnvOffset
          var j = 0
          while (j < n) {
            if (j > 0) h = Hashing.fnvChar(h, ' ')
            val wrd = words(i + j)
            var k = 0
            while (k < wrd.length) { h = Hashing.fnvChar(h, wrd.charAt(k)); k += 1 }
            j += 1
          }
          set.add(h)
          i += 1
        }
        val out = new Array[Long](set.size)
        val it = set.iterator()
        var m = 0
        while (it.hasNext) { out(m) = it.next(); m += 1 }
        out
      }
    }

  /** MinHash signatures + banded candidates + exact Jaccard verify —
    * the classic approximate set-similarity join (recall is
    * probabilistic: a pair at Jaccard J collides in a band of r rows
    * with probability J^r). Use [[shingleNearDup]] when exactness is
    * required; MinHash wins when even the prefix join is too large
    * and a recall target suffices. Signature i = min over shingles of
    * a cheap i-seeded mix of the shingle hash. */
  def minHashNearDup(
      docs: DataFrame, threshold: Double, numHashes: Int = 32, bandRows: Int = 2,
      n: Int = 3, idCol: String = "doc_id", textCol: String = "text")
      : DataFrame = {
    require(numHashes % bandRows == 0)
    val d = docs.select(col(idCol).as("doc_id"),
      shingleHashUdf(n)(col(textCol)).as("sh"))
      .withColumn("sig", minHashDeriveSig(col("sh"), numHashes))
      .filter(col("sig").isNotNull)
      .cache()
    val banded = d.select(col("doc_id"), size(col("sh")).as("sz"),
      explode(sequence(lit(0), lit(numHashes / bandRows - 1))).as("band"),
      col("sig"))
      .withColumn("code", bandCode(bandRows))
      .select("doc_id", "sz", "band", "code")
    val out = verifyJaccard(bandCandidates(banded, threshold),
      d.select("doc_id", "sh"), threshold)
      .localCheckpoint() // materialize, then release the signature cache
    d.unpersist()
    out
  }

  /** md5-derived 60-bit hash (15 hex chars — positive-BIGINT-safe in
    * every engine; DuckDB computes the identical value with
    * `CAST(CAST('0x'||substring(md5(s),1,15) AS UBIGINT) AS BIGINT)`).
    * THE oracle-replication primitive — shared (private[graft]) so
    * every gate derives from one definition. */
  private[graft] def md5long(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Word n-gram shingles as STRINGS (the md5 gate variants hash the
    * strings so an external engine recomputes the same values), one
    * JVM pass per document. SAFE on short docs: fewer than `n` words
    * yields an empty array — the earlier expression form
    * (`sequence(0, size-n)`) descended to `[0,-1]` when size<n and
    * evaluated `element_at(words, 0)`, which always throws; one
    * short/empty text failed the whole job.
    *
    * Deliberately a UDF, against the usual codegen preference: the
    * higher-order-function form (split → filter → transform with
    * per-element concat_ws) is interpreted AND re-evaluates the
    * split per element reference — measured 16 s vs 1.2 s for this
    * UDF over sf0.1 documents (see also [[shingleHashUdf]], the same
    * finding on the hashed path). Values match the oracle's
    * `list_distinct(list_transform(range(greatest(len(words)-(n-1),
    * 0)), ...))` exactly: split on single space, empties filtered,
    * first-occurrence distinct. */
  private[graft] def shingleStringsUdf(n: Int) = udf { text: String =>
    if (text == null) Array.empty[String]
    else {
      val w = text.split(' ').filter(_.nonEmpty)
      if (w.length < n) Array.empty[String]
      else w.sliding(n).map(_.mkString(" ")).distinct.toArray
    }
  }

  /** ORACLE-REPLICABLE SimHash near-dup (gate-strength variant of
    * [[simHashNearDup]]): a 60-bit fingerprint whose every bit-vote
    * derives from md5 of the shingle strings, so an external SQL
    * engine recomputes fingerprints, pigeonhole candidates AND
    * Hamming distances bit-for-bit. 60 bits (15 md5 hex chars) keeps
    * everything positive-BIGINT-safe in both engines; pigeonhole
    * blocking stays exact: maxHamming+1 bands of 60/(maxHamming+1)
    * bits.
    *
    * Shape: shingle strings from [[shingleStringsUdf]] (measured 10×
    * the interpreted HOF expression), then ONE md5 per shingle
    * (codegen'd), then a single partial-aggregated
    * groupBy(doc) computing all 60 bit-vote sums as static agg
    * columns (the earlier form exploded each shingle hash into 60
    * (doc,bit) rows and aggregated twice — 60× the shuffled rows for
    * identical fingerprints); bit b is static per agg column, so the
    * plain `(h >> b) & 1` compiles into each one. */
  def simHashNearDupMd5(
      docs: DataFrame, maxHamming: Int = 3, n: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 10)
    val bands = math.max(2, maxHamming + 1)
    val width = 60 / bands
    val base = docs
      .select(col(idCol).as("doc_id"),
        shingleStringsUdf(n)(col(textCol)).as("sh"))
      .filter(size(col("sh")) > 0)
    // one codegen'd hash-aggregate: 60 bit-vote sums per doc (the
    // map-side partials carry 60 longs per doc, never per shingle)
    val voteCols = (0 until 60).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"v$b")
    }
    val votes = base
      .select(col("doc_id"), explode(col("sh")).as("s"))
      .select(col("doc_id"), md5long(col("s")).as("h"))
      .groupBy("doc_id")
      .agg(voteCols.head, voteCols.tail: _*)
    val fps = votes.select(col("doc_id"),
      (0 until 60).map(b =>
        when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
        .reduce(_ + _).as("fp"))
      .localCheckpoint() // fingerprints feed banding AND verification
    val banded = fps.select(col("doc_id"), col("fp"),
      explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .withColumn("code",
        expr(s"shiftrightunsigned(fp, band * $width)")
          .bitwiseAND(lit((1L << width) - 1)))
    banded.select(col("doc_id").as("doc_a"), col("fp").as("fp_a"),
        col("band"), col("code"))
      .join(banded.select(col("doc_id").as("doc_b"), col("fp").as("fp_b"),
        col("band"), col("code")), Seq("band", "code"))
      .filter(col("doc_a") < col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
      .withColumn("hamming",
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }

  /** Mersenne prime 2^31-1: the modulus of the classic universal
    * `(a·x + b) mod p` MinHash family. With a,b < p and x ≡ h mod p,
    * every intermediate stays under 2^62 — no 64-bit overflow in the
    * JVM and none in external SQL engines that ERROR on BIGINT
    * overflow (DuckDB), which is what keeps the derivation
    * oracle-replicable. */
  private[graft] val MinHashP = 2147483647L

  private def splitmix64(seed: Long): Long = {
    var z = seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Fixed affine-hash constants, a_i ∈ [1,p-1], b_i ∈ [0,p-1] —
    * plan-time literals embedded identically in the Spark expression
    * and the oracle SQL (see TextPack q49). */
  private[graft] val minHashA: Array[Long] = Array.tabulate(64) { i =>
    (splitmix64(2L * i + 1) & 0x7fffffffL) % (MinHashP - 1) + 1
  }
  private[graft] val minHashB: Array[Long] = Array.tabulate(64) { i =>
    (splitmix64(2L * i + 2) & 0x7fffffffL) % MinHashP
  }

  /** ORACLE-REPLICABLE MinHash near-dup (gate-strength variant of
    * [[minHashNearDup]]): shingle hashing and every signature
    * component derive from md5, which an external SQL engine shares
    * bit-for-bit — so the banded candidate set AND the verified
    * Jaccard values are recomputable outside the JVM, and the whole
    * approximate join gates value-exact instead of rows-only.
    *
    * Cost shape: shingle strings from [[shingleStringsUdf]] (measured
    * 10× the interpreted HOF expression); each shingle is md5-hashed
    * ONCE; the numHashes
    * signature components derive arithmetically — the textbook
    * `min over shingles of (a_i·h + b_i) mod p` universal family
    * (p = 2^31-1), evaluated per-document with nested higher-order
    * functions so signatures need no shuffle at all (the earlier
    * form computed one md5 per shingle×index — 32× the hashing — and
    * shuffled shingles×32 rows through a groupBy). The md5'd shingle
    * sets are reused for the exact-Jaccard verify.
    *
    * Single-hash bands (r=1): numHashes bands, right for low
    * thresholds. The production path keeps [[minHashNearDup]]'s
    * cheaper FNV mixing. */
  def minHashNearDupMd5(
      docs: DataFrame, threshold: Double, numHashes: Int = 32,
      n: Int = 3, idCol: String = "doc_id", textCol: String = "text")
      : DataFrame = {
    require(numHashes <= minHashA.length)
    val base = docs
      .select(col(idCol).as("doc_id"),
        shingleStringsUdf(n)(col(textCol)).as("sh"))
      .filter(size(col("sh")) > 0)
    // one md5 per shingle, computed once, reused for signatures AND
    // the exact-Jaccard verification
    val hashed = base.select(col("doc_id"),
      transform(col("sh"), s => md5long(s)).as("hs"))
      .localCheckpoint()
    // signature = the native codegen'd expression (the previous
    // transform(0..k, i => array_min(transform(hs, …))) form walked
    // k×|shingles| interpreted HOF steps per doc — MinHashSigExpr's
    // scaladoc carries the exactness argument: integer-only, same
    // a/b/p constants the oracle SQL embeds)
    val sigArr = {
      import org.apache.spark.sql.GraftExpressionBridge
      GraftExpressionBridge.column(graft.functions.MinHashSigExpr(
        GraftExpressionBridge.expression(col("hs")),
        minHashA.take(numHashes), minHashB.take(numHashes), MinHashP))
    }
    val sigs = hashed.select(col("doc_id"), posexplode(sigArr))
      .toDF("doc_id", "i", "sig")
    val cands = sigs.select(col("doc_id").as("doc_a"), col("i"), col("sig"))
      .join(sigs.select(col("doc_id").as("doc_b"), col("i"), col("sig")),
        Seq("i", "sig"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .dropDuplicates("doc_a", "doc_b")
    // exact Jaccard over the md5-hashed shingle sets (the oracle
    // hashes the same strings to the same values)
    val out = cands
      .join(hashed.select(col("doc_id").as("doc_a"), col("hs").as("hs_a")),
        Seq("doc_a"))
      .join(hashed.select(col("doc_id").as("doc_b"), col("hs").as("hs_b")),
        Seq("doc_b"))
      .withColumn("jaccard", round(
        size(array_intersect(col("hs_a"), col("hs_b"))).cast("double") /
          (size(col("hs_a")) + size(col("hs_b")) -
            size(array_intersect(col("hs_a"), col("hs_b")))), 4))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
    out
  }

  /** Full fuzzy-dedup sweep (the MinHash pipeline every pretraining
    * corpus runs end-to-end, cf. the reference's near-dup family
    * around ops/entity_resolution): near-dup pairs → connected
    * components → keep ONE doc per duplicate cluster — the smallest
    * id, the usual deterministic survivor rule. One row per input
    * doc: (doc_id, canonical_id, kept).
    *
    * Scale shape: pair generation is [[minHashNearDupMd5]]'s banded
    * equi-join (never all-pairs); clustering is
    * [[EntityResolution.connectedComponents]] — driver union-find on
    * small graphs, distributed pointer-jumping past 2^20 edges. The
    * md5-derived signatures make the pair set oracle-replicable, so
    * DuckDB restates the whole sweep with a recursive min-label CTE. */
  def fuzzyDedupKeep(
      docs: DataFrame, threshold: Double, numHashes: Int = 32, n: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val pairs =
      minHashNearDupMd5(docs, threshold, numHashes, n, idCol, textCol)
    EntityResolution
      .connectedComponents(docs.select(col(idCol)), pairs,
        idCol, "doc_a", "doc_b")
      .select(col("id").as("doc_id"), col("component").as("canonical_id"),
        (col("id") === col("component")).as("kept"))
  }

  /** Whole-stage-codegen signature column over the already-hashed
    * shingle column, bit-identical to the row-at-a-time UDF it
    * replaced (same [[graft.functions.Hashing.derive]] arithmetic,
    * same null-on-empty semantics — MinHashExprSpec keeps that UDF as
    * the reference and pins the two equal). */
  private[graft] def minHashDeriveSig(sh: Column, numHashes: Int): Column = {
    import org.apache.spark.sql.GraftExpressionBridge
    GraftExpressionBridge.column(graft.functions.MinHashDeriveSigExpr(
      GraftExpressionBridge.expression(sh), numHashes))
  }

  /** Band code: one codegen'd xxhash64 over the band's signature
    * longs (bandRows is plan-time constant, so arity is static) —
    * same blocking as hashing the serialized slice at ~10x less
    * work. Expects `sig` and `band` columns. */
  private def bandCode(bandRows: Int): Column =
    xxhash64((0 until bandRows).map(r =>
      element_at(col("sig"), col("band") * bandRows + r + 1)): _*)

  /** Candidate pairs from the band-bucket self-join with the exact
    * length filter (J ≥ t ⇒ t·|A| ≤ |B| and t·|B| ≤ |A|).
    * Expects `(doc_id, sz, band, code)`. */
  private def bandCandidates(banded: DataFrame, threshold: Double)
      : DataFrame =
    banded.select(col("doc_id").as("doc_a"),
        col("sz").as("sz_a"), col("band"), col("code"))
      .join(banded.select(col("doc_id").as("doc_b"), col("sz").as("sz_b"),
        col("band"), col("code")), Seq("band", "code"))
      .filter(col("doc_a") < col("doc_b") &&
        col("sz_b") >= col("sz_a") * threshold &&
        col("sz_a") >= col("sz_b") * threshold)
      .select("doc_a", "doc_b")
      .dropDuplicates("doc_a", "doc_b")

  /** Exact Jaccard verification of candidate pairs against the
    * shingle table `(doc_id, sh)`. */
  private def verifyJaccard(
      candidates: DataFrame, sh: DataFrame, threshold: Double): DataFrame = {
    val verified = candidates
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")),
        Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")),
        Seq("doc_b"))
    val inter = size(array_intersect(col("sh_a"), col("sh_b")))
    val unionSize = size(col("sh_a")) + size(col("sh_b")) - inter
    verified
      .withColumn("jaccard", round(inter.cast("double") / unionSize, 4))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** The MinHash band index as an engine-maintained flow target —
    * the dedup analog of [[Similarity.ivfFlow]] / [[Fts.ftsFlow]]:
    * each document is one component whose rows are its band codes
    * (`row_key = doc:band`), so an edited document rewrites exactly
    * its own nBands rows through the reconcile and a deleted
    * document's bands GC as orphans. The index stays tiny — (doc,
    * band, code, sz) only; [[minHashPairsOver]] verifies candidates
    * against the corpus, so shingle arrays are never materialized in
    * the index and verification work is O(candidate pairs), not
    * O(corpus).
    */
  def minHashFlow(
      name: String,
      corpus: org.apache.spark.sql.SparkSession => DataFrame,
      indexDir: String, stateDir: String,
      numHashes: Int = 32, bandRows: Int = 2, n: Int = 3,
      idCol: String = "doc_id", textCol: String = "text",
      /** Keyed change feed over the corpus (doc-id keys, durable
        * cursor): with it, a [[graft.engine.Flow.runFeed]] refresh
        * re-stats only the changed docs instead of re-fingerprinting
        * the whole corpus per catch-up. */
      changeFeed: Option[() => graft.engine.SourceWatcher] = None,
      /** Bucket count of the index's parquet layout — MUST match the
        * layout the index was bootstrapped/maintained with (validated
        * against the sidecar at takeover; ADVICE r15: a silent
        * mismatch would strand stale rows in buckets the flow never
        * reconciles and duplicate row_keys across buckets). */
      numBuckets: Int = 8)
      : graft.engine.Flow = {
    require(numHashes % bandRows == 0)
    graft.engine.Sidecar.validate(minHashMetaFile(indexDir),
      Map("numBuckets" -> numBuckets.toString),
      what = s"minHashFlow($indexDir) takeover",
      // pre-r16 sidecars don't record numBuckets; those indexes were
      // built with the then-hardcoded 8 — compare against that, don't
      // pass silently
      defaults = Map("numBuckets" -> "8"))
    // textCol/idCol are part of the stage's logic: changing either on
    // an existing stateDir must invalidate the memo, or the index
    // keeps serving band codes computed from the old column
    val stage = graft.engine.CocoFn("minhash_bands", 1,
      deps = Seq(s"h=$numHashes", s"r=$bandRows", s"n=$n",
        s"t=$textCol", s"id=$idCol"),
      fn = df => minHashBandRows(df, numHashes, bandRows, n, textCol))
    val tableSrc = graft.engine.TableSource(corpus, keyCol = idCol)
    new graft.engine.Flow(name,
      changeFeed.map(f => graft.engine.ChangeFeedSource(tableSrc, f):
        graft.engine.Source).getOrElse(tableSrc),
      Seq(stage),
      // delta-log: a nightly reconcile appends O(changed bands)
      // bytes instead of rewriting every touched bucket wholesale —
      // at 100 TB the copy-on-write layout would rewrite the whole
      // (thin but corpus-sized) index per night
      graft.engine.ParquetTableTarget(indexDir, numBuckets = numBuckets,
        deltaLog = true),
      stateDir,
      // index parameters are declared next to the index itself, so
      // serve time can refuse a mismatched read (ADVICE r7) — and
      // only AFTER a successful commit, so a declared-but-failed run
      // can never relabel an index built with other parameters
      // row keys are "item:band" — item-owned for life, so the
      // reconcile's tracking scope reads pruned below the merge
      rowKeyOwnedByItem = true,
      afterCommit = Some(() =>
        graft.engine.Sidecar.write(minHashMetaFile(indexDir), Map(
          "n" -> n.toString, "idCol" -> idCol, "textCol" -> textCol,
          "numHashes" -> numHashes.toString,
          "bandRows" -> bandRows.toString,
          "numBuckets" -> numBuckets.toString))))
  }

  /** Batch bootstrap of a [[minHashFlow]]-shaped index WITHOUT the
    * flow engine — the text twin of
    * [[Similarity.srpIndexBootstrap]]: ONE distributed batch write
    * of the band rows in the target's bucket layout. The 100 TB
    * stand-up shape (10¹⁰ documents cannot feed through
    * per-component flow commits); [[minHashFlow]] with the same
    * `numBuckets` takes over maintenance idempotently (its first
    * run upserts by `row_key`), and [[minHashIncrementOver]] /
    * [[minHashPairsOver]] serve from either. */
  def minHashIndexBootstrap(
      spark: org.apache.spark.sql.SparkSession, indexDir: String,
      corpus: DataFrame, numHashes: Int = 32, bandRows: Int = 2,
      n: Int = 3, idCol: String = "doc_id", textCol: String = "text",
      numBuckets: Int = 8): Unit = {
    require(numHashes % bandRows == 0)
    require(numHashes <= minHashA.length)
    // the layout comes from the TARGET itself (one copy of the
    // bucket/delta-log placement logic shared with the flow, so the
    // two build paths cannot drift); bootstrap = truncate + one
    // batch apply, which the target writes as its compacted base
    val target = graft.engine.ParquetTableTarget(indexDir,
      numBuckets = numBuckets, deltaLog = true)
    target.truncate(spark)
    val rows = minHashBandRows(
      corpus.select(col(idCol).cast("string").as("item_key"),
        col(textCol)),
      numHashes, bandRows, n, textCol)
    target.apply(spark, rows, rows.select(col("row_key")).limit(0))
    graft.engine.Sidecar.write(minHashMetaFile(indexDir), Map(
      "n" -> n.toString, "idCol" -> idCol, "textCol" -> textCol,
      "numHashes" -> numHashes.toString,
      "bandRows" -> bandRows.toString,
      "numBuckets" -> numBuckets.toString))
  }

  /** The band-row derivation shared by [[minHashFlow]]'s stage and
    * [[minHashIndexBootstrap]] — ONE copy, so probe/index bit-parity
    * cannot drift between the two build paths (review r15). Input
    * carries `(item_key, textCol)`; output is the index row set. */
  private def minHashBandRows(
      df: DataFrame, numHashes: Int, bandRows: Int, n: Int,
      textCol: String): DataFrame = {
    val nBands = numHashes / bandRows
    df.select(col("item_key"), shingleHashUdf(n)(col(textCol)).as("sh"))
      .withColumn("sig", minHashDeriveSig(col("sh"), numHashes))
      .filter(col("sig").isNotNull)
      .select(col("item_key"), size(col("sh")).as("sz"),
        explode(sequence(lit(0), lit(nBands - 1))).as("band"), col("sig"))
      .withColumn("code", bandCode(bandRows))
      .select(col("item_key"),
        concat(col("item_key"), lit(":"), col("band")).as("row_key"),
        col("band"), col("code"), col("sz"))
  }

  // sibling of the index dir, NOT inside it: a destructive target
  // transition truncates the dir itself, and the declared parameters
  // must survive that
  private def minHashMetaFile(indexDir: String) = {
    val d = new java.io.File(indexDir).getAbsoluteFile
    new java.io.File(d.getParentFile, d.getName + "._graft_minhash.json")
  }

  /** The index's target handle with its DECLARED bucket layout (from
    * the sidecar; pre-r16 sidecars without the field read as the
    * historical default 8) — serve paths go through this so the
    * layout they assume is the one the index was built with. */
  private def minHashIndexTarget(indexDir: String)
      : graft.engine.ParquetTableTarget =
    graft.engine.ParquetTableTarget(indexDir,
      numBuckets = graft.engine.Sidecar.read(minHashMetaFile(indexDir))
        .flatMap(_.get("numBuckets")).map(_.toInt).getOrElse(8))

  /** Near-dup pairs served from a [[minHashFlow]]-maintained index:
    * candidates from the band-code self-join + exact length filter,
    * then exact Jaccard verification recomputing shingles for the
    * CANDIDATE docs only (semi-joined corpus load). Doc ids are the
    * engine's STRING item keys. Serve parameters are validated
    * against the index's declared metadata — a mismatched `n` or
    * column set fails loudly instead of silently verifying shingles
    * built from different parameters. */
  def minHashPairsOver(
      spark: org.apache.spark.sql.SparkSession, indexDir: String,
      corpus: DataFrame, threshold: Double, n: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    graft.engine.Sidecar.validate(minHashMetaFile(indexDir),
      Map("n" -> n.toString, "idCol" -> idCol, "textCol" -> textCol),
      what = s"minHashPairsOver($indexDir)")
    val banded = minHashIndexTarget(indexDir).read(spark)
      .select(col("item_key").as("doc_id"), col("band"), col("code"),
        col("sz"))
    // cached: candidates feed the id projection AND the verify joins;
    // sh feeds both sides of the verify — without pinning, the
    // shuffle-heavy self-join and the shingle UDF re-execute per use
    val candidates = bandCandidates(banded, threshold).cache()
    val ids = candidates.select(col("doc_a").as("doc_id"))
      .union(candidates.select(col("doc_b").as("doc_id"))).distinct()
    val sh = corpus
      .select(col(idCol).cast("string").as("doc_id"),
        shingleHashUdf(n)(col(textCol)).as("sh"))
      .join(ids, Seq("doc_id"), "left_semi")
      .cache()
    // materialize, then release the pinned frames (eager checkpoint)
    val out = verifyJaccard(candidates, sh, threshold).localCheckpoint()
    candidates.unpersist()
    sh.unpersist()
    out
  }

  /** Approximate embedding near-dup: SRP-LSH banding for candidates
    * (equi-join on (band, code) — the scale path), exact cosine
    * verification. Recall is probabilistic: a qualifying pair is
    * missed iff it collides in no band; raise `bands` (or lower
    * planes/bands) for recall. The exact counterpart is
    * [[Similarity.nearDupPairsBlocked]]. */
  def embeddingNearDupLsh(
      vectors: DataFrame, threshold: Double,
      planes: Int = 64, bands: Int = 32,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val banded = vectors.select(col(idCol).as("id"), col(embCol).as("emb"),
      posexplode(Similarity.srpBandCodes(col(embCol), planes, bands))
        .as(Seq("band", "code")))
    val a = banded.select(col("id").as("id_a"), col("emb").as("emb_a"),
      col("band"), col("code"))
    val b = banded.select(col("id").as("id_b"), col("emb").as("emb_b"),
      col("band"), col("code"))
    a.join(b, Seq("band", "code"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "emb_a", "emb_b")
      .dropDuplicates("id_a", "id_b")
      .withColumn("cosine", round(cosineSimilarity(col("emb_a"), col("emb_b")), 6))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  // -------------------------------------------------------------------
  // Exact substring-level dedup (Lee et al. 2022, "Deduplicating
  // Training Data Makes Language Models Better": remove every
  // substring of length ≥ L that occurs more than once in the
  // corpus). The paper builds a corpus-wide suffix array; the
  // shuffle-native equivalent used here is the L-gram tiling: a
  // duplicated substring of length M ≥ L is tiled by M−L+1 duplicated
  // L-grams, so grouping every L-gram occurrence by gram and merging
  // the overlapping/adjacent duplicated positions per document
  // reconstructs exactly the maximal duplicated spans.
  // -------------------------------------------------------------------

  /** Maximal duplicated-substring spans per document: every char range
    * whose text (length ≥ `minLen`) appears elsewhere in the corpus
    * (another doc or another position of the same doc). Returns
    * `(id, span_id, span_start, span_end)` with 1-based inclusive
    * char positions; `span_id` numbers a doc's spans from 1 in order.
    *
    * Pure Catalyst — sequence/explode/substring + two windows, fully
    * codegen'd, no UDF — so DuckDB can replay it verbatim as the
    * oracle.
    *
    * Scale shape: the exploded relation is O(total chars) rows — the
    * same asymptotic footprint as the paper's suffix array.
    * Duplicate detection is `groupBy(gram).count` — map-side partial
    * aggregation means the gram-count exchange carries at most one
    * row per (map task × distinct gram), so a pathologically hot gram
    * (whitespace runs, license boilerplate: billions of positions at
    * 100 TB) costs each map task ONE partial row instead of
    * co-residing every position in a single window partition. The
    * duplicated-gram set then semi-joins back against positions — a
    * plain shuffle join, which AQE's skew-join splitting re-plans at
    * runtime if a hot gram still dominates a partition (and converts
    * to broadcast outright when few grams are duplicated).
    * `hashGrams = true` shuffles an 8-byte `xxhash64` key instead of
    * the L-char gram (the 100 TB setting — at ~10¹⁴ positions a
    * 64-bit collision marking a few spurious positions as duplicated
    * is noise against the fuzziness of L itself; string mode is
    * bit-exact and oracle-checkable). The island-merge windows are
    * per-doc, bounded by doc length, never global. No `.collect()`,
    * no cross join.
    */
  def exactSubstringSpans(
      df: DataFrame, idCol: String, textCol: String, minLen: Int,
      hashGrams: Boolean = false): DataFrame = {
    require(minLen > 0, s"minLen must be positive, got $minLen")
    val L = minLen
    // localCheckpoint: `positions` feeds BOTH the gram-count aggregate
    // and the join back — without it the O(total chars) explode +
    // substring materializes twice (measured 2.7× the whole operator
    // at sf0.1). The checkpoint writes the relation to executor-local
    // storage once — the same order of disk traffic as the one
    // shuffle the old count-over-window paid.
    // docs shorter than L emit NO positions: sequence(1, 0) is the
    // DESCENDING [1, 0] in Spark (not empty), and positions 0 and 1
    // yield the identical gram (substr treats pos 0 as pos 1) — the
    // doc would self-collide and be marked fully duplicated
    val nPos = length(col(textCol)) - (L - 1)
    val positions = df.select(
      col(idCol).as("id"),
      explode(when(nPos >= 1, sequence(lit(1), nPos))
        .otherwise(array().cast("array<int>"))).as("p"),
      col(textCol).as("t"))
      .select(col("id"), col("p"),
        (if (hashGrams) xxhash64(col("t").substr(col("p"), lit(L)))
         else col("t").substr(col("p"), lit(L))).as("gram"))
      .localCheckpoint()
    // grams occurring >1 time, via partial-aggregated count — NOT a
    // count-over-window, which would force every position of one gram
    // into a single partition with no map-side combine
    val dupGrams = positions.groupBy(col("gram"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") > 1)
      .select("gram")
    val dup = positions.join(dupGrams, Seq("gram"), "left_semi")
      .select("id", "p")
    val byDoc = Window.partitionBy(col("id")).orderBy(col("p"))
    val spans = dup
      .withColumn("prev", lag(col("p"), 1).over(byDoc))
      // merge overlapping AND adjacent tiles: p ≤ prev + L continues a span
      .withColumn("ni",
        when(col("prev").isNull || col("p") > col("prev") + L, 1).otherwise(0))
      .withColumn("span_id",
        sum(col("ni")).over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("id"), col("span_id"))
      .agg(min(col("p")).as("span_start"),
        (max(col("p")) + (L - 1)).as("span_end"))
      .select(col("id"), col("span_id").cast("int").as("span_id"),
        col("span_start"), col("span_end"))
    spans
  }

  /** Strip duplicated spans out of the text: every char inside any
    * [[exactSubstringSpans]] span is deleted (the paper's "remove the
    * duplicated substring" applied to all occurrences — convergent
    * and order-independent). Docs with no spans pass through intact.
    * The per-doc span list is bounded by doc length / minLen. */
  def stripSpans(
      df: DataFrame, spans: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val agg = spans.groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("span_start"), col("span_end"))))
        .as("spans"))
    val cut = udf { (text: String, ss: Seq[org.apache.spark.sql.Row]) =>
      if (ss == null || ss.isEmpty) text
      else {
        val sb = new StringBuilder
        var from = 1 // 1-based positions
        ss.foreach { r =>
          val s = r.getAs[Number](0).intValue; val e = r.getAs[Number](1).intValue
          if (s > from) sb.append(text.substring(from - 1, s - 1))
          from = math.max(from, e + 1)
        }
        if (from <= text.length) sb.append(text.substring(from - 1))
        sb.result()
      }
    }
    df.join(agg, df(idCol) === agg("id"), "left")
      .withColumn("clean_text", cut(col(textCol), col("spans")))
      .drop("id", "spans")
  }

  /** Incremental exact dedup: the rows of `increment` whose `keyCol`
    * does NOT occur in `corpus` — semantically `increment LEFT ANTI
    * JOIN corpus ON keyCol`, but shaped for the production setting
    * where `corpus` is the accumulated 100 TB training set and
    * `increment` is a (much smaller) fresh crawl batch. A plain
    * anti-join shuffles BOTH sides on the key — re-shuffling the
    * entire corpus per arriving batch. Instead:
    *
    *   1. ONE pass over the corpus builds a bloom filter of
    *      `xxhash64(keyCol)` (Catalyst's `BloomFilterAggregate`, the
    *      same sketch Spark's runtime row-level join filtering uses):
    *      partial aggregation merges per-partition filters, so only
    *      filter BITS move in the shuffle, never corpus rows. The
    *      finished filter is `optimalNumOfBits(n, fpp)/8` bytes — a
    *      bounded driver value (~12 MB at n=10⁷, fpp=1%) embedded as
    *      a literal, broadcast with the task binary.
    *   2. Increment rows whose key the filter does NOT contain are
    *      definitely new (a bloom filter has no false negatives) —
    *      they are kept with NO join at all. At fpp=1% that settles
    *      all but ~1% of the genuinely-new rows plus the true dups.
    *   3. Only the remaining candidates go through the exact confirm
    *      anti-join, and the corpus side of that join is pruned to
    *      `keyCol` (column pruning at the scan) and prefiltered by a
    *      SECOND bloom built over the candidate keys — a corpus row
    *      whose key fails it cannot equal any candidate key, so the
    *      join's corpus input shrinks to the possibly-matching rows
    *      (fpp-bounded) before any shuffle.
    *
    * Both filters only ever DISCARD provably-irrelevant rows, so the
    * result is bit-for-bit the anti-join — false positives just ride
    * through to the confirm join. Null keys never equal anything
    * (SQL semantics) and are kept, exactly as the anti-join keeps
    * them. `expectedItems` sizes filter #1; pass the corpus's
    * approximate cardinality if known, else it is counted first (one
    * key-column-pruned scan).
    *
    * Reference behavior mirrored: the reconcile-time "skip rows whose
    * fingerprint already committed" membership test of the engine's
    * incremental sync (reference rust/core/src/execution/sync.rs —
    * re-expressed as a corpus-scale set-membership prefilter).
    */
  def incrementalDedup(
      corpus: DataFrame, increment: DataFrame, keyCol: String,
      fpp: Double = 0.01, expectedItems: Long = -1L,
      /** Hard cap on the serialized filter (default 256 MB — holds
        * fpp=1% to ~2×10⁸ corpus keys). Beyond it the filter CAPS and
        * the realized fpp rises instead of the driver/broadcast
        * blowing up on a multi-GB literal (10¹¹ keys would "want"
        * ~120 GB): a denser filter only flags more candidates, which
        * the confirm join settles exactly — the designed degradation
        * is extra join work, never a wrong answer and never an OOM. */
      maxFilterBytes: Long = 256L << 20): DataFrame = {
    val corpusKeys = corpus.select(col(keyCol))
    val nCorpus =
      if (expectedItems > 0) expectedItems else corpusKeys.count()
    // bootstrap batch (empty corpus): keyBloom returns a valid
    // never-contains filter, so every increment row takes the
    // definitelyNew branch and the whole increment survives
    val corpusBf = keyBloom(corpusKeys, keyCol, fpp, nCorpus, maxFilterBytes)

    // broadcast + UDF probe, not a plan-literal expression: the
    // corpus bloom grows linearly with the corpus and a literal that
    // size taxes every action whose plan carries it (see
    // [[incrementalDedupOver]]); the probe runs over the small
    // increment, where losing codegen costs nothing. One broadcast
    // per call, captured by the returned lazy frame — see
    // [[releaseServeBloomBroadcasts]] for the lifetime contract.
    val bfBc = increment.sparkSession.sparkContext.broadcast(
      org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(corpusBf)))
    serveBloomBroadcasts.add(bfBc)
    val probe = udf((h: Long) => bfBc.value.mightContainLong(h))
    val flagged = increment.withColumn("__mc",
      probe(xxhash64(col(keyCol))))
    val definitelyNew = flagged.filter(!col("__mc")).drop("__mc")
    val candidates = flagged.filter(col("__mc")).drop("__mc")
      // both branches re-read `increment`; the candidate branch is
      // additionally read twice more (bloom build + join) — keep it
      // materialized once, it is the fpp-bounded small set
      .localCheckpoint()

    val nCand = candidates.count()
    if (nCand == 0) return definitelyNew
    val candBf = keyBloom(
      candidates.select(col(keyCol)), keyCol, fpp, nCand, maxFilterBytes)
    val prunedCorpus = corpusKeys.filter(keyMightContain(candBf, keyCol))
    val confirmed = candidates.join(prunedCorpus, Seq(keyCol), "left_anti")
    definitelyNew.unionByName(confirmed)
  }

  /** Corpus-bloom broadcasts the serve calls have created and not yet
    * released (r17 verdict #3/task #6). [[incrementalDedup]] and
    * [[incrementalDedupOver]] each broadcast the corpus bloom per
    * call — 12 MB at 10⁷ keys, 120 MB at 10⁸ — and the lazy DataFrame
    * they return captures it, so the calls themselves have no safe
    * in-function destroy point. A one-shot nightly is fine (session
    * teardown reclaims), but a long-lived serving session would leak
    * one filter-sized broadcast per screen call (the block-manager
    * leak class of ADVICE r16): such callers must MATERIALIZE the
    * served frames (write/collect/localCheckpoint) and then call
    * [[releaseServeBloomBroadcasts]] — as [[CrawlRefresh.nightly]]
    * does after its screens land. */
  private val serveBloomBroadcasts =
    new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.broadcast.Broadcast[_]]()

  /** Destroy every corpus-bloom broadcast the serve calls created so
    * far, session-wide (see [[serveBloomBroadcasts]]). Safe only once
    * the DataFrames those calls returned are materialized — running
    * an action on an unmaterialized serve plan after this fails
    * LOUDLY on the destroyed broadcast, never silently wrong. */
  def releaseServeBloomBroadcasts(): Unit = {
    var b = serveBloomBroadcasts.poll()
    while (b != null) { b.destroy(); b = serveBloomBroadcasts.poll() }
  }

  // ---- persisted exact-key dedup index -------------------------------------

  /** The r14 design gap, closed: [[incrementalDedup]] rebuilds the
    * corpus bloom with a full corpus scan per arriving batch —
    * correct and shuffle-free, but O(corpus) where O(batch) is
    * achievable. The persisted form maintains TWO artifacts under
    * `indexDir` so the per-batch screen never reads corpus-sized
    * input:
    *
    *   - `<indexDir>/keys/` — the corpus keys as parquet,
    *     HASH-PARTITIONED on `__kp = pmod(xxhash64(key), partitions)`
    *     so the confirm anti-join reads ONLY the candidate keys'
    *     partitions (directory-level pruning; candidates are
    *     fpp-bounded, so the touched fraction is ~candidates/
    *     partitions of the corpus, not the corpus);
    *   - `<indexDir>._graft_keybloom.bin` — the corpus bloom filter,
    *     OR-MERGED per committed batch: blooms with identical
    *     (items, bits) parameters union losslessly, so maintenance
    *     is one batch-sized aggregation + a byte-level merge — the
    *     corpus is NEVER re-scanned.
    *
    * fpp degradation contract: the filter is sized once at init for
    * `expectedItems`; committing past that raises the realized fpp
    * (more confirm-join candidates, never a wrong answer — the
    * designed degradation of [[incrementalDedup]]'s cap). When
    * `itemsAdded > expectedItems`, [[keyIndexNeedsRebuild]] turns
    * true and the owner should re-init with a larger budget (ONE
    * amortized corpus scan, vs one per batch without the index).
    *
    * Single-writer contract (same as every flow target): appends are
    * not concurrent-safe — the bloom merge is read-modify-write.
    *
    * Reference behavior mirrored: the committed-fingerprint
    * membership state the engine's incremental sync keeps per target
    * (reference rust/core/src/execution/sync.rs), re-expressed as a
    * persisted corpus-scale set-membership index.
    */
  def keyIndexInit(
      spark: org.apache.spark.sql.SparkSession, indexDir: String,
      keyCol: String, expectedItems: Long, fpp: Double = 0.01,
      partitions: Int = 0, maxFilterBytes: Long = 256L << 20): Unit = {
    require(expectedItems > 0, s"expectedItems $expectedItems")
    require(partitions >= 0, s"partitions $partitions")
    val nParts =
      if (partitions > 0) partitions else keyIndexPartitionsFor(expectedItems)
    val dir = new java.io.File(indexDir)
    // destructive re-init: a stale keys layout must not survive a
    // re-provision with different parameters
    def wipe(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(wipe)
      f.delete()
    }
    wipe(new java.io.File(dir, "keys"))
    // a surviving keys.old would be "recovered" INTO the fresh index
    // by the next append's compaction rollback (resurrecting pre-init
    // keys), and a leftover append-intent marker would degrade every
    // serve of the new index — a re-init retires both
    wipe(new java.io.File(dir, "keys.old"))
    keyIndexAppendMarkerFile(indexDir).delete()
    dir.mkdirs()
    val bits = math.min(
      org.apache.spark.util.sketch.BloomFilter
        .optimalNumOfBits(expectedItems, fpp),
      maxFilterBytes * 8)
    val empty = org.apache.spark.util.sketch.BloomFilter
      .create(expectedItems, bits)
    val bos = new java.io.ByteArrayOutputStream()
    empty.writeTo(bos)
    java.nio.file.Files.write(
      keyIndexBloomFile(indexDir).toPath, bos.toByteArray)
    graft.engine.Sidecar.write(keyIndexMetaFile(indexDir), Map(
      "keyCol" -> keyCol, "partitions" -> nParts.toString,
      "items" -> expectedItems.toString, "bits" -> bits.toString,
      "fpp" -> fpp.toString, "itemsAdded" -> "0",
      "layout" -> KeyIndexLayout))
  }

  /** Keys-table layout tag: rows are md5 FINGERPRINTS of the keys
    * (`key_fp`, 32-hex), never the raw keys. The raw-key layout the
    * index shipped with through r16 made the confirm scan read the
    * full key VALUES — for a text-keyed corpus that is a corpus-text
    * column scan per batch the moment candidates touch every hash
    * partition (measured: 3.4 GB keys at the sweep's 10⁷, 7.6 s warm
    * confirm). Fingerprints make the keys table ~16 B/row at any key
    * width — thin at every corpus size — and match the identity the
    * engine already uses everywhere else ([[graft.engine.Fingerprint]];
    * the reference keeps Blake2b-128 fingerprints as its sync
    * identity, rust/utils/src/fingerprint.rs:39). md5 equality IS
    * key equality for dedup purposes (16-byte collision resistance;
    * not a security property). An index provisioned under the old
    * layout fails loudly — re-init and re-append from the corpus. */
  val KeyIndexLayout = "fp-md5"

  private def keyIndexRequireLayout(
      indexDir: String, meta: Map[String, String]): Unit =
    if (!meta.get("layout").contains(KeyIndexLayout))
      throw new IllegalStateException(
        s"keyIndex($indexDir): keys layout ${meta.getOrElse("layout",
          "raw-key (pre-r17)")} != $KeyIndexLayout — this build stores " +
          "md5 fingerprints, not raw keys; re-init the index and " +
          "re-append its corpus")

  /** Target keys per hash partition of the persisted keys table. */
  val KeyIndexKeysPerPartition: Long = 65536L

  /** Partition-count rule for [[keyIndexInit]]: one partition per
    * ~[[KeyIndexKeysPerPartition]] expected keys, clamped to
    * [16, 4096]. The confirm read of [[incrementalDedupOver]] prunes
    * to the candidate partitions (≈ one per candidate for a small
    * candidate set), so its byte cost is
    * |candidates| × keysPerPartition — CONSTANT in index size when
    * the partition count scales with `expectedKeys`. A FIXED count
    * makes per-partition bytes grow with N and the confirm read
    * drift linear — the r16 sweep's 10⁷ kinc residual (8.5 s vs
    * 4.6 s at 10⁶ on 256 static partitions), the same
    * fixed-parameter-vs-growing-N shape [[Similarity.srpIndexPlanesFor]]
    * fixed for band width (r16 verdict task #6). The cap bounds
    * per-append file count (each append writes ≤ partitions files;
    * [[keyIndexRebuild]] compacts them away). */
  def keyIndexPartitionsFor(expectedKeys: Long): Int = {
    require(expectedKeys > 0, s"expectedKeys $expectedKeys")
    val raw = (expectedKeys + KeyIndexKeysPerPartition - 1) /
      KeyIndexKeysPerPartition
    math.min(4096L, math.max(16L, raw)).toInt
  }

  /** Commit a screened batch's keys into the index: one batch-sized
    * bloom aggregation OR-merged into the persisted filter, plus a
    * hash-partitioned parquet append of the keys. O(batch) — the
    * existing corpus is not read.
    *
    * Appends are guarded by a lock file next to the index (the
    * single-writer contract made LOUD — ADVICE r15/What's-wrong #3:
    * the bloom merge is read-modify-write, so a silent concurrent
    * append would lose one batch's bits and double-append keys). A
    * crashed writer leaves the lock behind; the lock file names its
    * owner (pid@host, timestamp) so the operator can verify the
    * writer is gone and delete it. */
  def keyIndexAppend(
      spark: org.apache.spark.sql.SparkSession, indexDir: String,
      batch: DataFrame): Unit = keyIndexLocked(indexDir, "append") {
    // recover a rebuild-compaction crash BEFORE appending (ADVICE
    // r16): without this, a crash between the two compaction renames
    // (keys/ gone, keys.old the only copy) followed by an append
    // would recreate keys/ holding only this batch — and the next
    // rebuild, seeing keys/ present, would skip its rollback and
    // destroy keys.old, the only full copy (silent duplicate
    // admission, the unsafe direction).
    keyIndexRecoverCompaction(indexDir)
    // a present append-intent marker means a prior append crashed
    // between its keys write and its bloom merge — the keys table may
    // be AHEAD of the filter, and appending on top widens the hole.
    // Refuse and point at the reconciliation. Exception: if keys/
    // does not exist, the crashed append landed NOTHING (a first
    // append into a fresh index) — table and bloom are both empty and
    // consistent, so clearing the marker is the whole recovery.
    if (keyIndexAppendMarkerFile(indexDir).exists()) {
      if (!new java.io.File(indexDir, "keys").isDirectory)
        keyIndexAppendMarkerFile(indexDir).delete()
      else throw new IllegalStateException(
        s"keyIndex($indexDir): append-intent marker " +
          s"$KeyIndexAppendMarker present — a prior append crashed " +
          "after its keys write and before its bloom merge, so the " +
          "keys table may hold keys the bloom does not claim. Run " +
          "keyIndexRebuild (it re-derives the bloom from the keys " +
          "table and clears the marker), then re-run the crashed " +
          "batch's append.")
    }
    val meta = keyIndexMeta(indexDir)
    keyIndexRequireLayout(indexDir, meta)
    val keyCol = meta("keyCol")
    val partitions = meta("partitions").toInt
    val items = meta("items").toLong
    val bits = meta("bits").toLong
    // pin the batch's FINGERPRINT PROJECTION once: the three actions
    // below (count, bloom aggregate, parquet write) must see the
    // same rows, or a non-deterministic batch plan lets the parquet
    // keys diverge from the merged bloom — a key in the keys table
    // but absent from the filter would pass a later verbatim
    // duplicate as "definitely new", the unsafe direction (ADVICE
    // r15). All three consumers read ONLY md5(key)
    // ([[KeyIndexLayout]]: bloom items, partition hash, and stored
    // rows all derive from it), so the pin is O(n × 16 B) — pinning
    // the RAW batch made the BOOTSTRAP append (batch = corpus)
    // materialize the full corpus text into the block manager, an
    // OOM at 10⁸ docs in an 8 GB driver and a non-starter at 100 TB.
    val fps = batch.select(md5(col(keyCol).cast("string")).as("key_fp"))
      .localCheckpoint()
    val n = fps.count()
    if (n > 0) {
      // identical (items, bits) to the init-time filter: same hash
      // count, so mergeInPlace is the exact set union
      val batchBf = org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(
          keyBloomFixed(fps, "key_fp", items, bits)))
      val merged = org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(
          java.nio.file.Files.readAllBytes(
            keyIndexBloomFile(indexDir).toPath)))
      merged.mergeInPlace(batchBf)
      // append-intent marker BEFORE the keys write, cleared only
      // after bloom + meta land. NEITHER write order is crash-safe on
      // its own (r17 verdict #1, correcting the r15-era comment here
      // that claimed keys-first was "the safe direction"): keys-first,
      // a crash leaves keys the bloom does not claim — a bloom miss
      // SKIPS the confirm join, so a later verbatim duplicate of the
      // crashed batch is silently admitted; bloom-first, a crash
      // leaves the bloom claiming keys the table does not hold — the
      // flagged candidate then passes the confirm anti-join as new,
      // the same silent admission. The window needs an INTENT MARKER,
      // not a reorder: while [[KeyIndexAppendMarker]] exists, writers
      // refuse loudly and the serve degrades to confirm-everything.
      java.nio.file.Files.write(
        keyIndexAppendMarkerFile(indexDir).toPath,
        (s"${java.lang.ProcessHandle.current().pid()}@" +
          s"${java.net.InetAddress.getLocalHost.getHostName} " +
          java.time.Instant.now().toString + s" (n=$n)").getBytes("UTF-8"))
      fps
        .select(col("key_fp"),
          pmod(xxhash64(col("key_fp")), lit(partitions.toLong)).cast("int")
            .as("__kp"))
        // one file per touched partition per append, not one per
        // (writer task × partition): the unrepartitioned write laid
        // down 32 × partitions tiny files per wave (measured 4,896
        // at the sweep's 10⁷) and the confirm read paid the file
        // explosion forever; the repartition moves only the thin
        // fingerprints, O(batch)
        .repartition(col("__kp"))
        .write.partitionBy("__kp").mode("append")
        .parquet(new java.io.File(indexDir, "keys").getPath)
      if (keyIndexCrashAfterKeysWrite)
        throw new RuntimeException(
          "keyIndexAppend: injected test crash after keys write")
      val bos = new java.io.ByteArrayOutputStream()
      merged.writeTo(bos)
      java.nio.file.Files.write(
        keyIndexBloomFile(indexDir).toPath, bos.toByteArray)
      graft.engine.Sidecar.write(keyIndexMetaFile(indexDir),
        meta + ("itemsAdded" -> (meta("itemsAdded").toLong + n).toString))
      java.nio.file.Files.delete(keyIndexAppendMarkerFile(indexDir).toPath)
    }
  }

  /** Re-provision the filter from the index's OWN keys table — the
    * amortized answer to [[keyIndexNeedsRebuild]] (r15 verdict task
    * #4): one index-sized scan (the partitioned keys, never the
    * corpus) counts the distinct committed keys, sizes a fresh bloom
    * at `growth ×` that count (so the next rebuild is another
    * doubling away), rebuilds it in one distributed aggregation, and
    * swaps bloom-then-meta (each write individually atomic; a crash
    * between them leaves a bloom whose bit length disagrees with the
    * meta, which the next append fails LOUDLY on — never a silent
    * wrong answer). Runs under the same single-writer lock as
    * [[keyIndexAppend]]. Also the designated RECONCILIATION for a
    * crashed append ([[KeyIndexAppendMarker]]): deriving the bloom
    * from the keys table makes the filter claim exactly what the
    * table holds, so the rebuild proceeds under a present marker and
    * clears it once its bloom + meta land. */
  def keyIndexRebuild(
      spark: org.apache.spark.sql.SparkSession, indexDir: String,
      growth: Double = 2.0, maxFilterBytes: Long = 256L << 20): Unit =
    keyIndexLocked(indexDir, "rebuild") {
      require(growth >= 1.0, s"growth $growth < 1")
      val meta = keyIndexMeta(indexDir)
      keyIndexRequireLayout(indexDir, meta)
      val fpp = meta("fpp").toDouble
      val keysDir = new java.io.File(indexDir, "keys")
      val oldDir = new java.io.File(indexDir, "keys.old")
      keyIndexRecoverCompaction(indexDir)
      val keys = spark.read.parquet(keysDir.getPath)
        .select(col("key_fp")).distinct().localCheckpoint()
      val n = math.max(keys.count(), 1L)
      // compact the keys table from the same distinct read: nightly
      // appends add ≤`partitions` files each (and may re-append keys
      // the append contract allows), so a long-lived index
      // accumulates small files and duplicate rows — the amortized
      // rebuild is the natural point to fold both away. Same
      // read-during-write exposure as any overwrite; writes are
      // already serialized by the writer lock.
      val partitions = meta("partitions").toInt
      val compactDir = new java.io.File(indexDir, "keys.compact")
      graft.engine.FsUtil.deleteRecursively(compactDir) // crash leftover
      graft.engine.FsUtil.deleteRecursively(oldDir)
      keys
        .select(col("key_fp"),
          pmod(xxhash64(col("key_fp")), lit(partitions.toLong)).cast("int")
            .as("__kp"))
        .repartition(col("__kp"))
        .write.partitionBy("__kp").mode("overwrite")
        .parquet(compactDir.getPath)
      // marker INSIDE the compacted copy (underscore-prefixed — the
      // parquet reader ignores it): after the renames it certifies
      // that keys/ IS a completed compaction, which is what licenses
      // deleting keys.old — see [[keyIndexRecoverCompaction]]
      java.nio.file.Files.write(
        new java.io.File(compactDir, KeyIndexCompactMarker).toPath,
        Array.empty[Byte])
      java.nio.file.Files.move(keysDir.toPath, oldDir.toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      java.nio.file.Files.move(compactDir.toPath, keysDir.toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      graft.engine.FsUtil.deleteRecursively(oldDir)
      val budget = math.max((n * growth).toLong, 1L)
      val bits = math.min(
        org.apache.spark.util.sketch.BloomFilter
          .optimalNumOfBits(budget, fpp),
        maxFilterBytes * 8)
      val bytes = keyBloomFixed(keys, "key_fp", budget, bits)
      val tmp = java.nio.file.Files.createTempFile(
        keyIndexBloomFile(indexDir).getParentFile.toPath,
        "." + keyIndexBloomFile(indexDir).getName, ".tmp")
      java.nio.file.Files.write(tmp, bytes)
      java.nio.file.Files.move(tmp, keyIndexBloomFile(indexDir).toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      graft.engine.Sidecar.write(keyIndexMetaFile(indexDir), meta +
        ("items" -> budget.toString) + ("bits" -> bits.toString) +
        ("itemsAdded" -> n.toString))
      // the rebuilt bloom is derived from the keys table itself, so
      // it claims exactly what the table holds — a crashed append's
      // keys-ahead-of-bloom window ([[KeyIndexAppendMarker]]) is
      // reconciled by construction; clear the marker LAST, and only
      // now that bloom + meta are durable
      java.nio.file.Files.deleteIfExists(
        keyIndexAppendMarkerFile(indexDir).toPath)
    }

  /** Marker file a completed compaction leaves inside the keys dir
    * (underscore-prefixed: invisible to the parquet reader). */
  private[graft] val KeyIndexCompactMarker = "_graft_compacted"

  /** Append-intent marker (r17 verdict #1): [[keyIndexAppend]] stamps
    * it inside the index dir immediately BEFORE its keys parquet
    * write and clears it only AFTER the merged bloom + meta land.
    * While it exists, the keys table may hold keys the persisted
    * bloom does not claim — and a bloom miss routes a row past the
    * confirm join entirely, so an oblivious serve would classify
    * verbatim duplicates of the crashed batch as "definitely new"
    * SILENTLY. While the marker is present: both writers refuse
    * loudly ([[keyIndexAppend]]; [[keyIndexRebuild]] is the
    * exception — rebuilding the bloom FROM the keys table IS the
    * reconciliation, so it proceeds and clears the marker once its
    * bloom + meta land), and [[incrementalDedupOver]] degrades to
    * confirm-everything (exact, just without the prefilter's
    * savings). */
  private[graft] val KeyIndexAppendMarker = "_graft_appending"

  private def keyIndexAppendMarkerFile(indexDir: String) =
    new java.io.File(indexDir, KeyIndexAppendMarker)

  /** True when a crashed append's intent marker is present: the keys
    * table may be ahead of the bloom, serves run degraded, and
    * writers other than [[keyIndexRebuild]] refuse. Recovery
    * orchestrators (e.g. [[CrawlRefresh.nightly]]'s crashed-night
    * preamble) check this to run the rebuild reconciliation before
    * re-appending. */
  def keyIndexAppendPending(indexDir: String): Boolean =
    keyIndexAppendMarkerFile(indexDir).exists()

  /** Test-only crash injection: when true, [[keyIndexAppend]] throws
    * between its keys parquet write and its bloom merge — the exact
    * window the append-intent marker exists for. Never set outside
    * IncrementalDedupSpec. */
  private[graft] var keyIndexCrashAfterKeysWrite: Boolean = false

  /** Recover a [[keyIndexRebuild]] compaction crash. Must run under
    * the writer lock, BEFORE any write path touches `keys/` (ADVICE
    * r16 — recovery only inside the rebuild is one-sided):
    *
    *   - `keys/` missing, `keys.old/` present — the first rename
    *     landed and the second did not; `keys.old` is the only full
    *     copy → roll it back.
    *   - both present and `keys/` carries [[KeyIndexCompactMarker]] —
    *     the crash fell between the second rename and the cleanup;
    *     `keys/` IS the completed compaction → retire `keys.old`.
    *   - both present WITHOUT the marker — `keys/` is NOT a completed
    *     compaction (e.g. a pre-fix append recreated it holding one
    *     batch while `keys.old` held the corpus) → fail LOUDLY
    *     rather than guess; deleting either side silently is how
    *     previously committed keys pass as "definitely new".
    */
  private def keyIndexRecoverCompaction(indexDir: String): Unit = {
    val keysDir = new java.io.File(indexDir, "keys")
    val oldDir = new java.io.File(indexDir, "keys.old")
    if (oldDir.isDirectory) {
      if (!keysDir.isDirectory)
        java.nio.file.Files.move(oldDir.toPath, keysDir.toPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      else if (new java.io.File(keysDir, KeyIndexCompactMarker).exists())
        graft.engine.FsUtil.deleteRecursively(oldDir)
      else throw new IllegalStateException(
        s"keyIndex($indexDir): both keys/ and keys.old/ exist and keys/ " +
          "is not a completed compaction — refusing to pick a side " +
          "(keys.old may be the only full copy). Inspect the two " +
          "directories; keep the complete one as keys/, delete the " +
          "other, then rerun keyIndexRebuild.")
    }
  }

  /** Keys location for READ paths (no lock, no mutation): a reader
    * that lands mid-crash-window serves from whichever directory
    * holds the full committed key set, mirroring
    * [[keyIndexRecoverCompaction]]'s decision table read-only (ADVICE
    * r17): in the AMBIGUOUS shape — both keys/ and keys.old/ present
    * with no completion marker — keys/ may hold one batch while
    * keys.old holds the corpus, and a reader that silently picked
    * keys/ would confirm against the incomplete set and readmit
    * committed keys, the unsafe direction the recovery exists to
    * prevent. Refuse loudly there, exactly as the writers do.
    *
    * Reader concurrency (r17 verdict #8): resolution and the
    * subsequent parquet scan are not atomic — a rebuild RENAMING
    * keys/ between them (another thread of the same session) would
    * fail the read mid-scan. The index's documented contract is
    * single-writer AND serve/rebuild serialized within a process (the
    * nightly runs them in sequence); the writer lock makes the writer
    * side of that contract loud, this note records the reader side. */
  private def keyIndexKeysDirForRead(indexDir: String): java.io.File = {
    val keysDir = new java.io.File(indexDir, "keys")
    val oldDir = new java.io.File(indexDir, "keys.old")
    if (!oldDir.isDirectory) keysDir
    // crash between the compaction renames: keys.old is the only copy
    else if (!keysDir.isDirectory) oldDir
    // completed compaction (crash before its cleanup): keys/ is the
    // full set, keys.old a disposable leftover
    else if (new java.io.File(keysDir, KeyIndexCompactMarker).exists())
      keysDir
    else throw new IllegalStateException(
      s"keyIndex($indexDir): both keys/ and keys.old/ exist and keys/ " +
        "is not a completed compaction — refusing to serve from an " +
        "ambiguous keys layout (keys.old may be the only full copy). " +
        "Inspect the two directories; keep the complete one as keys/, " +
        "delete the other, then rerun keyIndexRebuild.")
  }

  /** Acquire the index's writer lock (atomic create-new), run `f`,
    * release. A second concurrent writer — or a crashed one's
    * leftover — fails loudly with the owner stamped in the file. */
  private def keyIndexLocked[A](indexDir: String, what: String)(f: => A): A = {
    val d = new java.io.File(indexDir).getAbsoluteFile
    val lock = new java.io.File(d.getParentFile, d.getName + "._graft_keyidx.lock")
    val owner =
      s"${java.lang.ProcessHandle.current().pid()}@" +
        s"${java.net.InetAddress.getLocalHost.getHostName} " +
        java.time.Instant.now().toString + s" ($what)"
    try
      java.nio.file.Files.write(lock.toPath, owner.getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE_NEW)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        val holder = new String(
          java.nio.file.Files.readAllBytes(lock.toPath), "UTF-8")
        throw new IllegalStateException(
          s"keyIndex($indexDir): writer lock held by [$holder] — the " +
            "index is single-writer; if that writer crashed, verify it " +
            s"is gone and delete $lock")
    }
    try f finally java.nio.file.Files.deleteIfExists(lock.toPath)
  }

  /** True when the index has committed more keys than the filter was
    * sized for — realized fpp is degrading past the init-time bound
    * and the owner should re-init (one amortized corpus scan). */
  def keyIndexNeedsRebuild(indexDir: String): Boolean = {
    val meta = keyIndexMeta(indexDir)
    meta("itemsAdded").toLong > meta("items").toLong
  }

  /** [[incrementalDedup]] served from a [[keyIndexInit]]-maintained
    * index — bit-for-bit the anti-join against every key ever
    * committed via [[keyIndexAppend]], with NO corpus-sized read on
    * the per-batch path:
    *
    *   1. the persisted bloom loads in O(filter bytes) — no scan;
    *   2. rows the filter rejects are definitely new (no false
    *      negatives) — no corpus access at all;
    *   3. the fpp-bounded candidates confirm against the keys table
    *      — md5 FINGERPRINTS, ~16 B/row regardless of key width
    *      ([[KeyIndexLayout]]) — with the read PRUNED to the
    *      candidate hash partitions (directory pruning on `__kp`)
    *      and bloom-prefiltered. Even when a dup-heavy batch touches
    *      every partition, the worst case is one thin fingerprint
    *      scan (~0.5% of a text corpus's bytes), never a key-VALUE
    *      scan — the r16 raw-key layout degraded to a corpus-text
    *      read per batch exactly there.
    */
  def incrementalDedupOver(
      spark: org.apache.spark.sql.SparkSession, indexDir: String,
      increment: DataFrame): DataFrame = {
    val meta = keyIndexMeta(indexDir)
    keyIndexRequireLayout(indexDir, meta)
    val keyCol = meta("keyCol")
    val partitions = meta("partitions").toInt
    // the batch side of every probe is the key's md5 FINGERPRINT —
    // the only identity the index stores ([[KeyIndexLayout]])
    def fpOf = md5(col(keyCol).cast("string"))
    // a present append-intent marker means the keys table may be
    // AHEAD of the bloom (a crashed append — [[KeyIndexAppendMarker]]),
    // and a bloom miss would route exactly those keys' duplicates
    // past the confirm join as "definitely new". Degrade to
    // confirm-EVERYTHING: skip the bloom and send every non-null-key
    // row through the exact anti-join against the keys table —
    // bit-identical to the anti-join (the bloom is only ever a
    // prefilter), just without the prefilter's savings. (Marker with
    // no keys/ at all — a first append that crashed before landing
    // any file — leaves table and bloom both empty and consistent, so
    // the normal path is already exact there.)
    val degraded = keyIndexAppendMarkerFile(indexDir).exists() &&
      new java.io.File(indexDir, "keys").isDirectory
    val mightContain: Column =
      if (degraded) lit(true)
      else {
        val bf = java.nio.file.Files.readAllBytes(
          keyIndexBloomFile(indexDir).toPath)
        // the CORPUS bloom is probed through a BROADCAST variable + a
        // scalar UDF, NOT a plan-literal expression: the filter grows
        // linearly with the index (12 MB at 10⁷ keys, 120 MB at 10⁸)
        // and a Literal of that size taxes EVERY action whose plan
        // carries it (~1.5 s/action measured at 10⁷ — plan copies,
        // task binaries, driver GC), which is what kept the r16
        // sweep's kinc cell from going flat. The UDF runs over the
        // BATCH only (thousands of rows), so losing codegen there
        // costs nothing; the small candidate bloom on the corpus side
        // below stays a codegen'd expression where row volume
        // actually matters. One broadcast per call, captured by the
        // returned lazy frame — see [[releaseServeBloomBroadcasts]]
        // for the long-lived-session lifetime contract.
        val bfBc = spark.sparkContext.broadcast(
          org.apache.spark.util.sketch.BloomFilter.readFrom(
            new java.io.ByteArrayInputStream(bf)))
        serveBloomBroadcasts.add(bfBc)
        val probe = udf((h: Long) => bfBc.value.mightContainLong(h))
        probe(xxhash64(fpOf))
      }
    // a null key has a null fingerprint and can equal nothing (the
    // anti-join semantics) — route it straight to definitely-new
    // instead of letting a null might-contain poison the filter split
    val flagged = increment.withColumn("__mc",
      when(col(keyCol).isNull, lit(false)).otherwise(mightContain))
    val definitelyNew = flagged.filter(!col("__mc")).drop("__mc")
    val candidates = flagged.filter(col("__mc")).drop("__mc")
      .localCheckpoint()
    val nCand = candidates.count()
    if (nCand == 0) return definitelyNew
    // the candidate partition list is a bounded driver value
    // (≤ `partitions` ints) — the pruning predicate for the keys read
    val parts = candidates
      .select(pmod(xxhash64(fpOf), lit(partitions.toLong))
        .cast("int").as("__kp"))
      .distinct().collect().map(_.getInt(0)).toSeq
    // the reverse bloom prunes the corpus-keys side of the confirm
    // join; its fpp must SCALE with the index — at a fixed 0.01, a
    // 10⁷-key index leaks fpp·N ≈ 10⁵ false-positive keys into the
    // join exchange (linear in N). Deriving fpp so expected
    // survivors stay ≈ 10·|candidates| keeps the confirm O(batch) at
    // any index size; the bloom itself only grows log(1/fpp).
    val itemsAdded = math.max(meta("itemsAdded").toLong, 1L)
    val confirmFpp =
      math.min(0.01, math.max(1e-6, 10.0 * nCand / itemsAdded.toDouble))
    val candBf = keyBloom(
      candidates.select(fpOf.as("key_fp")), "key_fp", confirmFpp, nCand)
    val corpusKeys = spark.read
      .parquet(keyIndexKeysDirForRead(indexDir).getPath)
      .filter(col("__kp").isin(parts: _*)) // directory-level pruning
      .filter(keyMightContain(candBf, col("key_fp")))
      .select(col("key_fp"))
    // the prefilter survivors are ≈ 10·|candidates| thin fingerprints
    // by the confirmFpp derivation — broadcast them so the confirm is
    // one exchange-free stage (left to statistics the planner sees
    // the keys TABLE's size and sort-merge-shuffles both sides)
    val confirmed = candidates.withColumn("__fp", fpOf)
      .join(broadcast(corpusKeys), col("__fp") === col("key_fp"),
        "left_anti")
      .drop("__fp")
    definitelyNew.unionByName(confirmed)
  }

  private def keyIndexMeta(indexDir: String): Map[String, String] =
    graft.engine.Sidecar.read(keyIndexMetaFile(indexDir)).getOrElse(
      throw new IllegalStateException(
        s"keyIndex($indexDir): no index metadata — was the index " +
          "created by keyIndexInit?"))

  // siblings of the index dir (the Sidecar convention): survive a
  // destructive truncation of the dir itself
  private def keyIndexMetaFile(indexDir: String) = {
    val d = new java.io.File(indexDir).getAbsoluteFile
    new java.io.File(d.getParentFile, d.getName + "._graft_keyidx.json")
  }
  private def keyIndexBloomFile(indexDir: String) = {
    val d = new java.io.File(indexDir).getAbsoluteFile
    new java.io.File(d.getParentFile, d.getName + "._graft_keybloom.bin")
  }

  /** Incremental FUZZY dedup: the near-duplicate counterpart of
    * [[incrementalDedup]] — keep only the `increment` docs with no
    * word-n-gram-Jaccard near-duplicate (≥ `threshold`) in the
    * accumulated `corpus`. This is the snapshot-over-snapshot crawl
    * workflow (CCNet/RefinedWeb): each arriving batch is screened
    * against everything already kept, without re-deduping the corpus.
    *
    * Reference behavior mirrored: the incremental-sync role of the
    * engine (reference rust/core/src/execution/sync.rs — only
    * arriving rows are processed) combined with its near-dup family
    * (python/cocoindex/ops/entity_resolution/__init__.py:200).
    *
    * Scale shape — the corpus is scanned ONCE and never shuffled:
    *   1. the increment (assumed ≪ corpus — the operator's contract;
    *      a batch comparable to the corpus should run the full
    *      [[fuzzyDedupKeep]] sweep instead) is shingled, md5-hashed
    *      and signed, then BROADCAST: the corpus-side signature join
    *      is map-side, so the 100 TB side never moves;
    *   2. the corpus pass computes md5-MinHash signatures
    *      ([[graft.functions.MinHashSigExpr]], codegen'd) and carries
    *      its hashed-shingle arrays through the map-side join, so
    *      candidate verification needs NO second corpus scan;
    *   3. candidates (band-collision pairs, O(dups + collisions))
    *      verify by exact Jaccard over the md5-hashed shingle sets;
    *      increment docs with a confirmed match are dropped.
    *
    * Every derived value (shingle md5s, the universal-family
    * signatures, the Jaccard) is integer/md5 arithmetic an external
    * SQL engine recomputes bit-for-bit — the TextPack q121 oracle
    * replays the whole filter. Docs with fewer than `n` words have
    * no shingles, hence no signature, hence are always kept (both
    * engines agree).
    */
  def incrementalNearDup(
      corpus: DataFrame, increment: DataFrame, threshold: Double,
      numHashes: Int = 32, n: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(numHashes <= minHashA.length)
    import org.apache.spark.sql.GraftExpressionBridge
    def sigArr(hs: Column): Column =
      GraftExpressionBridge.column(graft.functions.MinHashSigExpr(
        GraftExpressionBridge.expression(hs),
        minHashA.take(numHashes), minHashB.take(numHashes), MinHashP))

    // increment side: shingles hashed once, reused for signatures AND
    // verification; checkpointed so the two broadcasts below don't
    // re-run the shingle UDF
    val incHashed = increment
      .select(col(idCol).as("__inc_id"),
        shingleStringsUdf(n)(col(textCol)).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("__inc_id"), transform(col("sh"), s => md5long(s)).as("hs"))
      .localCheckpoint()
    val incSigs = incHashed
      .select(col("__inc_id"), posexplode(sigArr(col("hs"))))
      .toDF("__inc_id", "i", "sig")

    // corpus side: ONE scan; signatures explode to numHashes rows per
    // doc but the broadcast-hash join consumes them in the same
    // codegen stage — nothing corpus-sized is ever exchanged
    val corpusBanded = corpus
      .select(col(idCol).as("__c_id"),
        shingleStringsUdf(n)(col(textCol)).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("__c_id"), transform(col("sh"), s => md5long(s)).as("hs_c"))
      .select(col("__c_id"), col("hs_c"),
        posexplode(sigArr(col("hs_c"))).as(Seq("i", "sig")))

    val dupIncIds = corpusBanded
      .join(broadcast(incSigs), Seq("i", "sig"))
      .select(col("__c_id"), col("hs_c"), col("__inc_id"))
      .dropDuplicates("__c_id", "__inc_id")
      .join(broadcast(incHashed), Seq("__inc_id"))
      .withColumn("__jac", {
        val inter = size(array_intersect(col("hs_c"), col("hs")))
        round(inter.cast("double") /
          (size(col("hs_c")) + size(col("hs")) - inter), 4)
      })
      .filter(col("__jac") >= threshold)
      .select(col("__inc_id"))
      .distinct()

    increment.join(dupIncIds,
      increment(idCol) === dupIncIds("__inc_id"), "left_anti")
  }

  /** [[incrementalNearDup]] served from a [[minHashFlow]]-maintained
    * band index: the arriving batch's band codes probe the index for
    * candidate corpus docs, so only THOSE docs' shingles are
    * recomputed for exact verification — per-batch work is
    * O(batch + candidates), never O(corpus). The production (FNV)
    * signature path, the same one the flow's stage writes, so the
    * probe and the index agree bit-for-bit; index parameters
    * (numHashes/bandRows/n/columns) come from the index's declared
    * sidecar, never from the caller — a drifted caller cannot
    * silently probe with mismatched banding. Spec-gated
    * (IncrementalDedupSpec): equals the corpus-scan filter built
    * from [[minHashNearDup]]'s pair semantics.
    */
  def minHashIncrementOver(
      spark: org.apache.spark.sql.SparkSession, indexDir: String,
      corpus: DataFrame, increment: DataFrame, threshold: Double,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val meta = graft.engine.Sidecar.read(minHashMetaFile(indexDir))
      .getOrElse(throw new IllegalStateException(
        s"minHashIncrementOver($indexDir): no index metadata — was the " +
          "index built by minHashFlow?"))
    graft.engine.Sidecar.validate(minHashMetaFile(indexDir),
      Map("idCol" -> idCol, "textCol" -> textCol),
      what = s"minHashIncrementOver($indexDir)")
    val n = meta("n").toInt
    val numHashes = meta("numHashes").toInt
    val bandRows = meta("bandRows").toInt
    val nBands = numHashes / bandRows

    val indexBands = minHashIndexTarget(indexDir).read(spark)
      .select(col("item_key").as("__c_key"), col("band"), col("code"),
        col("sz").as("sz_c"))

    // batch bands via the EXACT stage pipeline minHashFlow writes
    val incBanded = increment
      .select(col(idCol).cast("string").as("__inc_key"),
        shingleHashUdf(n)(col(textCol)).as("sh"))
      .withColumn("sig", minHashDeriveSig(col("sh"), numHashes))
      .filter(col("sig").isNotNull)
      .select(col("__inc_key"), size(col("sh")).as("sz_i"),
        explode(sequence(lit(0), lit(nBands - 1))).as("band"), col("sig"))
      .withColumn("code", bandCode(bandRows))
      .select(col("__inc_key"), col("sz_i"), col("band"), col("code"))

    // probe: index side stays put, batch bands broadcast; length
    // prefilter (J ≥ t ⇒ t·|A| ≤ |B| ∧ t·|B| ≤ |A|) prunes
    // impossible pairs before any shingle work. The bound is
    // loosened by the round-4 quantum (ADVICE r14): verification
    // accepts round(J, 4) ≥ t, so a pair whose true J sits in
    // [t − 0.00005, t) ROUNDS UP to a dup — the unrounded bound
    // would prune it here while the corpus-scan filter
    // ([[incrementalNearDup]], no prefilter) drops it, diverging on
    // boundary pairs. t' = t − 0.00005 admits every pair the rounded
    // verify can accept.
    val tLoose = threshold - 0.00005
    val candidates = indexBands
      .join(broadcast(incBanded), Seq("band", "code"))
      .filter(col("sz_c") >= col("sz_i") * tLoose &&
        col("sz_i") >= col("sz_c") * tLoose)
      .select(col("__c_key"), col("__inc_key"))
      .dropDuplicates("__c_key", "__inc_key")
      .localCheckpoint()

    // verify: corpus shingles ONLY for candidate docs. The candidate-
    // derived sides are BROADCAST (candidates here are intrinsically
    // bounded — band codes concatenate 64-bit minima, so random
    // collisions are negligible and the pair set ≈ true near-dups);
    // left to statistics the planner would sort-merge-join and
    // EXCHANGE the corpus-sized shingle table (the semDedupIncrement-
    // Over r16 sweep lesson). A bounded candidate set pushes into the
    // corpus scan as an IN filter on the id column's NATIVE type
    // (r16 verdict #1: casting first would strip the parquet
    // pushdown for int64 ids), so parquet prunes row groups and the
    // shingle UDF runs on O(candidates) rows, never the corpus; past
    // the bound [[graft.engine.KeyedFetch]] degrades to a broadcast
    // semi join — scanned once, never shuffled.
    val corpusSh = graft.engine.KeyedFetch.byNativeKey(
      corpus, idCol, candidates.select("__c_key").distinct(), "__c_key")
      .select(col("__c_key"), shingleHashUdf(n)(col(textCol)).as("sh_c"))
    val incSh = increment
      .select(col(idCol).cast("string").as("__inc_key"),
        shingleHashUdf(n)(col(textCol)).as("sh_i"))
      .join(broadcast(candidates.select("__inc_key").distinct()),
        Seq("__inc_key"), "left_semi")

    val dupKeys = corpusSh
      .join(broadcast(candidates), Seq("__c_key"))
      .join(broadcast(incSh), Seq("__inc_key"))
      .withColumn("__jac", {
        val inter = size(array_intersect(col("sh_c"), col("sh_i")))
        // round(4) before the compare, like verifyJaccard — the
        // index-served path must classify boundary pairs exactly as
        // the corpus-scan path does
        round(inter.cast("double") /
          (size(col("sh_c")) + size(col("sh_i")) - inter), 4)
      })
      .filter(col("__jac") >= threshold)
      .select(col("__inc_key"))
      .distinct()

    increment.join(dupKeys,
      increment(idCol).cast("string") === dupKeys("__inc_key"), "left_anti")
  }

  /** Bloom filter of `xxhash64(keyCol)` over `df`, sized for `n`
    * items at `fpp`, returned as its serialized bytes (a bounded
    * driver value; see [[incrementalDedup]] step 1). EMPTY input
    * yields a valid never-contains filter, never null. Shared with
    * the scale sweep, which restates candidate counts from it. */
  private[graft] def keyBloom(
      df: DataFrame, keyCol: String, fpp: Double, n: Long,
      maxFilterBytes: Long = 256L << 20): Array[Byte] = {
    val items = math.max(n, 1L)
    val bits = math.min(
      org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(items, fpp),
      maxFilterBytes * 8)
    keyBloomFixed(df, keyCol, items, bits)
  }

  /** [[keyBloom]] with caller-FIXED (items, bits): the persisted key
    * index builds every batch filter with the index's init-time
    * parameters so the hash-function count matches and
    * `mergeInPlace` is the exact set union. */
  private[graft] def keyBloomFixed(
      df: DataFrame, keyCol: String, items: Long, bits: Long)
      : Array[Byte] = {
    import org.apache.spark.sql.GraftExpressionBridge
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    // BloomFilterAggregate SILENTLY clamps both parameters to the
    // runtime-filter session confs (defaults 4M items / 8 MB) — a
    // clamp stays exact here (more false positives just reach the
    // confirm join) but quietly defeats the sizing, so raise the
    // caps to what this filter actually needs — and RESTORE them
    // after the build: these confs also size Spark's own runtime
    // join filters, and leaving a 10⁹-item cap behind would let
    // every later unrelated join build driver-crushing filters.
    // The raise/restore is ref-counted per session (BloomConfGuard):
    // a naive save/restore races under CONCURRENT builds — one
    // build's restore would clamp another's in-flight aggregate and
    // the interleaved restores could leave a raised value behind.
    val bf = BloomConfGuard.withRaised(df.sparkSession, items, bits) {
      val agg = new BloomFilterAggregate(
        GraftExpressionBridge.expression(xxhash64(col(keyCol))),
        Literal(items), Literal(bits)).toAggregateExpression()
      df.select(GraftExpressionBridge.column(agg).as("bf"))
        .head.getAs[Array[Byte]](0)
    }
    // an EMPTY input aggregates to null; return a valid
    // never-contains filter instead so every caller (the operator,
    // the scale sweep's restatement) flows through the normal
    // branch — a null filter turns might-contain into null, which
    // silently drops rows from BOTH sides of a filter split. Built
    // with the SAME (items, bits) so it stays merge-compatible with
    // sibling filters of this parameterization.
    if (bf != null) bf
    else {
      val empty =
        org.apache.spark.util.sketch.BloomFilter.create(items, bits)
      val bos = new java.io.ByteArrayOutputStream()
      empty.writeTo(bos)
      bos.toByteArray
    }
  }

  /** Ref-counted raise of the runtime bloom-filter session confs
    * around [[keyBloom]] builds: first build in records the priors,
    * every build raises to its own high-water need, the LAST build
    * out restores — concurrent builds on one session can neither
    * clamp each other mid-flight nor leak a raised cap. */
  private object BloomConfGuard {
    private val Keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.maxNumItems",
      "spark.sql.optimizer.runtime.bloomFilter.maxNumBits")
    private final class State {
      var depth = 0
      var priors: Map[String, String] = Map.empty
    }
    private val states =
      new java.util.WeakHashMap[org.apache.spark.sql.SparkSession, State]()
    def withRaised[A](spark: org.apache.spark.sql.SparkSession,
        items: Long, bits: Long)(f: => A): A = {
      val st = states.synchronized {
        var s = states.get(spark)
        if (s == null) { s = new State; states.put(spark, s) }
        s
      }
      val conf = spark.conf
      st.synchronized {
        if (st.depth == 0) st.priors = Keys.map(k => k -> conf.get(k)).toMap
        Seq(Keys(0) -> items, Keys(1) -> bits).foreach { case (k, v) =>
          if (conf.get(k).toLong < v) conf.set(k, v.toString)
        }
        st.depth += 1
      }
      try f
      finally st.synchronized {
        st.depth -= 1
        if (st.depth == 0)
          st.priors.foreach { case (k, v) => conf.set(k, v) }
      }
    }
  }

  /** Membership predicate against a [[keyBloom]] result. */
  private[graft] def keyMightContain(bf: Array[Byte], keyCol: String): Column =
    keyMightContain(bf, col(keyCol))

  private[graft] def keyMightContain(bf: Array[Byte], key: Column): Column = {
    import org.apache.spark.sql.GraftExpressionBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    GraftExpressionBridge.column(BloomFilterMightContain(
      Literal(bf, org.apache.spark.sql.types.BinaryType),
      GraftExpressionBridge.expression(xxhash64(key))))
  }
}
