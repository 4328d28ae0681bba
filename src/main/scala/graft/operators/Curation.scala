package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Corpus-curation rules for training-data pipelines: the
  * repetition-based document filters of Gopher (Rae et al. 2021,
  * §A1.1) and C4-style boilerplate removal, plus PII redaction.
  *
  * The reference ships lexical quality heuristics around its
  * chunk/embed pipelines (SURVEY §2.F; quality scoring lives in
  * [[graft.functions.TextFunctions]], q31) but no repetition rules —
  * these are the standard extra gates a 100 TB pretraining sweep
  * runs before dedup, so they are first-class operators here.
  *
  * Scale shape: every statistic is computed per row from the word
  * array with higher-order functions (`array_sort` + `aggregate` run
  * counting) — no explode, no groupBy, zero shuffles. The naive
  * formulation (explode words → groupBy(doc, word) → window max)
  * shuffles the whole tokenized corpus twice per statistic; this one
  * is a single narrow map over the documents scan, so a documents
  * filter pass stays scan-bound at any scale. Cost is O(n log n) per
  * document in the array sort, on ≤ doc-length arrays.
  */
object Curation {

  /** Highest occurrence count of any single element in `arr`
    * (0 for empty arrays): sort, then fold counting the longest run
    * of equal neighbors. */
  def maxRunCount(arr: Column): Column =
    aggregate(
      array_sort(arr),
      struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("best")),
      (acc, x) => {
        val run = when(x === acc("prev"), acc("run") + 1).otherwise(lit(1))
        struct(x.as("prev"), run.as("run"),
          greatest(acc("best"), run).as("best"))
      },
      acc => acc("best"))

  /** Adjacent word bigrams as "w1 w2" strings; empty below 2 words.
    * Built with zip_with over two slices — `ws` appears only as a
    * direct argument (evaluated per row). Referencing `ws` INSIDE a
    * transform lambda (e.g. `element_at(ws, i)`) re-evaluates the
    * whole words expression per element: O(n²) splits per document,
    * measured 20× slower on the bench corpus. */
  def bigrams(ws: Column): Column =
    when(size(ws) >= 2,
      zip_with(
        slice(ws, lit(1), size(ws) - 1),
        slice(ws, lit(2), size(ws) - 1),
        (a, b) => concat_ws(" ", a, b)))
      .otherwise(array().cast("array<string>"))

  /** Fraction of word occurrences taken by the most frequent word —
    * Gopher's top-1-gram fraction. 0 for empty docs. The `Of` forms
    * take an already-projected word array so one split serves every
    * statistic (pass a column reference, not the words expression —
    * see [[bigrams]] on per-element re-evaluation). */
  def topWordFractionOf(ws: Column): Column =
    when(size(ws) > 0,
      maxRunCount(ws).cast("double") / size(ws)).otherwise(0.0)

  def topWordFraction(text: Column): Column =
    topWordFractionOf(TextFunctions.words(text))

  /** Fraction of bigram occurrences taken by the most frequent
    * bigram — Gopher's top-2-gram fraction. 0 below 2 words. */
  def topBigramFractionOf(ws: Column): Column = {
    val bg = bigrams(ws)
    when(size(bg) > 0,
      maxRunCount(bg).cast("double") / size(bg)).otherwise(0.0)
  }

  def topBigramFraction(text: Column): Column =
    topBigramFractionOf(TextFunctions.words(text))

  /** Distinct words / total words — low values mean the document is
    * a few phrases repeated. 0 for empty docs. */
  def distinctWordFractionOf(ws: Column): Column =
    when(size(ws) > 0,
      size(array_distinct(ws)).cast("double") / size(ws)).otherwise(0.0)

  def distinctWordFraction(text: Column): Column =
    distinctWordFractionOf(TextFunctions.words(text))

  /** The Gopher-style keep decision over a PRE-STAGED word array —
    * pass a column REFERENCE to a projected `words(text)` column (the
    * q67 `__ws` pattern), so the tokenize runs once per row instead
    * of once per statistic. */
  def repetitionKeepOf(
      ws: Column,
      maxTopWordFrac: Double = 0.12,
      maxTopBigramFrac: Double = 0.05,
      minDistinctFrac: Double = 0.5,
      minWords: Int = 10,
      maxWords: Int = 100000): Column = {
    val n = size(ws)
    (topWordFractionOf(ws) <= maxTopWordFrac) &&
      (topBigramFractionOf(ws) <= maxTopBigramFrac) &&
      (distinctWordFractionOf(ws) >= minDistinctFrac) &&
      (n >= minWords) && (n <= maxWords)
  }

  /** Convenience form over raw text. CAUTION: each statistic inlines
    * its own copy of the word split (~15 tokenizations per row after
    * CollapseProject) — for a corpus-scale filter pass, stage the
    * array once and use [[repetitionKeepOf]]. */
  def repetitionKeep(
      text: Column,
      maxTopWordFrac: Double = 0.12,
      maxTopBigramFrac: Double = 0.05,
      minDistinctFrac: Double = 0.5,
      minWords: Int = 10,
      maxWords: Int = 100000): Column =
    repetitionKeepOf(TextFunctions.words(text), maxTopWordFrac,
      maxTopBigramFrac, minDistinctFrac, minWords, maxWords)

  // ---- PII redaction ------------------------------------------------------

  /** Patterns kept dialect-portable (valid and identical in Java
    * regex and RE2/DuckDB): no lookaround, no backslash-class
    * shorthands beyond \b and [0-9]. */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+"
  val Ipv4Pattern =
    "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val PhonePattern = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"

  /** Count of PII spans by kind, consistent with [[scrubPii]]'s rule
    * priority: each count is taken AFTER the higher-priority rules
    * consumed their spans, so the counts always equal the number of
    * placeholders the scrub emits (an IP-shaped email host counts as
    * email only, never also as IP). */
  def emailCount(text: Column): Column = regexp_count(text, lit(EmailPattern))
  def ipv4Count(text: Column): Column =
    regexp_count(regexp_replace(text, EmailPattern, "<EMAIL>"),
      lit(Ipv4Pattern))
  def phoneCount(text: Column): Column =
    regexp_count(
      regexp_replace(regexp_replace(text, EmailPattern, "<EMAIL>"),
        Ipv4Pattern, "<IP>"),
      lit(PhonePattern))

  /** Candidate payment-card spans: 16 digits in groups of 4 joined
    * by a consistent '-'/' '/nothing (an alternation of the three
    * fully-consistent forms — "4242-4242 4242 4242" mixes separators
    * and is not a plausible card rendering, so it must not match). A
    * REGEX cannot decide card-ness — the Luhn checksum can
    * ([[luhnValid]]), so the scrub pairs this pattern with per-span
    * validation: random 16-digit runs (order ids, hashes) survive,
    * real card numbers do not. Kept dialect-portable like the other
    * patterns. */
  val CardPattern =
    "\\b[0-9]{4}(([-][0-9]{4}){3}|([ ][0-9]{4}){3}|[0-9]{12})\\b"

  /** [[CardPattern]] with RUN-CONTINUATION guards (ADVICE r15): a
    * candidate must not be a \b-bounded PREFIX or SUFFIX of a longer
    * grouped digit run — '1111-2222-3333-4444-5555' contains a
    * \b-bounded 4-group span, but redacting it would leave corrupted
    * residue ('<CARD>-5555'). Each separator form rejects spans
    * preceded/followed by `digit‑sep` / `sep‑digit` in ITS OWN
    * separator (a trailing " and" or "-x" stays redactable); the
    * solid form needs only \b (a 16-digit span inside a longer digit
    * run never \b-matches). Lookaround is Java-regex-only — this
    * pattern is SPARK-SIDE ONLY (the scrub/count mechanics; oracles
    * replay the span decision, not this regex), while [[CardPattern]]
    * stays the dialect-portable candidate shape. Long grouped runs
    * are deliberately NOT redacted even when a prefix is Luhn-valid:
    * they are not a plausible card rendering (documented
    * under-redaction, spec-pinned). */
  val CardPatternGuarded: String =
    "(?<![0-9]-)\\b[0-9]{4}([-][0-9]{4}){3}\\b(?!-[0-9])" +
      "|(?<![0-9] )\\b[0-9]{4}([ ][0-9]{4}){3}\\b(?! [0-9])" +
      "|\\b[0-9]{16}\\b"

  /** Luhn checksum validity of the digits inside `span` — pure
    * codegen HOF arithmetic (reverse, double every second digit from
    * the right, casting out nines, sum % 10): runs inside the scan
    * stage, no UDF. */
  def luhnValid(span: Column): Column = {
    val ds = filter(split(span, ""), c => c.rlike("[0-9]"))
    val summed = aggregate(
      transform(reverse(ds), (c, i) => {
        val d = c.cast("int")
        when(i % 2 === 1,
          when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)).otherwise(d)
      }),
      lit(0), (acc, x) => acc + x)
    size(ds) >= 13 && size(ds) <= 19 && summed % 10 === 0
  }

  /** Count of card spans the scrub would redact: candidates AFTER
    * the email rule consumed its spans, kept only when Luhn-valid —
    * always equals the number of `<CARD>` placeholders. */
  def cardCount(text: Column): Column =
    size(filter(
      regexp_extract_all(regexp_replace(text, EmailPattern, "<EMAIL>"),
        lit(CardPatternGuarded), lit(0)),
      sp => luhnValid(sp)))

  /** Replace every email/card/IPv4/phone span with a typed
    * placeholder. Email first: an IP-shaped host inside an email
    * must be consumed by the email rule, not split by the IP rule.
    * Cards second (most specific digit rule): candidates come from
    * [[CardPatternGuarded]] (never a prefix/suffix of a longer
    * grouped run), each is Luhn-validated, and only valid spans fold
    * into `<CARD>` — the fold replaces occurrences under the SAME
    * guards (\b plus run-continuation lookarounds in the span's own
    * separator), so a valid card embedded inside a longer grouped
    * run elsewhere in the text cannot be corrupted into residue like
    * '<CARD>-5555' (ADVICE r15); a standalone repeat of the same
    * span is itself a guarded candidate and redacts, keeping
    * [[cardCount]] equal to the emitted placeholders. Span
    * characters are digits/'-'/' ' only, all regex-literal outside a
    * class, so the dynamic pattern needs no quoting. Still
    * whole-stage codegen, no UDF. */
  def scrubPii(text: Column): Column = {
    val e = regexp_replace(text, EmailPattern, "<EMAIL>")
    val c = aggregate(
      filter(regexp_extract_all(e, lit(CardPatternGuarded), lit(0)),
        sp => luhnValid(sp)),
      e, (acc, sp) => {
        // the span's own separator (position 5 is sep for grouped
        // forms, a digit for the solid form) picks the guard class
        val sep = substring(sp, 5, 1)
        val pat = when(sep.isin("-", " "),
          concat(lit("(?<![0-9]"), sep, lit(")\\b"), sp,
            lit("\\b(?!"), sep, lit("[0-9])")))
          .otherwise(concat(lit("\\b"), sp, lit("\\b")))
        regexp_replace(acc, pat, lit("<CARD>"))
      })
    regexp_replace(
      regexp_replace(c, Ipv4Pattern, "<IP>"),
      PhonePattern, "<PHONE>")
  }

  // ---- line-structure quality signals ---------------------------------------

  /** Per-document LINE-level quality signals — the Dolma/C4 battery
    * the word-level stats (q30/q31/q67) cannot see: terminal-
    * punctuation line fraction (C4 keeps only sentences ending in
    * punctuation), bullet-line fraction (list-heavy boilerplate),
    * line-length moments (navigation/chrome detection). Returns
    * `(idCol, n_lines, frac_end_punct, frac_bullet,
    * mean_line_chars, max_line_chars)`; all ratios are
    * small-integer divisions rounded to 4 — bit-identical across
    * engines. Pure codegen HOFs over the split line array: a per-row
    * map inside the scan stage, no shuffle, no UDF. */
  def lineStats(
      df: org.apache.spark.sql.DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): org.apache.spark.sql.DataFrame =
    df.select(col(idCol) +: lineStatCols(textCol).map {
      case (name, c) => c.as(name) }: _*)

  /** The [[lineStats]] signal COLUMNS, for INLINE (join-free) use: a
    * composite whose input rows already carry the text can add these
    * per-row expressions directly instead of computing [[lineStats]]
    * separately and 1:1-joining it back on the id — that join
    * re-evaluates the caller's whole upstream pipeline a second time
    * (r19, guide §7.2 duplicated subtrees; q141 measured the scrub
    * pipeline evaluated once per self-join side). Single source of
    * truth: [[lineStats]] itself is defined over these columns. */
  def lineStatCols(textCol: String = "text"): Seq[(String, Column)] = {
    val lines = split(col(textCol), "\n")
    val n = size(lines)
    Seq(
      "n_lines" -> n.cast("int"),
      "frac_end_punct" ->
        round(size(filter(lines, l => l.rlike("[.!?\"]$"))).cast("double")
          / n, 4),
      "frac_bullet" ->
        round(size(filter(lines, l => l.rlike("^[-*]"))).cast("double")
          / n, 4),
      "mean_line_chars" ->
        round(aggregate(lines, lit(0), (a, l) => a + length(l))
          .cast("double") / n, 4),
      "max_line_chars" ->
        aggregate(lines, lit(0), (a, l) => greatest(a, length(l)))
          .cast("int"))
  }

  // ---- exact-k stratified sampling ------------------------------------------

  /** Deterministic EXACT-k sample per stratum (domain/language/source)
    * — the eval-set construction step ([[mixtureSample]] keeps a
    * deterministic *fraction*; this keeps a deterministic *count*).
    * Rows are ranked inside each stratum by an md5 draw (reproducible
    * run-to-run and engine-to-engine, no `rand()`), and the first `k`
    * survive, returned with their `strat_rank`.
    *
    * Scale shape — the ranking window never sees the corpus: a tiny
    * per-stratum count (partial-aggregated) derives a keep
    * probability `p = min(1, oversample·k/n)`, a codegen hash filter
    * inside the scan keeps ~oversample·k rows per stratum, and ONLY
    * those survivors shuffle into the per-stratum window. At
    * oversample=8 the chance a large stratum under-fills below k is
    * Chernoff-negligible (< e^{-2k}), and small strata take p = 1
    * (exact by construction); the draw+rank definition is what both
    * engines replay, so the q139 gate is value-exact regardless. A
    * hot stratum costs O(oversample·k) window rows, not O(n). */
  def stratifiedSample(
      df: org.apache.spark.sql.DataFrame, domainCol: String, k: Int,
      idCol: String = "doc_id", oversample: Double = 8.0)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k > 0, s"k $k")
    require(oversample >= 1.0, s"oversample $oversample")
    val counts = df.groupBy(col(domainCol).as("__dom"))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__p",
        least(lit(1.0), lit(oversample * k) / col("__n")))
    val h = md5(concat(lit("strat:"), col(idCol).cast("string")))
    val draw = conv(substring(h, 1, 15), 16, 10).cast("long")
    // null-safe domain join: a null stratum is its own group, like
    // temperatureResample
    val pre = df.join(broadcast(counts), col(domainCol) <=> col("__dom"))
      .filter(draw <
        floor(col("__p") * lit(1152921504606846976.0 /* 2^60 */))
          .cast("long"))
    val w = Window.partitionBy(col(domainCol)).orderBy(h, col(idCol))
    pre.withColumn("strat_rank", row_number().over(w))
      .filter(col("strat_rank") <= k)
      .drop("__dom", "__n", "__p")
  }

  // ---- domain-weighted mixture sampling -----------------------------------

  /** 32-hex-digit threshold: `md5hex(key) < hexThreshold(w)` keeps a
    * deterministic ~w fraction of keys. Lowercase-hex string order IS
    * numeric order, so the same constant works verbatim in any engine
    * with md5 — no engine-specific hash needed for the oracle. */
  def hexThreshold(w: Double): String = {
    require(w >= 0.0 && w <= 1.0, s"weight $w outside [0,1]")
    if (w >= 1.0) "g" // sorts after every hex digit: keep all
    else {
      val t = (BigDecimal(w) * BigDecimal(BigInt(1) << 128)).toBigInt
      val h = t.toString(16)
      ("0" * (32 - h.length)) + h
    }
  }

  /** Deterministic domain-weighted sampling — the data-mixing step of
    * a pretraining pipeline (per-domain α-weights à la The Pile /
    * Gopher mixture tables): keep each row with probability
    * `weights(domain)`, decided by a hash of its id, so the sample is
    * reproducible, per-row independent, and shuffle-free (a pure
    * filter evaluated inside the scan's codegen stage — no exchange,
    * no state). Unknown domains drop. */
  def mixtureSample(
      df: org.apache.spark.sql.DataFrame, idCol: String, domainCol: String,
      weights: Map[String, Double]): org.apache.spark.sql.DataFrame = {
    val thr = weights.foldLeft(lit("")) { case (e, (k, w)) =>
      when(col(domainCol) === k, lit(hexThreshold(w))).otherwise(e)
    }
    df.filter(md5(col(idCol).cast("string")) < thr)
  }

  // ---- keep-best dedup canonical selection --------------------------------

  /** Canonical selection by QUALITY instead of min-id: per duplicate
    * cluster keep the row maximizing `quality` (ties broken by
    * ascending `idCol` for determinism) — the selection step a real
    * dedup pipeline runs after clustering, rather than keeping an
    * arbitrary member. Adds `keep_id` (the cluster's kept row) and
    * `kept` (is this row the one kept). One hash-partitioned window,
    * no driver involvement. */
  def keepBest(
      df: org.apache.spark.sql.DataFrame, clusterCol: String,
      qualityCol: String, idCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(clusterCol)
      .orderBy(col(qualityCol).desc, col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    df.withColumn("keep_id", first(col(idCol)).over(w))
      .withColumn("kept", col(idCol) === col("keep_id"))
  }

  // ---- corpus diagnostics -------------------------------------------------

  /** Zipf-slope corpus diagnostic: the least-squares slope of
    * ln(frequency) on ln(rank) over each group's top-`topN` word
    * types. Natural language sits near −1; a corpus slice drifting
    * far from its siblings signals boilerplate flooding, template
    * spam, or tokenization damage — a standard corpus-health check
    * before training. One word-count aggregation, one per-group
    * rank window (map-side group-limited), one `regr_slope`
    * aggregate — all codegen, no driver involvement. */
  def zipfSlopes(
      docs: org.apache.spark.sql.DataFrame, topN: Int = 1000,
      groupCol: String = "lang", textCol: String = "text")
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = docs.select(col(groupCol).as("g"),
      explode(filter(split(col(textCol), " "), w => w =!= "")).as("w"))
    val counts = words.groupBy("g", "w").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("g").orderBy(col("c").desc, col("w"))
    counts.withColumn("r", row_number().over(w))
      .filter(col("r") <= topN)
      .groupBy(col("g").as(groupCol))
      .agg(round(regr_slope(log(col("c")), log(col("r"))), 4)
        .as("zipf_slope"),
        count(lit(1)).as("n_types"))
  }

  // ---- per-domain hard caps -----------------------------------------------

  /** Per-domain document cap — the C4/CCNet-style guard against any
    * single domain dominating the corpus: keep at most `cap` rows per
    * `domainCol`, PRIORITIZED by descending `qualityCol` (ties by
    * ascending `idCol`), so the cap keeps a domain's best documents
    * rather than an arbitrary prefix. Complements [[mixtureSample]]:
    * α-weights shape the mixture proportionally, the cap is the hard
    * ceiling skewed domains still need. One hash-partitioned window —
    * the shuffle is by domain; a pathologically hot domain is exactly
    * the row group the cap truncates, and only its top-`cap` rows
    * survive the rank. */
  def domainCap(
      df: org.apache.spark.sql.DataFrame, cap: Int, domainCol: String,
      qualityCol: String, idCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(domainCol)
      .orderBy(col(qualityCol).desc, col(idCol))
    df.withColumn("__rank", row_number().over(w))
      .filter(col("__rank") <= cap)
      .drop("__rank")
  }

  // ---- duplicated-segment removal (CCNet-style) ---------------------------

  /** CCNet-style duplicated-segment removal (Wenzek et al. 2020 §3:
    * paragraph-hash dedup): cut each document into fixed
    * `segWords`-word segments, keep only the corpus-wide FIRST
    * occurrence of each distinct segment (ordered by `idCol`, then
    * segment position), and reassemble every document from its
    * surviving segments. This removes cross-document boilerplate —
    * headers, navigation, license blurbs — that document-level
    * near-dup (q48/q49) cannot touch because the surrounding text
    * differs.
    *
    * Returns one row per non-empty document: `n_segs`, `n_kept`,
    * `dup_frac`, `dedup_text` (surviving segments in original
    * order; empty when every segment was seen earlier).
    *
    * Scale shape: shuffles keyed by the segment's md5 (the dedup
    * key: 16 fixed bytes, CCNet's own keying, so exchanges never
    * move long segment strings as keys) plus one by document id for
    * reassembly. First-occurrence selection is a
    * `groupBy(md5(seg)).agg(min(struct(doc_id, seg_idx)))` + join
    * back — NOT a window partitioned by the segment hash: partial
    * aggregation folds each partition's occurrences map-side to one
    * candidate row per segment, so a boilerplate segment repeated
    * 10⁸ times (cookie banners, license headers — precisely what
    * this operator removes) costs its reducer ONE row per upstream
    * partition instead of landing every occurrence on a single
    * hot task (the q80 window-skew class). No driver participation,
    * no corpus-sized collect. */
  def segmentDedup(
      docs: org.apache.spark.sql.DataFrame, segWords: Int = 8,
      idCol: String = "doc_id", textCol: String = "text")
      : org.apache.spark.sql.DataFrame = {
    val sw = lit(segWords)
    // Stage the word array once; guard the empty doc BEFORE sequence
    // (sequence(0, -1) descends — it never yields an empty range).
    val staged = docs.select(col(idCol).as("doc_id"),
      TextFunctions.words(col(textCol)).as("__ws"))
    val nSegs = ceil(size(col("__ws")).cast("double") / segWords).cast("int")
    val segList = when(size(col("__ws")) > 0,
      transform(sequence(lit(0), nSegs - 1),
        i => array_join(slice(col("__ws"), i * sw + 1, sw), " ")))
      .otherwise(array().cast("array<string>"))
    val segs = staged.select(col("doc_id"),
      posexplode(segList).as(Seq("seg_idx", "seg")))
      .withColumn("__h", md5(col("seg")))
    // winner per distinct segment: struct min == (doc_id, seg_idx)
    // lexicographic order, partial-aggregated map-side
    val firstSeen = segs.groupBy("__h")
      .agg(min(struct(col("doc_id"), col("seg_idx"))).as("__w"))
    // Join the winner set back by (doc_id, seg_idx) — NOT by __h: a
    // 10⁸-occurrence boilerplate segment is ONE __h join key (one
    // hot task unless AQE skew-split rescues it, a config
    // dependency) but 10⁸ DISTINCT (doc_id, seg_idx) keys, so this
    // join is skew-free by construction. Both sides are unique on
    // the key: the left has one row per occurrence, the right one
    // row per distinct segment (its winner). kept = winner exists.
    val winners = firstSeen
      .select(col("__w.doc_id").as("doc_id"),
        col("__w.seg_idx").as("seg_idx"), lit(true).as("__kept"))
    segs.join(winners, Seq("doc_id", "seg_idx"), "left")
      .withColumn("kept", coalesce(col("__kept"), lit(false)))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_segs"),
        count(when(col("kept"), 1)).as("n_kept"),
        round(lit(1.0) -
          count(when(col("kept"), 1)).cast("double") / count(lit(1)), 4)
          .as("dup_frac"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("kept"), struct(col("seg_idx"), col("seg"))))),
            s => s("seg")),
          " ").as("dedup_text"))
  }

  // ---- deterministic corpus shuffle + sharding ----------------------------

  /** Deterministic global shuffle-shard — the "shuffle the corpus
    * before training" step every pretraining pipeline runs so
    * sequential shard reads see an unbiased sample: each row gets a
    * pseudo-random order key `md5("shuf:" || id)`, its shard is the
    * key's first `hexDigits` hex chars (16^hexDigits shards), and
    * `pos` is its rank within the shard by (key, id). Seeded by the
    * literal prefix, so the permutation is reproducible run-to-run
    * and engine-to-engine (no `rand()`).
    *
    * Scale shape: one shuffle by shard + a per-shard sort — exactly
    * the physical work a sharded training-set writer must do anyway
    * (`repartition(shard).sortWithinPartitions(key)` is this plan);
    * at 100 TB raise `hexDigits` so a shard fits an executor (3 hex
    * digits = 4096 shards ≈ 25 GB/shard). The hash rank replaces a
    * global orderBy, which would funnel the corpus through a single
    * range-partitioner sample pass. */
  def shuffleShard(
      df: org.apache.spark.sql.DataFrame, idCol: String = "doc_id",
      hexDigits: Int = 1): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(hexDigits >= 1 && hexDigits <= 8, s"hexDigits $hexDigits")
    val keyed = df.select(col(idCol).as("doc_id"), shuffleKey(idCol).as("__k"))
    val shard = conv(substring(col("__k"), 1, hexDigits), 16, 10).cast("long")
    val w = Window.partitionBy("shard").orderBy(col("__k"), col("doc_id"))
    keyed.withColumn("shard", shard)
      .select(col("doc_id"), col("shard"),
        row_number().over(w).cast("long").as("pos"))
  }

  // ---- verifiable shard export --------------------------------------------

  /** The [[shuffleShard]] order key of a row — ONE definition shared
    * by the shuffle, the manifest, and the export writer, so the
    * written shard layout can never drift from the manifest the
    * consumer verifies against. */
  private def shuffleKey(idCol: String): Column =
    md5(concat(lit("shuf:"), col(idCol).cast("string")))

  /** Shard id = the order key's first `hexDigits` hex chars. */
  private def shardOf(idCol: String, hexDigits: Int): Column = {
    require(hexDigits >= 1 && hexDigits <= 8, s"hexDigits $hexDigits")
    conv(substring(shuffleKey(idCol), 1, hexDigits), 16, 10).cast("long")
  }

  /** Per-shard integrity manifest for a [[shuffleShard]]-keyed
    * export — the artifact a training-data handoff ships next to its
    * shards so the consumer can verify them without re-reading the
    * source: row count, an ORDER-FREE content hash
    * (`bit_xor` of a 60-bit md5 over the row image — XOR commutes,
    * so partition order and shuffle nondeterminism cannot change it,
    * and it never overflows), and the id range. The row image is
    * UNAMBIGUOUS: each column contributes its own fixed-width
    * md5 (or the non-hex token `null`), so no value can shift
    * content across a delimiter ('x:y','z' vs 'x','y:z') and null
    * vs absent vs the string "null" all hash distinctly. Any
    * dropped, duplicated, or altered row flips the hash. One
    * partial-aggregated `groupBy(shard)` — no sort, no window; the
    * q130 oracle recomputes every field bit-for-bit. */
  def shardManifest(
      df: org.apache.spark.sql.DataFrame, idCol: String = "doc_id",
      hashCols: Seq[String] = Seq("doc_id", "text"), hexDigits: Int = 1)
      : org.apache.spark.sql.DataFrame = {
    val rowH = graft.operators.Dedup.md5long(concat(
      lit("row:") +: hashCols.map(c =>
        coalesce(md5(col(c).cast("string")), lit("null"))): _*))
    df.select(shardOf(idCol, hexDigits).as("shard"), rowH.as("__h"),
        col(idCol).cast("long").as("__id"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_rows"),
        expr("bit_xor(__h)").as("content_hash"),
        min("__id").as("min_id"), max("__id").as("max_id"))
  }

  /** Write `df` as a shard-partitioned parquet export and return the
    * [[shardManifest]] the consumer verifies against. Shard
    * assignment is the [[shuffleShard]] md5 scheme (same [[shardOf]]
    * expression), so the export IS the shuffled corpus layout;
    * `partitionBy("shard")` gives one directory per shard for
    * sequential trainer reads. Parameters validate BEFORE the
    * destructive overwrite. ExportSpec proves the round trip: a
    * manifest recomputed from the written files equals the source
    * manifest, and any tampered row breaks the content hash. */
  def exportShards(
      df: org.apache.spark.sql.DataFrame, outDir: String,
      idCol: String = "doc_id",
      hashCols: Seq[String] = Seq("doc_id", "text"), hexDigits: Int = 1)
      : org.apache.spark.sql.DataFrame = {
    val shard = shardOf(idCol, hexDigits) // validates hexDigits first
    df.withColumn("shard", shard)
      .repartition(col("shard"))
      .write.partitionBy("shard").mode("overwrite").parquet(outDir)
    // manifest from the WRITTEN files, not the source plan: for a
    // non-deterministic source (re-read of a mutating directory,
    // nondeterministic columns) a source-recomputed manifest could
    // describe bytes that were never written (ADVICE r14) — the
    // handoff artifact must match the export by construction. An
    // EMPTY source writes no partition files at all (partitionBy
    // emits nothing), which schema inference cannot read — the
    // manifest of an empty export is the empty manifest (review r15
    // finding; the pre-r14 source-computed path returned the same).
    val manifest = (
      if (exportHasFiles(outDir))
        shardManifest(df.sparkSession.read.parquet(outDir).drop("shard"),
          idCol, hashCols, hexDigits)
      else emptyManifest(df.sparkSession)
    ).localCheckpoint()
    saveManifestSidecar(df.sparkSession, outDir, manifest)
    manifest
  }

  /** Does the export dir hold any data files? partitionBy writes
    * NOTHING (not even schema) for an empty frame, so readers must
    * branch rather than let parquet schema inference throw. */
  private[graft] def exportHasFiles(outDir: String): Boolean = {
    def walk(f: java.io.File): Boolean =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.exists(walk)
      else f.getName.endsWith(".parquet")
    walk(new java.io.File(outDir))
  }

  /** The manifest of an empty export, as a LOCAL relation: Catalyst
    * folds joins, filters and aggregates over it at plan time, so
    * consuming it costs no job. */
  private[graft] def emptyManifest(
      spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.DataFrame =
    spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      ManifestSchema)

  /** The manifest's columns, all longs (see [[shardManifest]]). Its
    * sidecar reads pass this schema: an inferred read costs a Spark
    * job per read just to learn it. */
  private val ManifestSchema = org.apache.spark.sql.types.StructType(
    Seq("shard", "n_rows", "content_hash", "min_id", "max_id").map(
      org.apache.spark.sql.types.StructField(_,
        org.apache.spark.sql.types.LongType)))

  /** Incremental re-export (r14 verdict task #7): [[exportShards]]
    * rewrites the FULL shard layout on every call — at 100 TB a
    * nightly refresh that touched 0.1% of documents would rewrite
    * 1000× its delta. This form diffs the desired manifest against
    * the manifest of the existing export (persisted as a sidecar at
    * export time) and rewrites ONLY the shards whose content
    * changed, via dynamic partition overwrite; unchanged shards'
    * files are left byte-identical on disk, and shards that lost all
    * their rows are deleted. Returns the new full manifest, with the
    * rewritten shards' entries recomputed from the WRITTEN files
    * (partition-pruned read) and the untouched shards' entries
    * carried from the sidecar — so the round-trip property holds:
    * a manifest recomputed from the export equals the returned one.
    *
    * Requires a DETERMINISTIC source: the diff compares content
    * hashes computed from the source plan, so a source whose rows
    * change between the diff and the write would mis-scope the
    * rewrite (the same contract as every incremental screen; the
    * full [[exportShards]] has no such requirement).
    *
    * First call on an un-manifested directory falls back to the full
    * export. Write amplification is O(changed shards); read work is
    * one thin manifest pass over the source + a partition-pruned
    * re-read of the rewritten shards. */
  def exportShardsIncremental(
      df: org.apache.spark.sql.DataFrame, outDir: String,
      idCol: String = "doc_id",
      hashCols: Seq[String] = Seq("doc_id", "text"), hexDigits: Int = 1)
      : org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    val sideDir = manifestSidecarDir(outDir)
    if (!new java.io.File(sideDir).isDirectory)
      return exportShards(df, outDir, idCol, hashCols, hexDigits)
    val prev = spark.read.schema(ManifestSchema).parquet(sideDir)
      .localCheckpoint()
    val desired = shardManifest(df, idCol, hashCols, hexDigits)
      .localCheckpoint()
    val manifestCols = Seq("shard", "n_rows", "content_hash",
      "min_id", "max_id")
    // changed = new shard OR any manifest field differs
    val changed = desired.join(prev, manifestCols, "left_anti")
      .select("shard").collect().map(_.getLong(0)).toSeq
    val removed = prev.join(desired, Seq("shard"), "left_anti")
      .select("shard").collect().map(_.getLong(0)).toSeq
    removed.foreach { s =>
      graft.engine.FsUtil.deleteRecursively(
        new java.io.File(outDir, s"shard=$s"))
    }
    val finalManifest =
      if (changed.isEmpty) desired
      else {
        val shard = shardOf(idCol, hexDigits)
        // dynamic partition overwrite: ONLY the listed shards'
        // directories are replaced; every other partition's files
        // are untouched (the conf is scoped and restored — leaving
        // dynamic mode on would change unrelated writers' overwrite
        // semantics)
        val modeKey = "spark.sql.sources.partitionOverwriteMode"
        val prior = spark.conf.get(modeKey)
        try {
          spark.conf.set(modeKey, "dynamic")
          df.withColumn("shard", shard)
            .filter(col("shard").isin(changed: _*))
            .repartition(col("shard"))
            .write.partitionBy("shard").mode("overwrite").parquet(outDir)
        } finally spark.conf.set(modeKey, prior)
        // rewritten shards' entries from the WRITTEN files
        // (partition-pruned read — the exportShards ADVICE contract),
        // untouched shards' entries carried from the sidecar
        val rewritten = shardManifest(
          spark.read.parquet(outDir)
            .filter(col("shard").isin(changed: _*)).drop("shard"),
          idCol, hashCols, hexDigits)
        prev.filter(!col("shard").isin(removed ++ changed: _*))
          .select(manifestCols.map(col): _*)
          .unionByName(rewritten.select(manifestCols.map(col): _*))
      }
    val out = finalManifest.localCheckpoint()
    saveManifestSidecar(spark, outDir, out)
    out
  }

  /** Apply a RETIRE/ADMIT delta to an existing shard export without
    * ever reading the source corpus (r15 verdict task #1: the
    * [[exportShardsIncremental]] path still re-aggregates the desired
    * manifest over the FULL source per call — right for "make the
    * export equal this frame", wrong for a nightly refresh that
    * already knows its delta). Work here is O(touched shards):
    *
    *   1. the touched-shard set = shards of `retireIds` ∪ shards of
    *      `admitRows` — a driver value bounded by 16^hexDigits, never
    *      by the corpus;
    *   2. ONLY those shards' current rows are read (directory-level
    *      partition pruning), retired ids anti-join out, admitted
    *      rows union in (upsert by id: an admitted id replaces any
    *      same-id survivor);
    *   3. the rewrite is a dynamic partition overwrite of exactly the
    *      touched shard dirs; shards left empty are deleted;
    *   4. the returned manifest recomputes the touched shards'
    *      entries from the WRITTEN files (partition-pruned read — the
    *      exportShards ADVICE contract) and carries every untouched
    *      entry from the sidecar, so the round-trip property holds:
    *      a manifest recomputed from the export equals the returned
    *      one.
    *
    * An empty delta touches zero files and returns the sidecar
    * manifest as-is. Requires a directory already provisioned by
    * [[exportShards]]/[[exportShardsIncremental]] (the manifest
    * sidecar is the carry base), and DETERMINISTIC delta frames
    * (both are pinned here via localCheckpoint, so callers may pass
    * lazy plans). */
  def exportApplyDelta(
      spark: org.apache.spark.sql.SparkSession, outDir: String,
      retireIds: org.apache.spark.sql.DataFrame,
      admitRows: org.apache.spark.sql.DataFrame,
      idCol: String = "doc_id",
      hashCols: Seq[String] = Seq("doc_id", "text"), hexDigits: Int = 1)
      : org.apache.spark.sql.DataFrame = {
    val sideDir = manifestSidecarDir(outDir)
    require(new java.io.File(sideDir).isDirectory,
      s"exportApplyDelta($outDir): no manifest sidecar — provision the " +
        "export with exportShards/exportShardsIncremental first")
    val manifestCols = Seq("shard", "n_rows", "content_hash",
      "min_id", "max_id")
    val prev = spark.read.schema(ManifestSchema).parquet(sideDir)
      .select(manifestCols.map(col): _*).localCheckpoint()
    val shard = shardOf(idCol, hexDigits)
    val retire = retireIds
      .select(col(idCol).cast("string").as("__rid"), shard.as("__rs"))
      .localCheckpoint()
    val admit = admitRows.localCheckpoint()
    val touched = retire.select(col("__rs").as("shard"))
      .unionByName(admit.select(shard.as("shard")))
      .distinct().collect().map(_.getLong(0)).toSeq
    if (touched.isEmpty) return prev
    val current =
      if (exportHasFiles(outDir))
        spark.read.parquet(outDir)
          .filter(col("shard").isin(touched: _*)).drop("shard")
          .select(admit.columns.map(col): _*)
      else admit.limit(0)
    // upsert: survivors = current minus retired ids minus admitted ids
    val survivors = current
      .join(retire.select("__rid"),
        current(idCol).cast("string") === col("__rid"), "left_anti")
      .join(admit.select(col(idCol).cast("string").as("__aid")),
        current(idCol).cast("string") === col("__aid"), "left_anti")
    // localCheckpoint cuts the lineage back to the files being
    // overwritten (the ParquetTableTarget.apply pattern)
    val newData = survivors.unionByName(admit)
      .withColumn("shard", shard)
      .localCheckpoint()
    val withData = newData.select("shard").distinct()
      .collect().map(_.getLong(0)).toSet
    if (withData.nonEmpty) {
      val modeKey = "spark.sql.sources.partitionOverwriteMode"
      val prior = spark.conf.get(modeKey)
      try {
        spark.conf.set(modeKey, "dynamic")
        newData.repartition(col("shard"))
          .write.partitionBy("shard").mode("overwrite").parquet(outDir)
      } finally spark.conf.set(modeKey, prior)
    }
    // dynamic overwrite only replaces partitions PRESENT in the new
    // data — a touched shard whose rows all retired must be cleared
    // explicitly or its old files survive
    touched.filterNot(withData).foreach { s =>
      graft.engine.FsUtil.deleteRecursively(
        new java.io.File(outDir, s"shard=$s"))
    }
    val rewritten =
      if (withData.isEmpty) emptyManifest(spark)
      else shardManifest(
        spark.read.parquet(outDir)
          .filter(col("shard").isin(withData.toSeq: _*)).drop("shard"),
        idCol, hashCols, hexDigits)
    val out = prev.filter(!col("shard").isin(touched: _*))
      .unionByName(rewritten.select(manifestCols.map(col): _*))
      .localCheckpoint()
    saveManifestSidecar(spark, outDir, out)
    out
  }

  /** The export's persisted manifest (the sidecar), without touching
    * the data files — the O(1) way a refresh learns the corpus size
    * and shard population it maintains. None before first export. */
  def readManifest(
      spark: org.apache.spark.sql.SparkSession, outDir: String)
      : Option[org.apache.spark.sql.DataFrame] = {
    val d = manifestSidecarDir(outDir)
    if (new java.io.File(d).isDirectory)
      Some(spark.read.schema(ManifestSchema).parquet(d))
    else None
  }

  /** The export's manifest sidecar (one thin row per shard), written
    * next to the export dir — the diff base [[exportShardsIncremental]]
    * compares against, persisted only AFTER the data write so a
    * failed export can never relabel the directory. */
  private def manifestSidecarDir(outDir: String): String = {
    val d = new java.io.File(outDir).getAbsoluteFile
    new java.io.File(d.getParentFile, d.getName + "._graft_manifest")
      .getPath
  }

  private def saveManifestSidecar(
      spark: org.apache.spark.sql.SparkSession, outDir: String,
      manifest: org.apache.spark.sql.DataFrame): Unit =
    manifest.coalesce(1).write.mode("overwrite")
      .parquet(manifestSidecarDir(outDir))

  // ---- cross-document duplicated-ngram fraction -----------------------------

  /** Per-document fraction of word n-grams that also occur in at
    * least one OTHER document — the corpus-level duplication signal
    * quality pipelines threshold on (Dolma/RedPajama's
    * "fraction of content in duplicated n-grams"), complementing the
    * WITHIN-doc repetition stats ([[topBigramFraction]] family) and
    * the span-level surgery ([[graft.operators.Dedup.
    * exactSubstringSpans]]). Returns
    * `(doc_id, n_grams, n_dup, dup_frac)`; docs with fewer than `n`
    * words report zero grams and fraction 0.
    *
    * Scale shape: distinct grams per doc ([[graft.operators.Dedup.
    * shingleStringsUdf]]) explode once; doc frequency is a
    * partial-aggregated `groupBy(gram).count` (a boilerplate gram in
    * 10⁸ docs costs each map task ONE partial row); the join back to
    * per-doc grams is an equi-join on the gram — AQE skew-split
    * territory for pathologically hot grams, same adjudication as
    * exactSubstringSpans. */
  def crossDocNgramDupFraction(
      docs: org.apache.spark.sql.DataFrame, n: Int = 3,
      idCol: String = "doc_id", textCol: String = "text")
      : org.apache.spark.sql.DataFrame = {
    val grams = docs
      .select(col(idCol).as("doc_id"),
        graft.operators.Dedup.shingleStringsUdf(n)(col(textCol)).as("sh"))
      .select(col("doc_id"), explode_outer(col("sh")).as("g"))
    // shingles are DISTINCT per doc, so count(*) per gram IS the
    // document frequency — no countDistinct shuffle needed
    val dfreq = grams.filter(col("g").isNotNull)
      .groupBy("g").agg(count(lit(1)).as("__df"))
    grams
      .join(dfreq, Seq("g"), "left_outer")
      .groupBy("doc_id")
      .agg(
        count(col("g")).as("n_grams"),
        count(when(col("__df") > 1, 1)).as("n_dup"))
      .withColumn("dup_frac",
        when(col("n_grams") > 0,
          round(col("n_dup").cast("double") / col("n_grams"), 4))
          .otherwise(lit(0.0)))
  }

  // ---- snapshot-over-snapshot corpus diff -----------------------------------

  /** Per-document diff of two corpus snapshots — the crawl-ops
    * report run before an incremental refresh ([[graft.operators.
    * Dedup.incrementalDedup]] family ingests the `added`/`changed`
    * slice; the engine-internal analog is connectorkits' statediff):
    * `(id, status)` with status ∈ added | removed | changed |
    * unchanged, change detection by md5 of the content column
    * (null content uses the manifest's non-hex sentinel, so
    * null-vs-null compares unchanged and null-vs-text compares
    * changed). One full-outer equi-join on the id — the canonical
    * diff shuffle; at 100 TB co-locate the snapshots by bucketing on
    * the id ([[Scale.Bucketing]]) and the join runs exchange-free. */
  def corpusDiff(
      oldDf: org.apache.spark.sql.DataFrame,
      newDf: org.apache.spark.sql.DataFrame,
      idCol: String = "doc_id", textCol: String = "text")
      : org.apache.spark.sql.DataFrame = {
    def side(df: org.apache.spark.sql.DataFrame, h: String) =
      df.select(col(idCol).as("id"),
        coalesce(md5(col(textCol).cast("string")), lit("null")).as(h))
    side(oldDf, "__oh").join(side(newDf, "__nh"), Seq("id"), "full_outer")
      .select(col("id"),
        when(col("__oh").isNull, "added")
          .when(col("__nh").isNull, "removed")
          .when(col("__oh") =!= col("__nh"), "changed")
          .otherwise("unchanged").as("status"))
  }

  // ---- temperature-flattened mixture resampling ----------------------------

  /** Temperature (α) resampling of a multi-domain corpus — the
    * mixture-flattening step of multilingual/multi-source
    * pretraining (XLM-R §3.1, mT5 §3.2): target share of domain d is
    * `n_d^α / Σ n_e^α`, realized as the LARGEST subsample with those
    * proportions — the most-downweighted domain keeps fraction 1 and
    * every other domain keeps `keep_frac_d < 1`, decided per row by
    * a deterministic md5 draw (no `rand()`; reproducible
    * run-to-run and engine-to-engine). α = 1 keeps everything; α = 0
    * equalizes domains; α = 0.5 is the gate setting, where the
    * weight is IEEE-exact `sqrt` in every engine. Other α use `pow`,
    * whose last-ulp rounding is not standardized across libms — the
    * 10⁻⁶ weight quantization makes a cross-engine flip
    * measure-zero-rare, not impossible (same caveat class as the
    * IVF cosine note, Similarity.scala).
    *
    * Non-destructive, [[keepBest]]-style: adds `keep_frac` (the
    * domain's sampling fraction) and `kept`. Scale shape: one tiny
    * per-domain count (partial-aggregated), two scalar aggs, a
    * broadcast join back, and a per-row hash filter inside the scan
    * stage — no corpus shuffle. Weight arithmetic is quantized to
    * integers (`floor(w·10⁶)`) before the order-sensitive sum, so
    * `Σ q_d` is an order-free long sum and every derived double is a
    * pure function of per-domain scalars — the q125 oracle replays
    * the whole derivation bit-for-bit. */
  def temperatureResample(
      df: org.apache.spark.sql.DataFrame, domainCol: String,
      idCol: String = "doc_id", alpha: Double = 0.5)
      : org.apache.spark.sql.DataFrame = {
    require(alpha >= 0.0 && alpha <= 1.0, s"alpha $alpha outside [0,1]")
    val nD = col("__n").cast("double")
    val w = if (alpha == 0.5) sqrt(nD) else pow(nD, lit(alpha))
    val counts = df.groupBy(col(domainCol).as("__dom"))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__q", floor(w * lit(1e6)).cast("long"))
    val stats = counts.agg(sum("__q").as("__sq"), sum("__n").as("__sn"))
    val ratios = counts.crossJoin(broadcast(stats))
      .withColumn("__r",
        (col("__q").cast("double") * col("__sn")) /
          (col("__sq").cast("double") * col("__n")))
    val mx = ratios.agg(max("__r").as("__m"))
    val fracs = ratios.crossJoin(broadcast(mx))
      .select(col("__dom"), (col("__r") / col("__m")).as("keep_frac"))
    val h = conv(substring(
      md5(concat(lit("tr:"), col(idCol).cast("string"))), 1, 15), 16, 10)
      .cast("long")
    // null-safe: a null domain is its own group (dirty metadata rows
    // must come back with a keep decision, not silently vanish — the
    // non-destructive keepBest-style contract)
    df.join(broadcast(fracs), df(domainCol) <=> fracs("__dom"))
      .drop("__dom")
      .withColumn("kept",
        h < floor(col("keep_frac") * lit(1152921504606846976.0 /* 2^60 */))
          .cast("long"))
  }

  // ---- leakage-safe train/val/test split -----------------------------------

  /** Train/val/test assignment that can never leak a near-duplicate
    * across splits: documents are clustered by
    * [[Dedup.fuzzyDedupKeep]] (MinHash near-dup connected
    * components) and the md5 split draw is taken on the CLUSTER
    * canonical id, so every member of a duplicate cluster lands in
    * the same split — the standard guard against test contamination
    * by paraphrased/re-crawled training docs (a per-doc hash split,
    * q61-style, leaks here by construction). `cuts` are cumulative
    * fractions; the draw reuses [[hexThreshold]] string compare.
    * Returns `(doc_id, canonical_id, split)`.
    *
    * Scale shape: inherits the banded-equi-join pair generation and
    * pointer-jumping components of the dedup stack; the split draw
    * itself is a per-row hash — no extra shuffle beyond the
    * clustering. */
  def leakageSafeSplit(
      docs: org.apache.spark.sql.DataFrame, threshold: Double,
      cuts: Seq[(String, Double)] =
        Seq("train" -> 0.8, "val" -> 0.9, "test" -> 1.0),
      idCol: String = "doc_id", textCol: String = "text")
      : org.apache.spark.sql.DataFrame = {
    require(cuts.nonEmpty && cuts.last._2 >= 1.0,
      s"cuts must cover [0,1]: $cuts")
    // misordered cuts (train→0.9, val→0.8) silently make a later
    // label unreachable — fail loudly instead (ADVICE r14)
    require(cuts.map(_._2) == cuts.map(_._2).sorted,
      s"cut fractions must be non-decreasing: $cuts")
    require(cuts.forall(_._2 > 0.0),
      s"cut fractions must be positive: $cuts")
    val clustered =
      Dedup.fuzzyDedupKeep(docs, threshold, idCol = idCol, textCol = textCol)
    val draw = md5(concat(lit("split:"), col("canonical_id").cast("string")))
    val split = cuts.init.foldRight(lit(cuts.last._1)) {
      case ((name, cut), e) => when(draw < hexThreshold(cut), name)
        .otherwise(e)
    }
    clustered.select(col("doc_id"), col("canonical_id"), split.as("split"))
  }

  // ---- URL canonicalization + URL-level dedup ------------------------------

  /** Canonical form of a crawled URL — the normalization every
    * web-corpus pipeline (C4, CCNet, RefinedWeb) applies before
    * URL-level dedup, so that re-crawls of the same page under
    * trivially-different raw URLs collapse to one key:
    *
    *   - drop the `#fragment` (client-side only, never a different
    *     resource);
    *   - lowercase the scheme and host (case-insensitive per RFC
    *     3986 §3.1/§3.2.2); path and query keep their case;
    *   - strip the scheme's default port (`:80` for http, `:443` for
    *     https);
    *   - drop tracking query parameters (`dropParams` regexes over
    *     the param NAME — default `utm_*`, `fbclid`, `gclid`), sort
    *     the survivors lexicographically, re-join with `&`; an empty
    *     survivor set drops the `?` entirely;
    *   - strip one trailing `/` from the path (so `/docs/1/` ≡
    *     `/docs/1`, and a bare host's `/` ≡ the empty path).
    *
    * Pure Catalyst string/array functions — fully codegen'd, and
    * every step has an exact DuckDB counterpart, so the q122 gate is
    * value-exact. At 100 TB this is a per-row map: no shuffle, no
    * UDF, nothing driver-side. */
  def canonicalizeUrl(
      u: Column,
      dropParams: Seq[String] = Seq("utm_[^=]*", "fbclid", "gclid"))
      : Column = {
    val prefixRx = "^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*"
    val noFrag = regexp_replace(u, "#.*$", "")
    val rawPrefix = regexp_extract(noFrag, prefixRx, 0)
    val low = lower(rawPrefix)
    val prefix =
      when(low.startsWith("http://"), regexp_replace(low, ":80$", ""))
        .when(low.startsWith("https://"), regexp_replace(low, ":443$", ""))
        .otherwise(low)
    val rest = noFrag.substr(length(rawPrefix) + 1, length(noFrag))
    val path = regexp_replace(regexp_replace(rest, "\\?.*$", ""), "/$", "")
    val qs = when(rest.contains("?"), regexp_extract(rest, "\\?(.*)$", 1))
      .otherwise(lit(""))
    // dropParams entries are REGEXES over the parameter NAME. An
    // empty seq must mean "drop nothing": naively joining it yields
    // "^()=" which matches any param whose name is empty (a raw
    // "?=v"), silently dropping it (ADVICE r14).
    val dropName: Column => Column =
      if (dropParams.isEmpty) _ => lit(false)
      else {
        val dropRx = "^(" + dropParams.mkString("|") + ")="
        p => p.rlike(dropRx)
      }
    val kept = array_sort(filter(split(qs, "&"),
      p => p =!= "" && !dropName(p)))
    val joined = array_join(kept, "&")
    concat(prefix, path,
      when(joined =!= "", concat(lit("?"), joined)).otherwise(lit("")))
  }

  /** URL-level dedup over [[canonicalizeUrl]] keys: one row per
    * canonical URL with the duplicate count and the kept (smallest
    * `idCol`) document. A plain partial-aggregated `groupBy` — the
    * hot-key-safe shape: a URL re-crawled 10⁸ times costs each map
    * task one partial row, and `min`/`count` need no join-back. */
  def urlDedup(
      docs: org.apache.spark.sql.DataFrame, urlCol: String,
      idCol: String = "doc_id",
      dropParams: Seq[String] = Seq("utm_[^=]*", "fbclid", "gclid"))
      : org.apache.spark.sql.DataFrame =
    docs
      .select(canonicalizeUrl(col(urlCol), dropParams).as("url"),
        col(idCol))
      .groupBy("url")
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("kept_doc_id"))
}
