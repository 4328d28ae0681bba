package graft

import graft.operators.Dedup
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The native codegen'd [[graft.functions.MinHashSigExpr]] must equal
  * the HOF composition it replaced: the q49/q114 oracles re-derive
  * every signature component in DuckDB from the same a/b/p literals,
  * so one divergent component changes a band code and the candidate
  * set. Integer-only arithmetic means equality is exact, not
  * approximate — any mismatch is a bug.
  */
class MinHashExprSpec extends SparkSpec {

  /** The pre-round-14 HOF composition, verbatim. */
  private def legacySig(hs: Column, numHashes: Int): Column = {
    val aLit = lit(Dedup.minHashA.take(numHashes))
    val bLit = lit(Dedup.minHashB.take(numHashes))
    transform(sequence(lit(0), lit(numHashes - 1)), i =>
      array_min(transform(hs, h =>
        (element_at(aLit, i + 1) * (h % Dedup.MinHashP) +
          element_at(bLit, i + 1)) % Dedup.MinHashP)))
  }

  /** The row-at-a-time derive-family UDF the codegen'd
    * [[graft.functions.MinHashDeriveSigExpr]] replaced, kept here as
    * the reference it is pinned against: the min scan over
    * [[graft.functions.Hashing.derive]], null on an empty input. */
  private def deriveUdf(numHashes: Int) = udf { sh: Seq[Long] =>
    if (sh.isEmpty) null.asInstanceOf[Array[Long]]
    else Array.tabulate(numHashes) { i =>
      var mn = Long.MaxValue
      var j = 0
      while (j < sh.length) {
        val x = graft.functions.Hashing.derive(sh(j), i)
        if (x < mn) mn = x
        j += 1
      }
      mn
    }
  }

  private def nativeSig(hs: Column, numHashes: Int): Column = {
    import org.apache.spark.sql.GraftExpressionBridge
    GraftExpressionBridge.column(graft.functions.MinHashSigExpr(
      GraftExpressionBridge.expression(hs),
      Dedup.minHashA.take(numHashes), Dedup.minHashB.take(numHashes),
      Dedup.MinHashP))
  }

  /** md5-derived long shingle sets of varying size, plus edge rows:
    * empty array, single element, an embedded null element. */
  private lazy val sets: DataFrame = {
    import spark.implicits._
    val base = spark.range(200).toDF("id")
      .withColumn("hs", transform(
        sequence(lit(0L), pmod(col("id"), lit(37L)) + 1L),
        j => conv(substring(md5(concat(col("id"), lit(":"), j)), 1, 15),
          16, 10).cast("long")))
    val edges = Seq(
      (1000L, Some(Seq.empty[Option[Long]])),
      (1001L, Some(Seq(Some(42L)))),
      (1002L, Some(Seq(Some(7L), None, Some(2147483646L)))),
      (1003L, None)
    ).toDF("id", "hs")
    base.unionByName(edges)
  }

  test("native == legacy HOF exactly (codegen), incl. edge rows") {
    for (k <- Seq(4, 32)) {
      val diff = sets
        .withColumn("ne", nativeSig(col("hs"), k))
        .withColumn("le", legacySig(col("hs"), k))
        .filter(!(col("ne") <=> col("le")))
      assert(diff.count() === 0, {
        val r = diff.select("id", "ne", "le").head(3).toSeq
        s"numHashes=$k divergent: ${r.mkString("; ")}"
      })
    }
  }

  test("native == legacy on the interpreted path") {
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val diff = sets
        .withColumn("ne", nativeSig(col("hs"), 32))
        .withColumn("le", legacySig(col("hs"), 32))
        .filter(!(col("ne") <=> col("le")))
      assert(diff.count() === 0)
    } finally {
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
      spark.conf.unset("spark.sql.codegen.wholeStage")
    }
  }

  // ---- the FNV/splitmix family (r19): expression ≡ UDF ---------------

  private def deriveNative(sh: Column, k: Int): Column = {
    import org.apache.spark.sql.GraftExpressionBridge
    GraftExpressionBridge.column(graft.functions.MinHashDeriveSigExpr(
      GraftExpressionBridge.expression(sh), k))
  }

  /** Non-null-element long arrays (the engine's shingle UDF emits
    * primitive longs — null elements are unreachable from callers)
    * plus the empty-array and null-input edges. */
  private lazy val deriveSets: DataFrame = {
    import spark.implicits._
    val base = spark.range(200).toDF("id")
      .withColumn("hs", transform(
        sequence(lit(0L), pmod(col("id"), lit(37L)) + 1L),
        j => conv(substring(md5(concat(col("id"), lit(":"), j)), 1, 15),
          16, 10).cast("long")))
    val edges = Seq(
      (1000L, Seq.empty[Long]),
      (1001L, Seq(42L)),
      (1002L, Seq(Long.MaxValue, Long.MinValue, -1L, 0L))
    ).toDF("id", "hs")
    base.unionByName(edges)
  }

  test("derive-family native == UDF exactly, incl. null-on-empty") {
    for (k <- Seq(4, 32)) {
      val diff = deriveSets
        .withColumn("ne", deriveNative(col("hs"), k))
        .withColumn("ue", deriveUdf(k)(col("hs")))
        .filter(!(col("ne") <=> col("ue")))
      assert(diff.count() === 0, {
        val r = diff.select("id", "ne", "ue").head(3).toSeq
        s"numHashes=$k divergent: ${r.mkString("; ")}"
      })
    }
    // null INPUT (unreachable from the engine's callers — the shingle
    // UDF never emits null): the expression contracts to null, like
    // the null-on-empty the callers' isNotNull filter relies on
    import spark.implicits._
    val nullRow = Seq((1L, Option.empty[Seq[Long]])).toDF("id", "hs")
      .select(deriveNative(col("hs"), 8).as("ne"))
    assert(nullRow.head.isNullAt(0))
  }

  test("derive-family native == UDF on the interpreted path") {
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val diff = deriveSets
        .withColumn("ne", deriveNative(col("hs"), 32))
        .withColumn("ue", deriveUdf(32)(col("hs")))
        .filter(!(col("ne") <=> col("ue")))
      assert(diff.count() === 0)
    } finally {
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
      spark.conf.unset("spark.sql.codegen.wholeStage")
    }
  }

  test("minHashNearDupMd5 end-to-end result unchanged on a planted corpus") {
    // 50 docs, every 10th a near-dup of its predecessor (the
    // DedupScale planting scheme): the pair set and Jaccard values
    // must come out exactly as the legacy signature path produced
    val docs = spark.range(50).toDF("id")
      .withColumn("base", when(col("id") % 10 === 9, col("id") - 1)
        .otherwise(col("id")))
      .withColumn("doc_id", col("id"))
      .withColumn("text", concat_ws(" ",
        when(col("id") % 10 === 9,
          substring(md5(concat(lit("x:"), col("id"))), 1, 8))
          .otherwise(substring(md5(concat(lit("w:"), col("base"), lit(":0"))), 1, 8)) +:
          (1 until 40).map(j =>
            substring(md5(concat(lit("w:"), col("base"), lit(s":$j"))), 1, 8)): _*))
      .select("doc_id", "text")
    val pairs = Dedup.minHashNearDupMd5(docs, threshold = 0.7)
      .orderBy("doc_a", "doc_b").collect()
    assert(pairs.length === 5)
    pairs.zipWithIndex.foreach { case (r, idx) =>
      assert(r.getLong(0) === idx * 10 + 8 && r.getLong(1) === idx * 10 + 9)
      assert(math.abs(r.getDouble(2) - 0.9487) < 1e-9,
        s"jaccard ${r.getDouble(2)}")
    }
  }
}
