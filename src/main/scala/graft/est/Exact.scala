package graft.est

import graft.query.Pred
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The classical (non-learned) estimators from the reference's suite
  * (estimators.py), each expressed as a *DataFrame program* so the
  * estimate itself is computed in the engine — scan, filter, and
  * aggregation all stay distributed and whole-stage-codegen'd; nothing
  * but the final scalar row reaches the driver.
  */
object Exact {

  /** Reference `Oracle` (estimators.py:505-536): exact COUNT(*) under the
    * conjunction. Catalyst plans scan+filter+partial/final count; the
    * filter is pushed into the parquet scan.
    */
  def oracle(df: DataFrame, preds: Seq[Pred]): DataFrame =
    df.filter(Pred.conj(preds)).agg(count(lit(1)).as("card"))

  def oracleSql(table: String, preds: Seq[Pred]): String =
    s"SELECT count(*) AS card FROM $table WHERE ${Pred.whereSql(preds)}"

  /** Reference `Oracle`'s data-shift mode (estimators.py:512-515): count
    * matches within only the FIRST `firstN` rows in table (file) order —
    * used to evaluate a model trained on a data prefix against the truth
    * over that same prefix. The scan is coalesced to ONE task so `limit`
    * takes a deterministic prefix: over a multi-partition scan a
    * non-terminal GlobalLimit picks whichever partitions' rows arrive
    * first, which is neither file order nor deterministic. "First n
    * rows" is inherently sequential — the single task reads only ~firstN
    * rows thanks to the local limit, so this costs O(firstN), not a full
    * single-threaded scan.
    *
    * VALIDITY: "file order" is well-defined only for a SINGLE-file (or
    * single-split) table. With several input files Spark packs splits
    * sorted by size descending — the coalesced prefix is deterministic
    * but not the files' on-disk order, and a SQL oracle's
    * `LIMIT n` without ORDER BY is likewise order-unspecified — so the
    * operator warns and cross-engine prefix comparison should not be
    * relied on. (A total order would need an explicit row key; the
    * reference's own mode reads one CSV sequentially.)
    */
  def oracleFirstN(df: DataFrame, preds: Seq[Pred], firstN: Int): DataFrame = {
    if (df.inputFiles.length > 1)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"oracleFirstN over ${df.inputFiles.length} input files: the " +
          "prefix is deterministic but not on-disk file order, and a SQL " +
          "LIMIT-without-ORDER-BY oracle may disagree. Use a single-file " +
          "table (or an explicit sort key) for cross-engine comparison.")
    df.coalesce(1).limit(firstN)
      .filter(Pred.conj(preds)).agg(count(lit(1)).as("card"))
  }

  def oracleFirstNSql(table: String, preds: Seq[Pred], firstN: Int): String =
    s"SELECT count(*) AS card FROM (SELECT * FROM $table LIMIT $firstN) " +
      s"WHERE ${Pred.whereSql(preds)}"

  /** Reference `Heuristic` (estimators.py:480-502): attribute-value-
    * independence — product of per-column selectivities × N, computed in
    * ONE scan via count-if aggregates (no per-predicate passes).
    * `ceil` mirrors estimators.py:502; arithmetic order is kept identical
    * in [[heuristicSql]] so both engines produce the same IEEE result.
    */
  def heuristic(df: DataFrame, preds: Seq[Pred]): DataFrame = {
    val n = count(lit(1))
    val sel = preds.zipWithIndex.map { case (p, i) =>
      (sum(when(p.toColumn, 1L).otherwise(0L)) / n).as(s"s$i")
    }
    val prod = preds.indices.map(i => col(s"s$i")).reduce(_ * _)
    df.agg(n.as("n"), sel: _*)
      .select(ceil(col("n") * prod).cast("long").as("est_card"))
  }

  def heuristicSql(table: String, preds: Seq[Pred]): String = {
    val sels = preds.zipWithIndex.map { case (p, i) =>
      s"sum(CASE WHEN ${p.toSql} THEN 1 ELSE 0 END) / count(*) AS s$i"
    }.mkString(", ")
    // parenthesized so DuckDB evaluates n * ((s0*s1)*s2) — the exact IEEE
    // association order Spark's `col("n") * (s0*s1*s2)` produces.
    val prod = preds.indices.map(i => s"s$i").mkString(" * ")
    s"SELECT CAST(ceil(n * ($prod)) AS BIGINT) AS est_card FROM " +
      s"(SELECT count(*) AS n, $sels FROM $table)"
  }

  /** Reference `Sampling` (estimators.py:584-616), made deterministic and
    * DuckDB-reproducible: the "sample" is the systematic subset
    * `key % modulus = 0` (instead of a seeded RNG sample, whose stream is
    * engine-specific). Estimate = ceil(matches / sampleSize * N), as in
    * estimators.py:613-616. One scan computes N, sample size and matches.
    */
  def systematicSampling(df: DataFrame, keyExpr: Column, modulus: Int,
      preds: Seq[Pred]): DataFrame = {
    val inSample = pmod(keyExpr, lit(modulus)) === 0
    df.agg(
      count(lit(1)).as("n"),
      sum(when(inSample, 1L).otherwise(0L)).as("ns"),
      sum(when(inSample && Pred.conj(preds), 1L).otherwise(0L)).as("m"))
      .select(ceil(col("m") / col("ns") * col("n"))
        .cast("long").as("est_card"))
  }

  def systematicSamplingSql(table: String, keySql: String, modulus: Int,
      preds: Seq[Pred]): String =
    s"SELECT CAST(ceil(m / ns * n) AS BIGINT) AS est_card FROM (" +
      s"SELECT count(*) AS n, " +
      s"sum(CASE WHEN ($keySql) % $modulus = 0 THEN 1 ELSE 0 END) AS ns, " +
      s"sum(CASE WHEN ($keySql) % $modulus = 0 AND (${Pred.whereSql(preds)}) " +
      s"THEN 1 ELSE 0 END) AS m FROM $table)"

  /** Reference `Sampling` proper (estimators.py:584-616): a seeded
    * uniform Bernoulli sample (`df.sample`), estimate =
    * ceil(matches/sampleSize × N). Spark's sample is seed-stable for a
    * fixed plan but its RNG stream is engine-specific, so this variant
    * is not DuckDB-checkable — [[systematicSampling]] is the
    * oracle-checked twin.
    */
  def uniformSampling(df: DataFrame, fraction: Double, seed: Long,
      preds: Seq[Pred]): DataFrame = {
    val sample = df.sample(withReplacement = false, fraction, seed)
    val n = df.count()
    sample.agg(
      count(lit(1)).as("ns"),
      sum(when(Pred.conj(preds), 1L).otherwise(0L)).as("m"))
      .select(ceil(col("m") / col("ns") * lit(n))
        .cast("long").as("est_card"))
  }

  /** Engine-portable seeded Bernoulli sampling: membership is decided
    * by md5 of the row's key (+ seed salt), not an RNG stream. At scale
    * this is the *right* sampler anyway — any worker, any engine, any
    * partition layout recomputes the same sample with zero coordination
    * (the RNG-stream formulation in [[uniformSampling]] is tied to one
    * engine's partition-indexed generator) — and it makes the whole
    * estimate hash-checkable cross-engine. The first 8 md5 hex chars
    * give a uniform 32-bit value; `bucket < permille` of 1000 selects a
    * permille-fraction sample. Estimate = ceil(matches/sampleSize × N),
    * the reference Sampling convention (estimators.py:584-616).
    */
  def hashSampling(df: DataFrame, keyExpr: Column, permille: Int,
      seed: Long, preds: Seq[Pred]): DataFrame = {
    val bucket = pmod(conv(substring(
      md5(concat(keyExpr.cast("string"), lit(s":$seed"))), 1, 8), 16, 10)
      .cast("long"), lit(1000L))
    val inSample = bucket < permille
    df.agg(
      count(lit(1)).as("n"),
      sum(when(inSample, 1L).otherwise(0L)).as("ns"),
      sum(when(inSample && Pred.conj(preds), 1L).otherwise(0L)).as("m"))
      .select(ceil(col("m") / col("ns") * col("n"))
        .cast("long").as("est_card"))
  }

  def hashSamplingSql(table: String, keySql: String, permille: Int,
      seed: Long, preds: Seq[Pred]): String = {
    val bucket = s"CAST(('0x' || substr(md5(CAST($keySql AS VARCHAR) " +
      s"|| ':$seed'), 1, 8)) AS BIGINT) % 1000"
    s"SELECT CAST(ceil(m / ns * n) AS BIGINT) AS est_card FROM (" +
      s"SELECT count(*) AS n, " +
      s"sum(CASE WHEN $bucket < $permille THEN 1 ELSE 0 END) AS ns, " +
      s"sum(CASE WHEN $bucket < $permille AND (${Pred.whereSql(preds)}) " +
      s"THEN 1 ELSE 0 END) AS m FROM $table)"
  }

  /** Reference `QueryRegionSize` (estimators.py:539-564): product over
    * queried columns of the number of domain values satisfying the
    * predicate. Per-column distinct counts in one pass each (cheap; domain
    * columns only), multiplied in the plan.
    */
  def queryRegionSize(df: DataFrame, preds: Seq[Pred]): DataFrame = {
    val counts = preds.zipWithIndex.map { case (p, i) =>
      countDistinct(when(p.toColumn, col(p.col))).as(s"d$i")
    }
    val prod = preds.indices.map(i => col(s"d$i")).reduce(_ * _)
    df.agg(counts.head, counts.tail: _*)
      .select(prod.cast("long").as("region_size"))
  }

  def queryRegionSizeSql(table: String, preds: Seq[Pred]): String = {
    val counts = preds.zipWithIndex.map { case (p, i) =>
      s"count(DISTINCT CASE WHEN ${p.toSql} THEN ${p.col} END) AS d$i"
    }.mkString(", ")
    val prod = preds.indices.map(i => s"d$i").mkString(" * ")
    s"SELECT CAST($prod AS BIGINT) AS region_size FROM " +
      s"(SELECT $counts FROM $table)"
  }

  /** Reference `Const` (estimators.py:567-581). */
  def const(df: DataFrame, c: Long): DataFrame =
    df.sparkSession.range(1).select(lit(c).as("est_card"))
}
