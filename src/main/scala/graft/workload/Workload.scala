package graft.workload

import graft.core.TableMeta
import graft.query.{Op, Pred}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded query-workload generator + q-error evaluation harness — the
  * Spark re-expression of reference eval_model.py:165-217 (generator +
  * metric) and 258-375 (RunN / RunNParallel / report).
  */
object Workload {

  /** q-error (reference ErrorMetric, eval_model.py:165-172): max of the
    * two ratios, with the zero-cardinality conventions. */
  def qError(est: Double, truth: Double): Double =
    if (truth == 0 && est != 0) est
    else if (truth != 0 && est == 0) truth
    else if (truth == 0 && est == 0) 1.0
    else math.max(est / truth, truth / est)

  /** Deterministic anchor rows for the generator (the analog of
    * `table.data.iloc[rng.randint(N)]`, eval_model.py:180): a systematic
    * `hash % k == 0` subset, ordered, bounded — never a full collect.
    */
  def anchorRows(df: DataFrame, cols: Seq[String], n: Int): Array[Array[Any]] = {
    // The slice hashes the projected VALUES, so its density scales with
    // the table's distinct value-tuple count, not its row count — derive
    // the modulus from an approximate distinct count (one pass) instead
    // of a row-count guess, which on heavily duplicated tables selected
    // nothing and paid a rescan per widening retry. The widening loop
    // stays as the guaranteed-termination fallback (k = 1 selects
    // every tuple); approx_count_distinct is deterministic for fixed
    // data, so the workload stays reproducible.
    val distinctEst = df
      .agg(approx_count_distinct(hash(cols.map(col): _*)).as("d"))
      .head().getLong(0)
    var k = math.max(1L, distinctEst / math.max(1, n * 2))
    def slice(k: Long) = df.select(cols.map(col): _*)
      .filter(pmod(hash(cols.map(col): _*), lit(k)) === 0)
      .limit(n * 4)
      .collect()
    var sel = slice(k)
    while (sel.isEmpty && k > 1) {
      k = math.max(1L, k / 8)
      sel = slice(k)
    }
    sel.map(r => Array.tabulate(cols.length)(r.get)).toArray
  }

  /** Port of SampleTupleThenRandom/GenerateQuery (eval_model.py:175-217):
    * per query draw an anchor row, pick `numFilters` distinct columns
    * (numFilters ~ U[minFilters, maxFilters]), ops uniform from
    * {<=, >=, =} but forced to '=' for domains < 10 (eval_model.py:192-195),
    * literals = the anchor row's values. Null-valued picks are skipped
    * (a null literal matches nothing under the reference's semantics).
    */
  def generate(meta: TableMeta, cols: Seq[String], anchors: Array[Array[Any]],
      numQueries: Int, minFilters: Int, maxFilters: Int,
      seed: Long = 1234L): Seq[Seq[Pred]] = {
    require(anchors.nonEmpty, "no anchor rows")
    val rng = new java.util.Random(seed)
    val eligibleOps = Array[Op](Op.Leq, Op.Geq, Op.Eq)
    (0 until numQueries).map { _ =>
      val row = anchors(rng.nextInt(anchors.length))
      val nf = math.min(cols.length,
        minFilters + rng.nextInt(maxFilters - minFilters + 1))
      // choose nf distinct column indices
      val idxs = rng.ints(0, cols.length).distinct().limit(nf).toArray
      idxs.toSeq.flatMap { ci =>
        val cname = cols(ci)
        val v = row(ci)
        if (v == null) None
        else {
          val dom = meta.column(cname).distributionSize
          val op =
            if (dom < 10) Op.Eq
            else eligibleOps(rng.nextInt(eligibleOps.length))
          Some(Pred(cname, op, v))
        }
      }
    }.filter(_.nonEmpty)
  }

  /** Data-independent seeded workload over fixed, SF-invariant column
    * domains (TPC-H lineitem's small-domain columns carry the same value
    * sets at every scale factor). Pure function of (domains, seed) — so
    * the oracle SQL for its true cardinalities can be built before any
    * query runs, unlike [[generate]] whose anchors come from the table.
    * Keeps the reference's dom<10 forced-equality rule.
    */
  def generateFixed(domains: Seq[(String, IndexedSeq[Any])],
      numQueries: Int, minFilters: Int, maxFilters: Int,
      seed: Long = 1234L): Seq[Seq[Pred]] = {
    val rng = new java.util.Random(seed)
    val eligibleOps = Array[Op](Op.Leq, Op.Geq, Op.Eq)
    (0 until numQueries).map { _ =>
      val nf = math.min(domains.length,
        minFilters + rng.nextInt(maxFilters - minFilters + 1))
      val idxs = rng.ints(0, domains.length).distinct().limit(nf).toArray
      idxs.toSeq.map { ci =>
        val (cname, dom) = domains(ci)
        val v = dom(rng.nextInt(dom.length))
        val op =
          if (dom.length < 10) Op.Eq
          else eligibleOps(rng.nextInt(eligibleOps.length))
        Pred(cname, op, v)
      }
    }
  }

  /** Width cap per count-if aggregation (r18, VERDICT r17 #8). Two
    * cliffs live just past this: `spark.sql.codegen.maxFields` (100)
    * drops a wider aggregate out of whole-stage codegen entirely
    * (interpreted row-at-a-time evaluation), and the driver-side
    * Catalyst analysis of one giant aggregate grows superlinearly in
    * column count — a single 220-column pass measured ~17× the cost
    * of a 20-column one at sf0.1. Chunks of 64 keep every pass
    * codegen'd and analysis bounded; this is the right 100 TB shape
    * too (a codegen'd re-scan beats one interpreted scan). */
  private val maxCountIfWidth = 64

  /** True cardinalities for a workload in few distributed passes: a
    * count-if aggregation per [[maxCountIfWidth]]-query chunk instead
    * of one job per query — the plan you want when the workload is
    * large and the table is 100 TB (the reference's Oracle loops
    * queries, estimators.py:516).
    *
    * SNAPSHOT CAVEAT (ADVICE r18): past [[maxCountIfWidth]] queries
    * this runs one pass per chunk, so the returned cardinalities are
    * NOT a single atomic snapshot — a source mutated between passes
    * would answer different chunks from different data versions. Fine
    * for the immutable parquet fixtures here; cache or checkpoint `df`
    * first if a mutable source is ever passed.
    */
  def trueCards(df: DataFrame, queries: Seq[Seq[Pred]]): Array[Long] = {
    require(queries.nonEmpty)
    if (queries.size > maxCountIfWidth) {
      // r21 (guide §2.6 — overlap independent jobs): the per-chunk
      // scans are independent actions; submitting them from driver
      // threads lets chunk n+1's tasks back-fill the executor slots
      // chunk n's straggler tail leaves idle. Result order is
      // preserved by Future.traverse; values are unchanged (each chunk
      // computes exactly what it did sequentially — the snapshot
      // caveat above is no worse concurrent than chunked-sequential).
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      Await.result(
        Future.traverse(queries.grouped(maxCountIfWidth).toList)(g =>
          Future(trueCards(df, g))),
        scala.concurrent.duration.Duration.Inf).flatten.toArray
    } else {
      val aggs = queries.zipWithIndex.map { case (q, i) =>
        sum(when(Pred.conj(q), 1L).otherwise(0L)).as(s"q$i")
      }
      val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
      Array.tabulate(queries.length)(i => row.getLong(i))
    }
  }

  /** Same as a DataFrame (query_id, card) for the DuckDB oracle gate. */
  def trueCardsDf(spark: SparkSession, df: DataFrame,
      queries: Seq[Seq[Pred]]): DataFrame = {
    import spark.implicits._
    val cards = trueCards(df, queries)
    cards.zipWithIndex.map { case (c, i) => (i, c) }.toSeq
      .toDF("query_id", "card").orderBy("query_id")
  }

  def trueCardsSql(table: String, queries: Seq[Seq[Pred]]): String =
    queries.zipWithIndex.map { case (q, i) =>
      s"SELECT $i AS query_id, (SELECT count(*) FROM $table " +
        s"WHERE ${Pred.whereSql(q)}) AS card"
    }.mkString("", " UNION ALL ", " ORDER BY query_id")

  final case class Report(name: String, count: Int, median: Double,
      p95: Double, p99: Double, max: Double, meanMillis: Double)

  /** Quantile report (reference CardEst.report / ReportEsts,
    * estimators.py:85-90, eval_model.py:258-265). */
  def report(name: String, errors: Seq[Double], meanMillis: Double): Report = {
    val s = errors.sorted
    def q(p: Double): Double =
      if (s.isEmpty) Double.NaN else s(math.min(s.length - 1, (p * s.length).toInt))
    Report(name, s.length, q(0.5), q(0.95), q(0.99),
      if (s.isEmpty) Double.NaN else s.last, meanMillis)
  }

  /** Results sink (reference SaveEstimators, eval_model.py:450-464):
    * per-query rows (est, err, est_card, true_card, query_dur_ms) → CSV.
    */
  def saveResults(spark: SparkSession, path: String,
      rows: Seq[(String, Double, Long, Long, Double)]): Unit = {
    import spark.implicits._
    rows.toDF("est", "err", "est_card", "true_card", "query_dur_ms")
      .coalesce(1)
      .write.mode("overwrite").option("header", "true").csv(path)
  }

  /** Golden-card source (reference LoadOracleCardinalities,
    * eval_model.py:467-476): one true cardinality per line, header row.
    */
  def loadOracleCards(spark: SparkSession, path: String): Array[Long] =
    spark.read.option("header", "true").csv(path)
      .collect().map(_.getString(0).toLong)

  /** Distributed batch runner — the RunNParallel analog
    * (eval_model.py:303-375): partition the queries, broadcast the
    * estimator factory (its closure carries the weights, which are MBs),
    * build one estimator per partition with `newEstimator(partition
    * index)`, run the partition's queries on it, collect per-query
    * errors. No two tasks share an estimator, so the rows depend only on
    * the factory and the partitioning. `newEstimator` must be
    * serializable.
    */
  def runDistributed(spark: SparkSession,
      newEstimator: Int => (Seq[Pred] => Long),
      queries: Seq[Seq[Pred]], truths: Array[Long],
      parallelism: Int = 8): Array[(Int, Long, Double)] = {
    val bcEst = spark.sparkContext.broadcast(newEstimator)
    val indexed = queries.zipWithIndex.map { case (q, i) => (i, q, truths(i)) }
    spark.sparkContext.parallelize(indexed, parallelism)
      .mapPartitionsWithIndex { (p, part) =>
        val est = bcEst.value(p)
        part.map { case (i, q, truth) =>
          val e = est(q)
          (i, e, qError(e.toDouble, truth.toDouble))
        }
      }
      .collect()
      .sortBy(_._1)
  }
}
