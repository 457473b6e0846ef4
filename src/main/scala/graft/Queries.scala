package graft

import graft.core.{Dictionary, TableMeta, Tables}
import graft.est.{BayesNet, BayesNetEstimator, Exact, MultiMaskProgressiveSampling, ProgressiveSampling, SampleFromModel}
import graft.nn.{Made, Trainer}
import graft.ops.{Corpus, Dedup, Multimodal, Similarity, TextOps}
import graft.query.{Op, Pred}
import graft.workload.Workload
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The operator catalog: every implemented operator from SURVEY.md §2 is
  * exposed as a named query over the driver's testdata, with a DuckDB
  * oracle where the semantics are SQL-expressible.
  *
  * Determinism rules for oracle-checked queries: integer-exact aggregates
  * (counts, sums of integral doubles, min/max) or identically-ordered
  * float arithmetic only; explicit ORDER BY on every multi-row result.
  */
object Queries {

  final case class Entry(
      name: String,
      fn: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  // Fixed predicate workloads (the reference's query shape: 5-op
  // conjunctions with literals from the data, estimators.py:41-52).
  val W1: Seq[Pred] = Seq(
    Pred("l_quantity", Op.Leq, 24.0),
    Pred("l_discount", Op.Geq, 0.05),
    Pred("l_returnflag", Op.Eq, "R"))

  val W2: Seq[Pred] = Seq(
    Pred("o_orderstatus", Op.Eq, "F"),
    Pred("o_totalprice", Op.Leq, 150000.0))

  val W3: Seq[Pred] = Seq(
    Pred("l_shipdate", Op.Leq, Pred.ts("1997-06-30 00:00:00")),
    Pred("l_linestatus", Op.Eq, "F"),
    Pred("l_quantity", Op.Geq, 10.0))

  private def li(s: SparkSession, dir: String) = Tables.read(s, dir, "lineitem")

  // Collision-proof suffix for q_csv_roundtrip's tmp export: pid alone
  // collides when one JVM runs the entry concurrently for the same
  // dataset (Verify + a spec, say).
  private val csvRoundtripSeq = new java.util.concurrent.atomic.AtomicLong(0)

  /** Shared body of the forced-strategy as-of bench twins: purchases
    * probe clicks-per-(user,ts) backward, with the requested exec
    * FORCED and plan-asserted, reduced to an integer aggregate both
    * strategies (and DuckDB's native ASOF) must agree on exactly. */
  private def asofStrategyAgg(s: SparkSession, d: String,
      broadcast: Boolean): DataFrame = {
    val ev = Tables.read(s, d, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id").as("q_user"), col("ts").as("q_ts"))
      .agg(max(col("event_id")).as("q_id"))
    val joined = graft.ops.Relational.asofJoinTables(purchases, clicks,
      "user_id", "q_user", "ts", "q_ts", broadcast = Some(broadcast))
    val plan = joined.queryExecution.executedPlan.toString
    // nodeName strips "Exec"; "BroadcastAsofJoin" contains "AsofJoin"
    // as a substring, so assert the broadcast marker's presence/absence.
    val isBcast = plan.contains("BroadcastAsofJoin")
    require(plan.contains("AsofJoin"),
      s"no as-of exec planted; plan:\n$plan")
    require(isBcast == broadcast,
      s"forced broadcast=$broadcast but planned isBcast=$isBcast; plan:\n$plan")
    // Modular checksum, not a raw key sum: derived-scale dirs shift ids
    // by a stride that grows a decade per derivation, and a raw
    // sum(id) over millions of ~1e15 ids overflows Long under ANSI
    // (caught by the 100x audit). sum(id % 1e6+3) is bounded by
    // rows x 1e6 — safe past 1e12 rows — and stays an exact
    // order-insensitive match artifact on both engines.
    joined.agg(count(lit(1)).as("n_left"),
      sum(col("q_id").isNotNull.cast("long")).as("n_matched"),
      sum(pmod(coalesce(col("q_id"), lit(0L)), lit(1000003L)))
        .cast("long").as("sum_qid"))
  }

  private val asofStrategyAggSql: String = """WITH p AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
c AS (
  SELECT user_id AS q_user, ts AS q_ts, max(event_id) AS q_id
  FROM events WHERE event_type = 'click' GROUP BY 1, 2)
SELECT count(*) AS n_left,
  CAST(sum(CASE WHEN c.q_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_matched,
  CAST(sum(COALESCE(c.q_id, 0) % 1000003) AS BIGINT) AS sum_qid
FROM p ASOF LEFT JOIN c ON p.user_id = c.q_user AND p.ts >= c.q_ts"""

  /** Columns whose domains the dictionary queries exercise. */
  private val dictCols =
    Seq("l_returnflag", "l_linestatus", "l_quantity", "l_discount",
      "l_tax", "l_linenumber")

  val estimatorEntries: Seq[Entry] = Seq(
    Entry("q_oracle_card",
      (s, d) => Exact.oracle(li(s, d), W1),
      Some(Exact.oracleSql("lineitem", W1))),
    Entry("q_oracle_card_ts",
      (s, d) => Exact.oracle(li(s, d), W3),
      Some(Exact.oracleSql("lineitem", W3))),
    Entry("q_oracle_card_orders",
      (s, d) => Exact.oracle(Tables.read(s, d, "orders"), W2),
      Some(Exact.oracleSql("orders", W2))),
    // Oracle over only the first 30000 rows in file order — the
    // reference's data-shift evaluation mode (estimators.py:512-515).
    Entry("q_oracle_card_shift",
      (s, d) => Exact.oracleFirstN(li(s, d), W1, 30000),
      Some(Exact.oracleFirstNSql("lineitem", W1, 30000))),
    // SQL front-end over the estimator vocabulary (the piece the
    // reference's CLI lacks — its workloads are hand-authored Python
    // lists): Catalyst's OWN parser turns SQL text into the 5-op Pred
    // conjunction (graft.query.SqlFront), and the entry answers the
    // parsed queries through the Pred-driven exact path. The ORACLE IS
    // THE INPUT SQL — DuckDB runs the same three texts directly, so
    // the parse → Pred → filter pipeline is hash-gated against SQL
    // semantics themselves (literal typing, operand flips, BETWEEN
    // desugar, timestamp literals all on the line). Scale shape: three
    // pushdown-friendly scan+count plans, no shuffle beyond the
    // count agg.
    Entry("q_sql_front_card",
      (s, d) => {
        import s.implicits._
        val texts = Seq(
          "q1_lineitem" -> ("""SELECT count(*) FROM lineitem
            WHERE l_quantity <= 1.0 AND l_discount <= 0.0
              AND l_returnflag = 'R'"""),
          "q2_orders" -> ("""SELECT count(*) FROM orders
            WHERE 5 < o_orderkey AND o_custkey >= 7"""),
          "q3_events" -> ("""SELECT count(*) FROM events
            WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
              AND value BETWEEN 10.0 AND 50.0"""))
        val rows = texts.map { case (qid, sql) =>
          val (table, preds) = graft.query.SqlFront.parse(s, sql)
          val base = Tables.read(s, d, table)
          val n =
            if (preds.isEmpty) base.count()
            else base.filter(Pred.conj(preds)).count()
          (qid, n)
        }
        rows.toDF("query_id", "n_rows").orderBy("query_id")
      },
      Some("""SELECT 'q1_lineitem' AS query_id,
  CAST(count(*) AS BIGINT) AS n_rows FROM lineitem
  WHERE l_quantity <= 1.0 AND l_discount <= 0.0 AND l_returnflag = 'R'
UNION ALL
SELECT 'q2_orders', CAST(count(*) AS BIGINT) FROM orders
  WHERE 5 < o_orderkey AND o_custkey >= 7
UNION ALL
SELECT 'q3_events', CAST(count(*) AS BIGINT) FROM events
  WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
    AND value BETWEEN 10.0 AND 50.0
ORDER BY query_id""")),
    // SQL → LEARNED estimate, end to end: the same front-end feeding
    // ProgressiveSampling through CardEst.querySql — the reference
    // user's whole eval loop (hand-authored query lists → estimator)
    // collapsed to one SQL string. The exact reference is computed
    // from the SAME parse (so the gate also pins parse → conj
    // fidelity), and the model answer is gated to q-error <= 2.0 on
    // the band q_approx_count_bounds already holds at 3 SFs; the
    // DuckDB oracle recomputes the exact count from the identical
    // text. A failed parse, a drifted estimate, or a broken querySql
    // seam each throw or flip `ok` — never a wrong-but-matching row.
    Entry("q_sql_front_model",
      (s, d) => {
        import s.implicits._
        val sqlTxt = """SELECT count(*) FROM lineitem
          WHERE l_quantity <= 24.0 AND l_discount >= 0.05
            AND l_returnflag = 'R'"""
        val (table, preds) = graft.query.SqlFront.parse(s, sqlTxt)
        require(table == "lineitem", s"front-end mis-read table: $table")
        val exact = math.max(li(s, d).filter(Pred.conj(preds)).count(), 1L)
        val (model, meta) = lineitemModel(s, d)
        val ps = new ProgressiveSampling(model, meta, numSamples = 1000,
          shortcircuit = true)
        val est = math.max(ps.querySql(s, sqlTxt, Some("lineitem")), 1L)
        val qerr = math.max(est.toDouble / exact, exact.toDouble / est)
        Seq(("sql_front_model_qerror", exact, qerr <= 2.0))
          .toDF("metric", "exact_ref", "ok")
      },
      Some("""SELECT 'sql_front_model_qerror' AS metric,
  CAST(count(*) AS BIGINT) AS exact_ref, true AS ok
FROM lineitem
WHERE l_quantity <= 24.0 AND l_discount >= 0.05
  AND l_returnflag = 'R'""")),
    // IN lists + single-column OR-of-equalities through the SQL front
    // (r15): the domain-mask architecture makes IN the union of `=`
    // masks (estimators.py:226-236), the exact path is Column.isin.
    // As with q_sql_front_card, THE ORACLE IS THE INPUT SQL — q2's
    // text is an OR that the front-end folds into one IN pred, so the
    // hash gate pins the fold against SQL semantics; q3 exercises a
    // mixed-type literal list (integral widens to Long, decimal to
    // Double) against a DOUBLE column, where both engines converge on
    // widen-to-double comparison.
    Entry("q_sql_front_in",
      (s, d) => {
        import s.implicits._
        val texts = Seq(
          "q1_in_strings" -> ("""SELECT count(*) FROM lineitem
            WHERE l_returnflag IN ('R', 'A') AND l_quantity <= 5.0"""),
          "q2_or_folds_to_in" -> ("""SELECT count(*) FROM orders
            WHERE o_orderstatus = 'F' OR o_orderstatus = 'P'"""),
          "q3_in_mixed_types" -> ("""SELECT count(*) FROM events
            WHERE value IN (2.5, 1, 9) OR value = 42"""))
        val rows = texts.map { case (qid, sql) =>
          val (table, preds) = graft.query.SqlFront.parse(s, sql)
          // the fold contract: every WHERE above is ONE In conjunct
          require(preds.forall(p => p.op == graft.query.Op.In ||
            p.op.isScalar), s"unexpected ops in $qid: $preds")
          (qid, Tables.read(s, d, table).filter(Pred.conj(preds)).count())
        }
        rows.toDF("query_id", "n_rows").orderBy("query_id")
      },
      Some("""SELECT 'q1_in_strings' AS query_id,
  CAST(count(*) AS BIGINT) AS n_rows FROM lineitem
  WHERE l_returnflag IN ('R', 'A') AND l_quantity <= 5.0
UNION ALL
SELECT 'q2_or_folds_to_in', CAST(count(*) AS BIGINT) FROM orders
  WHERE o_orderstatus = 'F' OR o_orderstatus = 'P'
UNION ALL
SELECT 'q3_in_mixed_types', CAST(count(*) AS BIGINT) FROM events
  WHERE value IN (2.5, 1, 9) OR value = 42
ORDER BY query_id""")),
    // IS NULL / IS NOT NULL through the null-at-bin-0 convention
    // (r15; reference common.py:74-80 reserves domain position 0 for
    // null precisely so a mask can address it). The testdata tables
    // carry no physical nulls, so the entry DERIVES a null-bearing
    // table deterministically (event_id % 7 → NULL) and registers it
    // under the name the SQL targets; the DuckDB oracle builds the
    // SAME table as a CTE and runs the SAME WHERE texts — parse,
    // null-slot semantics, and the In-mask-excludes-null rule all
    // hash-gated. Scale shape: three pushdown scan+count plans over a
    // projected derivation, no shuffle beyond the count.
    Entry("q_sql_front_null",
      (s, d) => {
        import s.implicits._
        val nullable = Tables.read(s, d, "events").withColumn("et",
          when(pmod(col("event_id"), lit(7)) === 0, lit(null).cast("string"))
            .otherwise(col("event_type")))
        val texts = Seq(
          "q1_is_null" -> ("""SELECT count(*) FROM events_nullable
            WHERE et IS NULL AND user_id >= 50"""),
          "q2_not_null" -> ("""SELECT count(*) FROM events_nullable
            WHERE et IS NOT NULL AND value < 10.0"""),
          // a value-comparison mask must stay false at the null slot:
          // the IN below must NOT count the derived-null rows
          "q3_in_skips_null" -> ("""SELECT count(*) FROM events_nullable
            WHERE et IN ('click', 'purchase')"""))
        val rows = texts.map { case (qid, sql) =>
          val (table, preds) = graft.query.SqlFront.parse(s, sql)
          require(table == "events_nullable",
            s"front-end mis-read table: $table")
          (qid, nullable.filter(Pred.conj(preds)).count())
        }
        rows.toDF("query_id", "n_rows").orderBy("query_id")
      },
      Some("""WITH events_nullable AS (
  SELECT *, CASE WHEN event_id % 7 = 0 THEN NULL
                 ELSE event_type END AS et FROM events)
SELECT 'q1_is_null' AS query_id, CAST(count(*) AS BIGINT) AS n_rows
  FROM events_nullable WHERE et IS NULL AND user_id >= 50
UNION ALL
SELECT 'q2_not_null', CAST(count(*) AS BIGINT)
  FROM events_nullable WHERE et IS NOT NULL AND value < 10.0
UNION ALL
SELECT 'q3_in_skips_null', CAST(count(*) AS BIGINT)
  FROM events_nullable WHERE et IN ('click', 'purchase')
ORDER BY query_id""")),
    // The MASK PATH for the null-slot + IN ops, exercised as the
    // estimators consume it (not just Pred.toColumn): per predicate,
    // the domain mask is materialized as a broadcast (value, bool)
    // vocab, rows join it null-safely, and sum(mask-true) must equal
    // the direct filter count — in ONE scan per predicate (broadcast
    // hash join + agg, no shuffle). The DuckDB oracle recomputes both
    // columns from the WHERE semantics, so a mask that drifted from
    // filter semantics (e.g. a true null slot in a value comparison)
    // breaks the hash.
    Entry("q_null_mask_card",
      (s, d) => {
        import s.implicits._
        import graft.query.Op
        val dfv = Tables.read(s, d, "events").select(
          when(pmod(col("event_id"), lit(7)) === 0, lit(null).cast("string"))
            .otherwise(col("event_type")).as("et"))
        val meta = cachedColumnMeta(s"$d/events.parquet|et_null7", dfv, "et")
        require(meta.hasNull && meta.domain(0) == null,
          "derived table lost its null slot")
        val preds = Seq(
          "p1_is_null" -> Pred("et", Op.IsNull, null),
          "p2_not_null" -> Pred("et", Op.NotNull, null),
          "p3_in" -> Pred("et", Op.In, Seq("click", "purchase")),
          // r16: the complement mask — true slots are exactly the
          // non-null domain values OUTSIDE the list; the null slot
          // must stay false (three-valued logic), so
          // mask_count == direct_count pins NOT IN's null handling.
          "p4_not_in" -> Pred("et", Op.NotIn, Seq("click", "purchase")))
        val rows = preds.map { case (pid, p) =>
          val mask = p.domainMask(meta)
          val maskRows = meta.domain.zipWithIndex.map { case (v, i) =>
            org.apache.spark.sql.Row(v, mask(i)) }
          val maskDf = s.createDataFrame(
            s.sparkContext.parallelize(maskRows.toIndexedSeq, 1),
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("value",
                org.apache.spark.sql.types.StringType, nullable = true),
              org.apache.spark.sql.types.StructField("m",
                org.apache.spark.sql.types.BooleanType, nullable = false))))
          val r = dfv.join(broadcast(maskDf),
              dfv("et") <=> maskDf("value"), "left")
            .agg(
              sum(when(col("m"), 1L).otherwise(0L)).as("mask_count"),
              sum(when(p.toColumn, 1L).otherwise(0L)).as("direct_count"))
            .head()
          (pid, r.getLong(0), r.getLong(1))
        }
        rows.toDF("pred_id", "mask_count", "direct_count")
          .orderBy("pred_id")
      },
      Some("""WITH dv AS (
  SELECT CASE WHEN event_id % 7 = 0 THEN NULL
              ELSE event_type END AS et FROM events)
SELECT 'p1_is_null' AS pred_id,
  CAST(count(*) FILTER (WHERE et IS NULL) AS BIGINT) AS mask_count,
  CAST(count(*) FILTER (WHERE et IS NULL) AS BIGINT) AS direct_count
FROM dv
UNION ALL
SELECT 'p2_not_null',
  CAST(count(*) FILTER (WHERE et IS NOT NULL) AS BIGINT),
  CAST(count(*) FILTER (WHERE et IS NOT NULL) AS BIGINT)
FROM dv
UNION ALL
SELECT 'p3_in',
  CAST(count(*) FILTER (WHERE et IN ('click', 'purchase')) AS BIGINT),
  CAST(count(*) FILTER (WHERE et IN ('click', 'purchase')) AS BIGINT)
FROM dv
UNION ALL
SELECT 'p4_not_in',
  CAST(count(*) FILTER (WHERE et NOT IN ('click', 'purchase')) AS BIGINT),
  CAST(count(*) FILTER (WHERE et NOT IN ('click', 'purchase')) AS BIGINT)
FROM dv
ORDER BY pred_id""")),
    // SQL → learned estimate with an IN mask (r15): querySql parses the
    // IN, Pred.domainMask unions the equality masks, ProgressiveSampling
    // consumes the union exactly as any other mask. Exact reference from
    // the SAME parse; q-error gated at 2.0 like q_sql_front_model.
    Entry("q_sql_front_in_model",
      (s, d) => {
        import s.implicits._
        val sqlTxt = """SELECT count(*) FROM lineitem
          WHERE l_returnflag IN ('R', 'N') AND l_quantity <= 24.0"""
        val (table, preds) = graft.query.SqlFront.parse(s, sqlTxt)
        require(table == "lineitem", s"front-end mis-read table: $table")
        require(preds.head.op == graft.query.Op.In, s"no In pred: $preds")
        val exact = math.max(li(s, d).filter(Pred.conj(preds)).count(), 1L)
        val (model, meta) = lineitemModel(s, d)
        val ps = new ProgressiveSampling(model, meta, numSamples = 1000,
          shortcircuit = true)
        val est = math.max(ps.querySql(s, sqlTxt, Some("lineitem")), 1L)
        val qerr = math.max(est.toDouble / exact, exact.toDouble / est)
        Seq(("sql_front_in_model_qerror", exact, qerr <= 2.0))
          .toDF("metric", "exact_ref", "ok")
      },
      Some("""SELECT 'sql_front_in_model_qerror' AS metric,
  CAST(count(*) AS BIGINT) AS exact_ref, true AS ok
FROM lineitem
WHERE l_returnflag IN ('R', 'N') AND l_quantity <= 24.0""")),
    // NOT IN through the complement mask (r16; VERDICT r15 next #6):
    // the mask architecture makes negation as cheap as the IN it
    // complements — complement of the union mask, null slot stays
    // FALSE (SQL three-valued logic: `null NOT IN (…)` is unknown, so
    // a null row never qualifies — q2 pins exactly that against a
    // derived null-bearing table; `Column.isin.unary_!` happens to
    // agree, and the oracle makes sure it keeps agreeing). q3 is the
    // mixed-type literal list on a DOUBLE column, same
    // widen-to-double convergence as q_sql_front_in's q3.
    Entry("q_sql_front_not_in",
      (s, d) => {
        import s.implicits._
        val nullable = Tables.read(s, d, "events").withColumn("et",
          when(pmod(col("event_id"), lit(7)) === 0, lit(null).cast("string"))
            .otherwise(col("event_type")))
        val texts = Seq(
          "q1_not_in_strings" -> ("""SELECT count(*) FROM lineitem
            WHERE l_returnflag NOT IN ('R', 'A') AND l_quantity <= 5.0"""),
          "q2_not_in_skips_null" -> ("""SELECT count(*) FROM events_nullable
            WHERE et NOT IN ('click', 'purchase')"""),
          "q3_not_in_mixed_types" -> ("""SELECT count(*) FROM events
            WHERE value NOT IN (2.5, 1, 9) AND value <= 20.0"""))
        val rows = texts.map { case (qid, sql) =>
          val (table, preds) = graft.query.SqlFront.parse(s, sql)
          require(preds.exists(_.op == graft.query.Op.NotIn),
            s"no NotIn pred in $qid: $preds")
          val df =
            if (table == "events_nullable") nullable
            else Tables.read(s, d, table)
          (qid, df.filter(Pred.conj(preds)).count())
        }
        rows.toDF("query_id", "n_rows").orderBy("query_id")
      },
      Some("""WITH events_nullable AS (
  SELECT *, CASE WHEN event_id % 7 = 0 THEN NULL
                 ELSE event_type END AS et FROM events)
SELECT 'q1_not_in_strings' AS query_id,
  CAST(count(*) AS BIGINT) AS n_rows FROM lineitem
  WHERE l_returnflag NOT IN ('R', 'A') AND l_quantity <= 5.0
UNION ALL
SELECT 'q2_not_in_skips_null', CAST(count(*) AS BIGINT)
  FROM events_nullable WHERE et NOT IN ('click', 'purchase')
UNION ALL
SELECT 'q3_not_in_mixed_types', CAST(count(*) AS BIGINT)
  FROM events WHERE value NOT IN (2.5, 1, 9) AND value <= 20.0
ORDER BY query_id""")),
    // SQL → learned estimate with a NOT IN mask (r16): the complement
    // mask rides through ProgressiveSampling exactly like IN — same
    // renormalization, null slot already false — so the model path
    // needs no new code, only this gate proving it. Exact reference
    // from the SAME parse; q-error band 2.0 like the IN twin.
    Entry("q_sql_front_not_in_model",
      (s, d) => {
        import s.implicits._
        val sqlTxt = """SELECT count(*) FROM lineitem
          WHERE l_returnflag NOT IN ('A') AND l_quantity <= 24.0"""
        val (table, preds) = graft.query.SqlFront.parse(s, sqlTxt)
        require(table == "lineitem", s"front-end mis-read table: $table")
        require(preds.head.op == graft.query.Op.NotIn,
          s"no NotIn pred: $preds")
        val exact = math.max(li(s, d).filter(Pred.conj(preds)).count(), 1L)
        val (model, meta) = lineitemModel(s, d)
        val ps = new ProgressiveSampling(model, meta, numSamples = 1000,
          shortcircuit = true)
        val est = math.max(ps.querySql(s, sqlTxt, Some("lineitem")), 1L)
        val qerr = math.max(est.toDouble / exact, exact.toDouble / est)
        Seq(("sql_front_not_in_model_qerror", exact, qerr <= 2.0))
          .toDF("metric", "exact_ref", "ok")
      },
      Some("""SELECT 'sql_front_not_in_model_qerror' AS metric,
  CAST(count(*) AS BIGINT) AS exact_ref, true AS ok
FROM lineitem
WHERE l_returnflag NOT IN ('A') AND l_quantity <= 24.0""")),
    // `!=` / `<>` through the SQL seam (r16): Catalyst has no NotEqualTo
    // node — both spellings parse to Not(EqualTo), which the front-end
    // folds to the single-literal complement mask (NOT IN (v)). q2 pins
    // the three-valued-logic edge on a derived null-bearing table: a
    // null row satisfies NEITHER `et = 'click'` NOR `et != 'click'`,
    // and the complement mask's false null slot encodes exactly that.
    Entry("q_sql_front_neq",
      (s, d) => {
        import s.implicits._
        val nullable = Tables.read(s, d, "events").withColumn("et",
          when(pmod(col("event_id"), lit(7)) === 0, lit(null).cast("string"))
            .otherwise(col("event_type")))
        val texts = Seq(
          "q1_neq_string" -> ("""SELECT count(*) FROM lineitem
            WHERE l_returnflag != 'R' AND l_quantity <= 5.0"""),
          "q2_neq_skips_null" -> ("""SELECT count(*) FROM events_nullable
            WHERE et != 'click'"""),
          "q3_ltgt_spelling" -> ("""SELECT count(*) FROM events
            WHERE value <> 2.5 AND value <= 20.0"""))
        val rows = texts.map { case (qid, sql) =>
          val (table, preds) = graft.query.SqlFront.parse(s, sql)
          require(preds.exists(p => p.op == graft.query.Op.NotIn &&
            p.value.asInstanceOf[Seq[Any]].size == 1),
            s"no single-literal NotIn fold in $qid: $preds")
          val df =
            if (table == "events_nullable") nullable
            else Tables.read(s, d, table)
          (qid, df.filter(Pred.conj(preds)).count())
        }
        rows.toDF("query_id", "n_rows").orderBy("query_id")
      },
      Some("""WITH events_nullable AS (
  SELECT *, CASE WHEN event_id % 7 = 0 THEN NULL
                 ELSE event_type END AS et FROM events)
SELECT 'q1_neq_string' AS query_id,
  CAST(count(*) AS BIGINT) AS n_rows FROM lineitem
  WHERE l_returnflag != 'R' AND l_quantity <= 5.0
UNION ALL
SELECT 'q2_neq_skips_null', CAST(count(*) AS BIGINT)
  FROM events_nullable WHERE et != 'click'
UNION ALL
SELECT 'q3_ltgt_spelling', CAST(count(*) AS BIGINT)
  FROM events WHERE value <> 2.5 AND value <= 20.0
ORDER BY query_id""")),
    // `LIKE 'abc%'` through the SQL seam (r17; VERDICT r16 #5): a
    // prefix pattern is a contiguous range over the sorted string
    // domain — one mask ([[Op.PrefixLike]]), no model change. q1 mixes
    // the prefix with a numeric conjunct; q2 pins null semantics on a
    // derived null-bearing table (`null LIKE p` is unknown → filtered,
    // same as every value comparison — the mask's false null slot);
    // q3 is a multi-word prefix. Non-prefix patterns are REJECTED by
    // the front-end (spec-pinned in SqlFrontSpec), not mis-estimated.
    Entry("q_sql_front_like",
      (s, d) => {
        import s.implicits._
        val nullable = Tables.read(s, d, "events").withColumn("et",
          when(pmod(col("event_id"), lit(7)) === 0, lit(null).cast("string"))
            .otherwise(col("event_type")))
        val texts = Seq(
          "q1_like_prefix" -> ("""SELECT count(*) FROM customer
            WHERE c_mktsegment LIKE 'BUILD%' AND c_acctbal <= 5000.0"""),
          "q2_like_skips_null" -> ("""SELECT count(*) FROM events_nullable
            WHERE et LIKE 'c%'"""),
          "q3_like_two_words" -> ("""SELECT count(*) FROM nation
            WHERE n_name LIKE 'UNITED%'"""))
        val rows = texts.map { case (qid, sql) =>
          val (table, preds) = graft.query.SqlFront.parse(s, sql)
          require(preds.exists(_.op == graft.query.Op.PrefixLike),
            s"no PrefixLike pred in $qid: $preds")
          val df =
            if (table == "events_nullable") nullable
            else Tables.read(s, d, table)
          (qid, df.filter(Pred.conj(preds)).count())
        }
        rows.toDF("query_id", "n_rows").orderBy("query_id")
      },
      Some("""WITH events_nullable AS (
  SELECT *, CASE WHEN event_id % 7 = 0 THEN NULL
                 ELSE event_type END AS et FROM events)
SELECT 'q1_like_prefix' AS query_id,
  CAST(count(*) AS BIGINT) AS n_rows FROM customer
  WHERE c_mktsegment LIKE 'BUILD%' AND c_acctbal <= 5000.0
UNION ALL
SELECT 'q2_like_skips_null', CAST(count(*) AS BIGINT)
  FROM events_nullable WHERE et LIKE 'c%'
UNION ALL
SELECT 'q3_like_two_words', CAST(count(*) AS BIGINT)
  FROM nation WHERE n_name LIKE 'UNITED%'
ORDER BY query_id""")),
    // SQL → learned estimate with a prefix-LIKE mask (r17): the
    // PrefixLike mask rides through ProgressiveSampling exactly like
    // every other domain mask — the model path needs no new code, only
    // this gate proving it (the q_sql_front_{in,not_in}_model
    // discipline). Exact reference from the SAME parse; q-error ≤ 2.0.
    Entry("q_sql_front_like_model",
      (s, d) => {
        import s.implicits._
        val sqlTxt = """SELECT count(*) FROM lineitem
          WHERE l_linestatus LIKE 'F%' AND l_quantity <= 24.0"""
        val (table, preds) = graft.query.SqlFront.parse(s, sqlTxt)
        require(table == "lineitem", s"front-end mis-read table: $table")
        require(preds.head.op == graft.query.Op.PrefixLike,
          s"no PrefixLike pred: $preds")
        val exact = math.max(li(s, d).filter(Pred.conj(preds)).count(), 1L)
        val (model, meta) = lineitemModel(s, d)
        val ps = new ProgressiveSampling(model, meta, numSamples = 1000,
          shortcircuit = true)
        val est = math.max(ps.querySql(s, sqlTxt, Some("lineitem")), 1L)
        val qerr = math.max(est.toDouble / exact, exact.toDouble / est)
        Seq(("sql_front_like_model_qerror", exact, qerr <= 2.0))
          .toDF("metric", "exact_ref", "ok")
      },
      Some("""SELECT 'sql_front_like_model_qerror' AS metric,
  CAST(count(*) AS BIGINT) AS exact_ref, true AS ok
FROM lineitem
WHERE l_linestatus LIKE 'F%' AND l_quantity <= 24.0""")),
    // Cross-column OR through the SQL seam (r17): SqlFront.parseDnf
    // returns a bounded DNF and CardEst.queryDnf answers it by
    // inclusion–exclusion over the estimator's own per-conjunction
    // answers — the estimator-side mirror of the optimizer rewrite.
    // q1 is the bare 2-way OR; q2 pins And-over-Or distribution; q3
    // pins that a SINGLE-column OR of equalities still folds to ONE
    // In-mask disjunct (parse & parseDnf agree — no I–E needed); q4 is
    // the 3-way mix (7 terms). Exact backend → lossless, hash-gated
    // against DuckDB running the identical texts.
    Entry("q_sql_front_or",
      (s, d) => {
        import s.implicits._
        val liDf = s.read.parquet(s"$d/lineitem.parquet")
        val le = localExact(s"$d/lineitem.parquet", liDf, modelCols)
        val est = new graft.est.CardEst {
          def name = "local_exact"
          def query(preds: Seq[Pred]): Long = le.count(preds)
        }
        val texts = Seq(
          ("q1_cross_or", """SELECT count(*) FROM lineitem
            WHERE l_returnflag = 'R' OR l_quantity <= 3.0""", 2),
          ("q2_or_and", """SELECT count(*) FROM lineitem
            WHERE (l_returnflag = 'R' OR l_linestatus = 'O')
            AND l_discount >= 0.08""", 2),
          ("q3_single_col_or_folds", """SELECT count(*) FROM lineitem
            WHERE l_returnflag = 'R' OR l_returnflag = 'A'""", 1),
          ("q4_three_way", """SELECT count(*) FROM lineitem
            WHERE l_returnflag = 'A' OR l_discount >= 0.09
            OR l_tax <= 0.01""", 3))
        val rows = texts.map { case (qid, sql, nDisjuncts) =>
          val (table, dnf) = graft.query.SqlFront.parseDnf(s, sql)
          require(table == "lineitem" && dnf.size == nDisjuncts,
            s"$qid: expected $nDisjuncts disjuncts, got ${dnf.size}")
          (qid, est.querySqlDnf(s, sql, Some("lineitem")))
        }
        rows.toDF("query_id", "n_rows").orderBy("query_id")
      },
      Some("""SELECT 'q1_cross_or' AS query_id,
  CAST(count(*) AS BIGINT) AS n_rows FROM lineitem
  WHERE l_returnflag = 'R' OR l_quantity <= 3.0
UNION ALL
SELECT 'q2_or_and', CAST(count(*) AS BIGINT) FROM lineitem
  WHERE (l_returnflag = 'R' OR l_linestatus = 'O')
    AND l_discount >= 0.08
UNION ALL
SELECT 'q3_single_col_or_folds', CAST(count(*) AS BIGINT) FROM lineitem
  WHERE l_returnflag = 'R' OR l_returnflag = 'A'
UNION ALL
SELECT 'q4_three_way', CAST(count(*) AS BIGINT) FROM lineitem
  WHERE l_returnflag = 'A' OR l_discount >= 0.09 OR l_tax <= 0.01
ORDER BY query_id""")),
    // SQL OR → learned estimate (r17): queryDnf with every term from
    // the MADE — q-error ≤ 2.0 against the exact count from the SAME
    // text, pinning that per-term model error survives the signed I–E
    // combination at the seam too (the optimizer-path twin is
    // q_approx_count_or_bounds).
    Entry("q_sql_front_or_model",
      (s, d) => {
        import s.implicits._
        val sqlTxt = """SELECT count(*) FROM lineitem
          WHERE l_returnflag = 'R' OR l_quantity <= 24.0"""
        val (table, dnf) = graft.query.SqlFront.parseDnf(s, sqlTxt)
        require(table == "lineitem" && dnf.size == 2,
          s"front-end mis-read the OR: $dnf")
        val exact = math.max(
          li(s, d).filter(dnf.map(Pred.conj).reduce(_ || _)).count(), 1L)
        val (model, meta) = lineitemModel(s, d)
        val ps = new ProgressiveSampling(model, meta, numSamples = 1000,
          shortcircuit = true)
        val est = math.max(
          ps.querySqlDnf(s, sqlTxt, Some("lineitem")), 1L)
        val qerr = math.max(est.toDouble / exact, exact.toDouble / est)
        Seq(("sql_front_or_model_qerror", exact, qerr <= 2.0))
          .toDF("metric", "exact_ref", "ok")
      },
      Some("""SELECT 'sql_front_or_model_qerror' AS metric,
  CAST(count(*) AS BIGINT) AS exact_ref, true AS ok
FROM lineitem
WHERE l_returnflag = 'R' OR l_quantity <= 24.0""")),
    // LIKE through the OPTIMIZER (r17): LikeSimplification rewrites a
    // prefix pattern to StartsWith in the main batches, so by the time
    // ApproxCountRule fires the conjunct arrives as
    // StartsWith(attr, prefix) — PredExtract maps it to the same
    // [[Op.PrefixLike]] mask the front-end produces. k1/k2 REQUIRE the
    // scan-free LocalRelation plan (exact registrations → lossless,
    // hash-gated against DuckDB running the identical texts); k3 is
    // the conservative fall-through — a SUFFIX pattern ('%KINGDOM')
    // must NOT rewrite (require()d), and its scan answer still
    // hash-matches because the plan it falls through to is exact.
    Entry("q_approx_count_like",
      (s, d) => {
        import s.implicits._
        graft.plans.ApproxCountRule.attachIfMissing(s)
        val savedRegistry = graft.plans.GraftRuntime.snapshot()
        val savedEnabled =
          s.conf.getOption(graft.plans.GraftRuntime.EnabledKey)
        val cust = s.read.parquet(s"$d/customer.parquet")
        val nat = s.read.parquet(s"$d/nation.parquet")
        val leC = localExact(s"$d/customer.parquet", cust, Seq("c_mktsegment", "c_acctbal"))
        val leN = localExact(s"$d/nation.parquet", nat, Seq("n_name", "n_regionkey"))
        graft.plans.GraftRuntime.register(s"$d/customer.parquet",
          Set("c_mktsegment", "c_acctbal"), preds => leC.count(preds))
        graft.plans.GraftRuntime.register(s"$d/nation.parquet",
          Set("n_name", "n_regionkey"), preds => leN.count(preds))
        s.conf.set(graft.plans.GraftRuntime.EnabledKey, "true")
        try {
          cust.createOrReplaceTempView("graft_aqp_like_customer")
          nat.createOrReplaceTempView("graft_aqp_like_nation")
          val texts = Seq(
            ("k1_prefix_and_range", "SELECT count(*) AS n FROM " +
              "graft_aqp_like_customer WHERE c_mktsegment LIKE 'BUILD%' " +
              "AND c_acctbal <= 5000.0", true),
            ("k2_two_word_prefix", "SELECT count(*) AS n FROM " +
              "graft_aqp_like_nation WHERE n_name LIKE 'UNITED%'", true),
            ("k3_suffix_falls_through", "SELECT count(*) AS n FROM " +
              "graft_aqp_like_nation WHERE n_name LIKE '%KINGDOM'", false))
          val rows = texts.map { case (qid, sql, mustRewrite) =>
            val df = s.sql(sql)
            val plan = df.queryExecution.optimizedPlan.toString
            if (mustRewrite)
              require(plan.trim.startsWith("LocalRelation"),
                s"LIKE rewrite did not fire on $qid; plan:\n$plan")
            else
              require(!plan.trim.startsWith("LocalRelation"),
                s"non-prefix LIKE must fall through on $qid; plan:\n$plan")
            (qid, df.collect()(0).getLong(0))
          }
          rows.toDF("query_id", "n").orderBy("query_id")
        } finally {
          savedEnabled match {
            case Some(v) => s.conf.set(graft.plans.GraftRuntime.EnabledKey, v)
            case None => s.conf.unset(graft.plans.GraftRuntime.EnabledKey)
          }
          graft.plans.GraftRuntime.restore(savedRegistry)
        }
      },
      Some("""SELECT 'k1_prefix_and_range' AS query_id,
  CAST(count(*) AS BIGINT) AS n FROM customer
  WHERE c_mktsegment LIKE 'BUILD%' AND c_acctbal <= 5000.0
UNION ALL
SELECT 'k2_two_word_prefix', CAST(count(*) AS BIGINT)
  FROM nation WHERE n_name LIKE 'UNITED%'
UNION ALL
SELECT 'k3_suffix_falls_through', CAST(count(*) AS BIGINT)
  FROM nation WHERE n_name LIKE '%KINGDOM'
ORDER BY query_id""")),
    // Cross-column OR through the optimizer (r17; VERDICT r16 #1): the
    // mask vocabulary is conjunction-only, so `WHERE a=1 OR b=2` — the
    // single most common SQL shape the rewrite previously refused —
    // now parses as a bounded DNF (≤8 disjuncts) and is answered by
    // inclusion–exclusion over the SAME single-conjunction estimates:
    // |⋃Dᵢ| = Σ(−1)^(|S|+1)·est(⋀_{i∈S}Dᵢ) — exact for exact
    // registrations (it is the set identity), 2^k−1 driver probes.
    // o1 is the bare two-column OR; o2 pins And-over-Or distribution
    // (the FILTER conjunct folds into both disjuncts); o3 is a
    // three-way OR (7 probes) mixing the extended vocabulary (IN and
    // a prefix LIKE); o4 pins OVERLAPPING disjuncts (same column — the
    // I–E correction term actually bites); o5 is the conservative
    // fall-through — an And-of-Ors whose expansion exceeds the
    // 8-disjunct cap must NOT rewrite (require()d; its scan answer
    // still hash-matches because the exact plan is exact).
    Entry("q_approx_count_or",
      (s, d) => {
        import s.implicits._
        graft.plans.ApproxCountRule.attachIfMissing(s)
        val savedRegistry = graft.plans.GraftRuntime.snapshot()
        val savedEnabled =
          s.conf.getOption(graft.plans.GraftRuntime.EnabledKey)
        val liDf = s.read.parquet(s"$d/lineitem.parquet")
        val le = localExact(s"$d/lineitem.parquet", liDf, modelCols)
        graft.plans.GraftRuntime.register(s"$d/lineitem.parquet",
          modelCols.toSet, preds => le.count(preds))
        s.conf.set(graft.plans.GraftRuntime.EnabledKey, "true")
        try {
          liDf.createOrReplaceTempView("graft_aqp_or_lineitem")
          val texts = Seq(
            ("o1_cross_or", "SELECT count(*) AS n FROM " +
              "graft_aqp_or_lineitem WHERE l_returnflag = 'R' " +
              "OR l_quantity <= 3.0", true),
            ("o2_or_and", "SELECT count(*) AS n FROM " +
              "graft_aqp_or_lineitem WHERE (l_returnflag = 'R' " +
              "OR l_linestatus = 'O') AND l_quantity <= 10.0", true),
            ("o3_three_way", "SELECT count(*) AS n FROM " +
              "graft_aqp_or_lineitem WHERE l_returnflag IN ('A', 'N') " +
              "OR l_discount >= 0.09 OR l_linestatus LIKE 'F%'", true),
            ("o4_overlap", "SELECT count(*) AS n FROM " +
              "graft_aqp_or_lineitem WHERE l_quantity <= 10.0 " +
              "OR l_quantity >= 5.0", true),
            ("o5_cap_falls_through", "SELECT count(*) AS n FROM " +
              "graft_aqp_or_lineitem WHERE " +
              "(l_returnflag = 'R' OR l_linestatus = 'O') AND " +
              "(l_quantity <= 25.0 OR l_discount >= 0.05) AND " +
              "(l_tax <= 0.04 OR l_quantity >= 10.0) AND " +
              "(l_returnflag = 'A' OR l_discount <= 0.08)", false))
          val rows = texts.map { case (qid, sql, mustRewrite) =>
            val df = s.sql(sql)
            val plan = df.queryExecution.optimizedPlan.toString
            if (mustRewrite)
              require(plan.trim.startsWith("LocalRelation"),
                s"OR rewrite did not fire on $qid; plan:\n$plan")
            else
              require(!plan.trim.startsWith("LocalRelation"),
                s"16-disjunct expansion must fall through on $qid; " +
                  s"plan:\n$plan")
            (qid, df.collect()(0).getLong(0))
          }
          rows.toDF("query_id", "n").orderBy("query_id")
        } finally {
          savedEnabled match {
            case Some(v) => s.conf.set(graft.plans.GraftRuntime.EnabledKey, v)
            case None => s.conf.unset(graft.plans.GraftRuntime.EnabledKey)
          }
          graft.plans.GraftRuntime.restore(savedRegistry)
        }
      },
      Some("""SELECT 'o1_cross_or' AS query_id,
  CAST(count(*) AS BIGINT) AS n FROM lineitem
  WHERE l_returnflag = 'R' OR l_quantity <= 3.0
UNION ALL
SELECT 'o2_or_and', CAST(count(*) AS BIGINT) FROM lineitem
  WHERE (l_returnflag = 'R' OR l_linestatus = 'O')
    AND l_quantity <= 10.0
UNION ALL
SELECT 'o3_three_way', CAST(count(*) AS BIGINT) FROM lineitem
  WHERE l_returnflag IN ('A', 'N') OR l_discount >= 0.09
    OR l_linestatus LIKE 'F%'
UNION ALL
SELECT 'o4_overlap', CAST(count(*) AS BIGINT) FROM lineitem
  WHERE l_quantity <= 10.0 OR l_quantity >= 5.0
UNION ALL
SELECT 'o5_cap_falls_through', CAST(count(*) AS BIGINT) FROM lineitem
  WHERE (l_returnflag = 'R' OR l_linestatus = 'O')
    AND (l_quantity <= 25.0 OR l_discount >= 0.05)
    AND (l_tax <= 0.04 OR l_quantity >= 10.0)
    AND (l_returnflag = 'A' OR l_discount <= 0.08)
ORDER BY query_id""")),
    // OR through EVERY single-table rewrite shape (r17, second pass):
    // the probe function under a disjunctive WHERE distributes extra
    // conjuncts (group masks, domain-value probes, FILTER folds) into
    // every disjunct and answers the union by I–E — so GROUP BY,
    // count(c), count(DISTINCT c), sum/avg/min/max, and the grid all
    // accept cross-column OR. go1 pins the grouped count; go2 a
    // grouped sum+count over a null-bearing value column; go3
    // count(DISTINCT) under OR; go4 avg under an OR mixing a prefix
    // LIKE. Probe budgets multiply by the 2^k−1 term count
    // (spec-level caps unchanged). Exact registration → lossless,
    // DuckDB runs the identical texts over the identical derivation.
    Entry("q_approx_groupby_or",
      (s, d) => {
        import s.implicits._
        graft.plans.ApproxCountRule.attachIfMissing(s)
        val savedRegistry = graft.plans.GraftRuntime.snapshot()
        val savedEnabled =
          s.conf.getOption(graft.plans.GraftRuntime.EnabledKey)
        val (dir, ev, doms, le) = gridWorkloadData(s, d)
        graft.plans.GraftRuntime.register(dir,
          Set("g1", "g2", "w", "v"),
          preds => le.count(preds),
          domain = name => doms.get(name))
        s.conf.set(graft.plans.GraftRuntime.EnabledKey, "true")
        try {
          ev.createOrReplaceTempView("graft_aqp_gbo_events")
          // (qid, sql, group col count, metric names)
          val texts = Seq(
            ("go1_grouped_count", "SELECT g1, count(*) AS n FROM " +
              "graft_aqp_gbo_events WHERE g2 <= 1 OR w >= 10.0 " +
              "GROUP BY g1", 1, Seq("n")),
            ("go2_grouped_sum", "SELECT g2, sum(w) AS sw, " +
              "count(*) AS n FROM graft_aqp_gbo_events " +
              "WHERE g1 = 'click' OR w IS NULL GROUP BY g2",
              1, Seq("sw", "n")),
            ("go3_count_distinct", "SELECT count(DISTINCT w) AS dw " +
              "FROM graft_aqp_gbo_events WHERE g1 = 'error' OR g2 = 3",
              0, Seq("dw")),
            ("go4_avg_like", "SELECT avg(w) AS aw FROM " +
              "graft_aqp_gbo_events WHERE g1 LIKE 'c%' OR v <= 100.0",
              0, Seq("aw")))
          val rows = texts.flatMap { case (qid, sql, nKeys, metrics) =>
            val df = s.sql(sql)
            val plan = df.queryExecution.optimizedPlan.toString
            require(plan.trim.startsWith("LocalRelation"),
              s"OR rewrite did not fire on $qid; plan:\n$plan")
            df.collect().flatMap { r =>
              val grp =
                if (nKeys == 0) ""
                else if (r.isNullAt(0)) "<NULL>"
                else r.get(0).toString
              metrics.zipWithIndex.map { case (m, j) =>
                val idx = nKeys + j
                val x: Option[Double] =
                  if (r.isNullAt(idx)) None
                  else r.get(idx) match {
                    case l: java.lang.Long => Some(l.toDouble)
                    case dd: java.lang.Double => Some(dd)
                  }
                (qid, grp, m, x)
              }
            }
          }
          rows.toDF("query_id", "grp", "metric", "x")
            .orderBy("query_id", "grp", "metric")
        } finally {
          savedEnabled match {
            case Some(v) => s.conf.set(graft.plans.GraftRuntime.EnabledKey, v)
            case None => s.conf.unset(graft.plans.GraftRuntime.EnabledKey)
          }
          graft.plans.GraftRuntime.restore(savedRegistry)
        }
      },
      Some("""WITH ev AS (
  SELECT CASE WHEN event_id % 7 = 0 THEN NULL
              ELSE event_type END AS g1,
         event_id % 5 AS g2,
         CASE WHEN event_id % 11 = 0 THEN NULL
              ELSE CAST(event_id % 13 AS DOUBLE) END AS w,
         value AS v
  FROM events),
go1 AS (SELECT g1, count(*) AS n FROM ev
        WHERE g2 <= 1 OR w >= 10.0 GROUP BY g1),
go2 AS (SELECT g2, sum(w) AS sw, count(*) AS n FROM ev
        WHERE g1 = 'click' OR w IS NULL GROUP BY g2)
SELECT * FROM (
  SELECT 'go1_grouped_count' AS query_id,
    coalesce(g1, '<NULL>') AS grp, 'n' AS metric,
    CAST(n AS DOUBLE) AS x FROM go1
  UNION ALL SELECT 'go2_grouped_sum', CAST(g2 AS VARCHAR), 'sw',
    CAST(sw AS DOUBLE) FROM go2
  UNION ALL SELECT 'go2_grouped_sum', CAST(g2 AS VARCHAR), 'n',
    CAST(n AS DOUBLE) FROM go2
  UNION ALL SELECT 'go3_count_distinct', '', 'dw',
    CAST(count(DISTINCT w) AS DOUBLE) FROM ev
    WHERE g1 = 'error' OR g2 = 3
  UNION ALL SELECT 'go4_avg_like', '', 'aw',
    CAST(sum(w) AS DOUBLE) / count(w) FROM ev
    WHERE g1 LIKE 'c%' OR v <= 100.0)
ORDER BY query_id, grp, metric""")),
    // OR pushed into a JOIN side (r17, second pass): a single-side
    // disjunction reaches the leaf as a pushed-down Filter; the leaf's
    // probe function runs the same I–E, composing with the edge-grid
    // factorization. jo1 is a dim-side OR; jo2 a fact-side OR mixing
    // IN; both require the scan-free plan, DuckDB runs the identical
    // texts.
    Entry("q_approx_join_or",
      (s, d) => {
        import s.implicits._
        graft.plans.ApproxCountRule.attachIfMissing(s)
        val savedRegistry = graft.plans.GraftRuntime.snapshot()
        val savedEnabled =
          s.conf.getOption(graft.plans.GraftRuntime.EnabledKey)
        val cust = s.read.parquet(s"$d/customer.parquet")
        val nat = s.read.parquet(s"$d/nation.parquet")
        val cDom = cachedColumnMeta(s"$d/customer.parquet",
          cust.select("c_nationkey"), "c_nationkey").domain.toSeq
        val nDom = cachedColumnMeta(s"$d/nation.parquet",
          nat.select("n_nationkey"), "n_nationkey").domain.toSeq
        val leC = localExact(s"$d/customer.parquet", cust,
          Seq("c_nationkey", "c_acctbal", "c_mktsegment"))
        val leN = localExact(s"$d/nation.parquet", nat,
          Seq("n_nationkey", "n_regionkey", "n_name"))
        graft.plans.GraftRuntime.register(
          s"$d/customer.parquet",
          Set("c_nationkey", "c_acctbal", "c_mktsegment"),
          preds => leC.count(preds),
          domain = name => if (name == "c_nationkey") Some(cDom) else None)
        graft.plans.GraftRuntime.register(
          s"$d/nation.parquet",
          Set("n_nationkey", "n_regionkey", "n_name"),
          preds => leN.count(preds),
          domain = name => if (name == "n_nationkey") Some(nDom) else None)
        s.conf.set(graft.plans.GraftRuntime.EnabledKey, "true")
        try {
          cust.createOrReplaceTempView("graft_aqp_jo_customer")
          nat.createOrReplaceTempView("graft_aqp_jo_nation")
          val texts = Seq(
            "jo1_dim_or" -> ("SELECT count(*) AS n FROM " +
              "graft_aqp_jo_customer c JOIN graft_aqp_jo_nation n " +
              "ON c.c_nationkey = n.n_nationkey " +
              "WHERE n.n_regionkey <= 1 OR n.n_name = 'JAPAN'"),
            "jo2_fact_or" -> ("SELECT count(*) AS n FROM " +
              "graft_aqp_jo_customer c JOIN graft_aqp_jo_nation n " +
              "ON c.c_nationkey = n.n_nationkey " +
              "WHERE c.c_mktsegment IN ('BUILDING', 'AUTOMOBILE') " +
              "OR c.c_acctbal <= 1000.0"))
          val rows = texts.map { case (qid, sql) =>
            val df = s.sql(sql)
            val plan = df.queryExecution.optimizedPlan.toString
            require(plan.trim.startsWith("LocalRelation"),
              s"join-side OR rewrite did not fire on $qid; plan:\n$plan")
            (qid, df.collect()(0).getLong(0))
          }
          rows.toDF("query_id", "n").orderBy("query_id")
        } finally {
          savedEnabled match {
            case Some(v) => s.conf.set(graft.plans.GraftRuntime.EnabledKey, v)
            case None => s.conf.unset(graft.plans.GraftRuntime.EnabledKey)
          }
          graft.plans.GraftRuntime.restore(savedRegistry)
        }
      },
      Some("""SELECT 'jo1_dim_or' AS query_id,
  CAST(count(*) AS BIGINT) AS n
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE n.n_regionkey <= 1 OR n.n_name = 'JAPAN'
UNION ALL
SELECT 'jo2_fact_or', CAST(count(*) AS BIGINT)
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE c.c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
  OR c.c_acctbal <= 1000.0
ORDER BY query_id""")),
    // Guarantee-gate twin of q_approx_count_or: inclusion–exclusion
    // with a LEARNED model supplying every term (the
    // q_approx_count_bounds discipline — exact references computed
    // BEFORE the rewrite is enabled, per-query q-error ≤ 2.0 inside
    // the oracle hash). I–E composes model estimates with SIGNED
    // terms, so this gate also pins that per-term model error does not
    // blow up through the subtraction (the union here is ~50-70% of
    // the table — far from the cancellation regime).
    Entry("q_approx_count_or_bounds",
      (s, d) => {
        import s.implicits._
        val (model, meta) = lineitemModel(s, d)
        val ps = new ProgressiveSampling(model, meta, numSamples = 1000,
          shortcircuit = true)
        graft.plans.ApproxCountRule.attachIfMissing(s)
        val savedRegistry = graft.plans.GraftRuntime.snapshot()
        val savedEnabled =
          s.conf.getOption(graft.plans.GraftRuntime.EnabledKey)
        val liDf = s.read.parquet(s"$d/lineitem.parquet")
        liDf.createOrReplaceTempView("graft_aqp_orb_lineitem")
        val texts = Seq(
          "ob1_cross_or" -> ("SELECT count(*) AS n FROM " +
            "graft_aqp_orb_lineitem WHERE l_returnflag = 'R' " +
            "OR l_quantity <= 24.0"),
          "ob2_or_and" -> ("SELECT count(*) AS n FROM " +
            "graft_aqp_orb_lineitem WHERE (l_returnflag = 'R' " +
            "OR l_linestatus = 'O') AND l_discount >= 0.02"))
        // exact references BEFORE enabling (else the gate would compare
        // the estimate against itself)
        val exact = texts.map { case (qid, sql) =>
          qid -> s.sql(sql).collect()(0).getLong(0)
        }.toMap
        graft.plans.GraftRuntime.register(s"$d/lineitem.parquet",
          modelCols.toSet, ps.query)
        s.conf.set(graft.plans.GraftRuntime.EnabledKey, "true")
        try {
          val rows = texts.map { case (qid, sql) =>
            val df = s.sql(sql)
            val plan = df.queryExecution.optimizedPlan.toString
            require(plan.trim.startsWith("LocalRelation"),
              s"learned OR rewrite did not fire on $qid; plan:\n$plan")
            val est = math.max(df.collect()(0).getLong(0), 1L)
            val ex = exact(qid)
            val qerr = math.max(est.toDouble / ex, ex.toDouble / est)
            (qid, ex, qerr <= 2.0)
          }
          rows.toDF("query_id", "exact_n", "ok").orderBy("query_id")
        } finally {
          savedEnabled match {
            case Some(v) => s.conf.set(graft.plans.GraftRuntime.EnabledKey, v)
            case None => s.conf.unset(graft.plans.GraftRuntime.EnabledKey)
          }
          graft.plans.GraftRuntime.restore(savedRegistry)
        }
      },
      Some("""SELECT 'ob1_cross_or' AS query_id,
  CAST(count(*) AS BIGINT) AS exact_n, true AS ok
FROM lineitem WHERE l_returnflag = 'R' OR l_quantity <= 24.0
UNION ALL
SELECT 'ob2_or_and', CAST(count(*) AS BIGINT), true
FROM lineitem WHERE (l_returnflag = 'R' OR l_linestatus = 'O')
  AND l_discount >= 0.02
ORDER BY query_id""")),
    // The OPTIMIZER rules speak the full extended vocabulary (r16): the
    // COUNT(*) rewrite (ApproxCountRule) previously extracted only the
    // 5 scalar ops, so a SQL IN / NOT IN / != / IS [NOT] NULL count —
    // exactly the shapes q_sql_front_* added to the front-end — fell
    // through to the scan. PredExtract now parses In (and its
    // post-OptimizeIn InSet form — q2's 11-literal list forces that
    // conversion), Not(In)/Not(InSet), Not(EqualTo), and the null
    // tests. The registered estimator here is the EXACT filter count,
    // so the rewrite is lossless and every answer hash-gates against
    // DuckDB running the identical texts; each query REQUIRES the
    // rewritten LocalRelation plan, so a silent fall-through fails
    // loudly rather than passing vacuously (the q_approx_count
    // contract). Analysis has already cast IN literals to the column
    // type by the time the last-batch rule runs, so the extracted
    // values arrive type-faithful.
    Entry("q_approx_count_vocab",
      (s, d) => {
        import s.implicits._
        graft.plans.ApproxCountRule.attachIfMissing(s)
        val savedRegistry = graft.plans.GraftRuntime.snapshot()
        val savedEnabled =
          s.conf.getOption(graft.plans.GraftRuntime.EnabledKey)
        val liDf = s.read.parquet(s"$d/lineitem.parquet")
        graft.plans.GraftRuntime.register(s"$d/lineitem.parquet",
          modelCols.toSet,
          preds => liDf.filter(Pred.conj(preds)).count())
        s.conf.set(graft.plans.GraftRuntime.EnabledKey, "true")
        try {
          liDf.createOrReplaceTempView("graft_aqp_vocab_lineitem")
          val texts = Seq(
            "q1_in" -> ("SELECT count(*) FROM graft_aqp_vocab_lineitem " +
              "WHERE l_returnflag IN ('A', 'R') AND l_quantity <= 10.0"),
            // 11 literals > spark.sql.optimizer.inSetConversionThreshold
            // (10): OptimizeIn converts to InSet before the rule runs
            "q2_not_inset_neq" ->
              ("SELECT count(*) FROM graft_aqp_vocab_lineitem " +
                "WHERE l_quantity NOT IN " +
                "(1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0, 50.0)" +
                " AND l_linestatus != 'O'"),
            "q3_standalone_not_null" ->
              ("SELECT count(*) FROM graft_aqp_vocab_lineitem " +
                "WHERE l_returnflag IS NOT NULL AND l_discount <= 0.02"),
            "q4_is_null" -> ("SELECT count(*) FROM graft_aqp_vocab_lineitem " +
              "WHERE l_tax IS NULL"))
          val rows = texts.map { case (qid, sql) =>
            val df = s.sql(sql.replace("count(*)", "count(*) AS n"))
            val plan = df.queryExecution.optimizedPlan.toString
            require(plan.trim.startsWith("LocalRelation"),
              s"AQP rewrite did not fire on $qid; optimized plan:\n$plan")
            (qid, df.collect()(0).getLong(0))
          }
          rows.toDF("query_id", "n_rows").orderBy("query_id")
        } finally {
          savedEnabled match {
            case Some(v) => s.conf.set(graft.plans.GraftRuntime.EnabledKey, v)
            case None => s.conf.unset(graft.plans.GraftRuntime.EnabledKey)
          }
          graft.plans.GraftRuntime.restore(savedRegistry)
        }
      },
      Some("""SELECT 'q1_in' AS query_id,
  CAST(count(*) AS BIGINT) AS n_rows FROM lineitem
  WHERE l_returnflag IN ('A', 'R') AND l_quantity <= 10.0
UNION ALL
SELECT 'q2_not_inset_neq', CAST(count(*) AS BIGINT) FROM lineitem
  WHERE l_quantity NOT IN
    (1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0, 50.0)
    AND l_linestatus != 'O'
UNION ALL
SELECT 'q3_standalone_not_null', CAST(count(*) AS BIGINT) FROM lineitem
  WHERE l_returnflag IS NOT NULL AND l_discount <= 0.02
UNION ALL
SELECT 'q4_is_null', CAST(count(*) AS BIGINT) FROM lineitem
  WHERE l_tax IS NULL
ORDER BY query_id""")),
    // count(c) / count(DISTINCT c) through the optimizer (r16 session
    // 3): the two remaining single-aggregate count shapes.  count(c)
    // is one extra NotNull conjunct (SQL ignores nulls); count(DISTINCT
    // c) is the GROUP BY probe vector collapsed to its support size,
    // null slot skipped (NULL never counts toward DISTINCT). Runs on a
    // null-BEARING table so the semantics are actually load-bearing:
    // events with et nulled on event_id % 7 = 0, written to a pid-keyed
    // temp parquet (the rule keys registrations off scan file paths, so
    // a derived column needs a real file behind it — same reasoning as
    // the spec's null-group round-trip). Exact-registered estimator →
    // lossless rewrite, every answer hash-gated against DuckDB
    // recomputing from the identical derivation; each query REQUIRES
    // the LocalRelation plan so a silent fall-through fails loudly.
    Entry("q_approx_count_distinct",
      (s, d) => {
        import s.implicits._
        graft.plans.ApproxCountRule.attachIfMissing(s)
        val savedRegistry = graft.plans.GraftRuntime.snapshot()
        val savedEnabled =
          s.conf.getOption(graft.plans.GraftRuntime.EnabledKey)
        val dir = "/tmp/graft_cntd/" + d.replaceAll("[^A-Za-z0-9]", "_") +
          "_" + ProcessHandle.current().pid()
        deriveOnce(dir) {
          Tables.read(s, d, "events")
            .select(
              when(pmod(col("event_id"), lit(7)) === 0,
                lit(null).cast("string"))
                .otherwise(col("event_type")).as("et"),
              col("value"))
            .write.mode("overwrite").parquet(dir)
        }
        val ev = s.read.parquet(dir)
        // r20: probes through the keyed LocalExact gate oracle (mask ≡
        // filter is gated by q_null_mask_card) — the previous
        // df.filter(conj).count() probe paid one job-scheduling round
        // trip per probe (the r16 lesson, this entry had kept it).
        val le = localExact(dir, ev, Seq("et", "value"))
        val etDomain = le.domainOf("et")
        graft.plans.GraftRuntime.register(dir,
          Set("et", "value"),
          preds => le.count(preds),
          domain = name => if (name == "et") Some(etDomain) else None)
        s.conf.set(graft.plans.GraftRuntime.EnabledKey, "true")
        try {
          ev.createOrReplaceTempView("graft_aqp_cntd_events")
          val texts = Seq(
            "d1_count_col" -> ("SELECT count(et) AS n " +
              "FROM graft_aqp_cntd_events WHERE value <= 20.0"),
            "d2_count_distinct_where" -> ("SELECT count(DISTINCT et) AS n " +
              "FROM graft_aqp_cntd_events WHERE value <= 20.0"),
            "d3_count_distinct" -> ("SELECT count(DISTINCT et) AS n " +
              "FROM graft_aqp_cntd_events"),
            "d4_count_distinct_not_in" ->
              ("SELECT count(DISTINCT et) AS n FROM graft_aqp_cntd_events " +
                "WHERE et NOT IN ('click') AND value <= 50.0"))
          val rows = texts.map { case (qid, sql) =>
            val df = s.sql(sql)
            val plan = df.queryExecution.optimizedPlan.toString
            require(plan.trim.startsWith("LocalRelation"),
              s"count rewrite did not fire on $qid; optimized plan:\n$plan")
            (qid, df.collect()(0).getLong(0))
          }
          rows.toDF("query_id", "n").orderBy("query_id")
        } finally {
          savedEnabled match {
            case Some(v) => s.conf.set(graft.plans.GraftRuntime.EnabledKey, v)
            case None => s.conf.unset(graft.plans.GraftRuntime.EnabledKey)
          }
          graft.plans.GraftRuntime.restore(savedRegistry)
        }
      },
      Some("""WITH ev AS (
  SELECT CASE WHEN event_id % 7 = 0 THEN NULL
              ELSE event_type END AS et, value FROM events)
SELECT 'd1_count_col' AS query_id, CAST(count(et) AS BIGINT) AS n
  FROM ev WHERE value <= 20.0
UNION ALL
SELECT 'd2_count_distinct_where', CAST(count(DISTINCT et) AS BIGINT)
  FROM ev WHERE value <= 20.0
UNION ALL
SELECT 'd3_count_distinct', CAST(count(DISTINCT et) AS BIGINT) FROM ev
UNION ALL
SELECT 'd4_count_distinct_not_in', CAST(count(DISTINCT et) AS BIGINT)
  FROM ev WHERE et NOT IN ('click') AND value <= 50.0
ORDER BY query_id""")),
    // sum/avg/min/max through the optimizer (r16 session 3): the value-
    // aggregate vocabulary as probe-vector functionals (sum = Σ v·n_v,
    // avg = weighted mean, min/max = first/last support value — see
    // ApproxCountRule.rewriteValueAgg). Null-BEARING numeric columns
    // (qty double, ql bigint — nulled on disjoint id residues) make
    // SQL's ignore-nulls semantics load-bearing in every query; v6
    // pins DISTINCT sum (support sum), v7 pins the FILTER-clause fold
    // (the clause must reach the conjunction — matching it as `_`
    // would answer the UNFILTERED sum), v8 pins the empty support →
    // NULL. Integral-valued domains keep every sum/avg bit-exact
    // cross-engine (double-exact ≤ 2^53). Exact-registered estimator
    // over a CACHED derived table (≤ ~135 probe jobs, each an
    // in-memory count); every answer hash-gated against DuckDB
    // recomputing from the identical derivation; each query REQUIRES
    // the LocalRelation plan so a silent fall-through fails loudly.
    Entry("q_approx_value_aggs",
      (s, d) => {
        import s.implicits._
        graft.plans.ApproxCountRule.attachIfMissing(s)
        val savedRegistry = graft.plans.GraftRuntime.snapshot()
        val savedEnabled =
          s.conf.getOption(graft.plans.GraftRuntime.EnabledKey)
        val dir = "/tmp/graft_vagg/" + d.replaceAll("[^A-Za-z0-9]", "_") +
          "_" + ProcessHandle.current().pid()
        deriveOnce(dir) {
          Tables.read(s, d, "events")
            .select(
              when(pmod(col("event_id"), lit(11)) === 0,
                lit(null).cast("double"))
                .otherwise(pmod(col("event_id"), lit(23)).cast("double"))
                .as("qty"),
              when(pmod(col("event_id"), lit(13)) === 0,
                lit(null).cast("long"))
                .otherwise(pmod(col("event_id"), lit(17)).cast("long"))
                .as("ql"),
              col("event_type").as("et"),
              col("value"))
            .write.mode("overwrite").parquet(dir)
        }
        // No persist: every probe is driver-side through the cached
        // LocalExact, domains come from its one-pass metas, and the
        // gate queries are require()d scan-free — the r17-era
        // persist+count bought nothing once setup stopped re-running.
        val ev = s.read.parquet(dir)
        val le = localExact(dir, ev, Seq("qty", "ql", "et", "value"))
        val qtyDomain = le.domainOf("qty")
        val qlDomain = le.domainOf("ql")
        graft.plans.GraftRuntime.register(dir,
          Set("qty", "ql", "et", "value"),
          preds => le.count(preds),
          domain = name => name match {
            case "qty" => Some(qtyDomain)
            case "ql" => Some(qlDomain)
            case _ => None
          })
        s.conf.set(graft.plans.GraftRuntime.EnabledKey, "true")
        try {
          ev.createOrReplaceTempView("graft_aqp_vagg_events")
          val texts = Seq(
            "v1_sum_where" -> ("SELECT sum(qty) AS x " +
              "FROM graft_aqp_vagg_events WHERE value <= 20.0"),
            "v2_sum_long" -> ("SELECT sum(ql) AS x " +
              "FROM graft_aqp_vagg_events WHERE et = 'click'"),
            "v3_avg" -> ("SELECT avg(qty) AS x " +
              "FROM graft_aqp_vagg_events WHERE value <= 50.0"),
            "v4_min" -> ("SELECT min(qty) AS x " +
              "FROM graft_aqp_vagg_events WHERE value <= 30.0"),
            "v5_max" -> ("SELECT max(qty) AS x " +
              "FROM graft_aqp_vagg_events WHERE value <= 30.0"),
            "v6_sum_distinct" -> ("SELECT sum(DISTINCT qty) AS x " +
              "FROM graft_aqp_vagg_events WHERE value <= 40.0"),
            "v7_filter_fold" -> ("SELECT sum(qty) FILTER " +
              "(WHERE et = 'click') AS x " +
              "FROM graft_aqp_vagg_events WHERE value <= 60.0"),
            "v8_empty" -> ("SELECT sum(qty) AS x " +
              "FROM graft_aqp_vagg_events WHERE value <= -1e18"))
          val rows = texts.map { case (qid, sql) =>
            val df = s.sql(sql)
            val plan = df.queryExecution.optimizedPlan.toString
            require(plan.trim.startsWith("LocalRelation"),
              s"value-agg rewrite did not fire on $qid; optimized plan:\n$plan")
            val r = df.collect()(0)
            val x: Option[Double] =
              if (r.isNullAt(0)) None
              else r.get(0) match {
                case l: java.lang.Long => Some(l.toDouble)
                case dd: java.lang.Double => Some(dd)
              }
            (qid, x)
          }
          rows.toDF("query_id", "x").orderBy("query_id")
        } finally {
          savedEnabled match {
            case Some(v) => s.conf.set(graft.plans.GraftRuntime.EnabledKey, v)
            case None => s.conf.unset(graft.plans.GraftRuntime.EnabledKey)
          }
          graft.plans.GraftRuntime.restore(savedRegistry)
        }
      },
      Some("""WITH ev AS (
  SELECT CASE WHEN event_id % 11 = 0 THEN NULL
              ELSE CAST(event_id % 23 AS DOUBLE) END AS qty,
         CASE WHEN event_id % 13 = 0 THEN NULL
              ELSE event_id % 17 END AS ql,
         event_type AS et, value
  FROM events)
SELECT 'v1_sum_where' AS query_id, CAST(sum(qty) AS DOUBLE) AS x
  FROM ev WHERE value <= 20.0
UNION ALL
SELECT 'v2_sum_long', CAST(sum(ql) AS DOUBLE)
  FROM ev WHERE et = 'click'
UNION ALL
SELECT 'v3_avg', CAST(sum(qty) AS DOUBLE) / count(qty)
  FROM ev WHERE value <= 50.0
UNION ALL
SELECT 'v4_min', CAST(min(qty) AS DOUBLE) FROM ev WHERE value <= 30.0
UNION ALL
SELECT 'v5_max', CAST(max(qty) AS DOUBLE) FROM ev WHERE value <= 30.0
UNION ALL
SELECT 'v6_sum_distinct', CAST(sum(DISTINCT qty) AS DOUBLE)
  FROM ev WHERE value <= 40.0
UNION ALL
SELECT 'v7_filter_fold',
  CAST(sum(qty) FILTER (WHERE et = 'click') AS DOUBLE)
  FROM ev WHERE value <= 60.0
UNION ALL
SELECT 'v8_empty', CAST(sum(qty) AS DOUBLE) FROM ev WHERE value <= -1e18
ORDER BY query_id""")),
    // Guarantee-gate twin of q_approx_value_aggs (r17; VERDICT r16 #9):
    // sum/avg answered by a LEARNED model through the probe-vector
    // functional (sum = Σ v·n_v with n_v = the model's count at
    // l_quantity = v) — the q_approx_count_bounds discipline: exact
    // references computed BEFORE the rewrite is enabled, per-cell
    // q-error ≤ 2.0 inside the oracle hash. The per-value learned
    // counts individually carry more error than whole-conjunction
    // estimates; the sum re-aggregates them, and this gate pins that
    // the functional stays inside the same band the count path holds.
    // The exact refs use integral-valued l_quantity, so the DOUBLE
    // arithmetic is deterministic cross-engine (identical sum/division
    // forms on both sides).
    Entry("q_approx_value_aggs_bounds",
      (s, d) => {
        import s.implicits._
        val (model, meta) = lineitemModel(s, d)
        val ps = new ProgressiveSampling(model, meta, numSamples = 1000,
          shortcircuit = true)
        graft.plans.ApproxCountRule.attachIfMissing(s)
        val savedRegistry = graft.plans.GraftRuntime.snapshot()
        val savedEnabled =
          s.conf.getOption(graft.plans.GraftRuntime.EnabledKey)
        val liDf = s.read.parquet(s"$d/lineitem.parquet")
        liDf.createOrReplaceTempView("graft_aqp_vab_lineitem")
        // gate queries are the single-aggregate shapes the rewrite
        // answers; the exact refs use the explicit sum/count forms so
        // the DOUBLE arithmetic is identical to the DuckDB oracle's
        // (integral-valued l_quantity → order-independent exact sums)
        val texts = Seq(
          ("vb1_sum", "SELECT sum(l_quantity) AS x FROM " +
            "graft_aqp_vab_lineitem WHERE l_returnflag = 'R'",
            "SELECT CAST(sum(l_quantity) AS DOUBLE) AS x FROM " +
              "graft_aqp_vab_lineitem WHERE l_returnflag = 'R'"),
          ("vb2_avg", "SELECT avg(l_quantity) AS x FROM " +
            "graft_aqp_vab_lineitem WHERE l_discount >= 0.05",
            "SELECT CAST(sum(l_quantity) AS DOUBLE) / " +
              "count(l_quantity) AS x FROM graft_aqp_vab_lineitem " +
              "WHERE l_discount >= 0.05"))
        // exact refs BEFORE enabling (else the gate would compare the
        // estimate against itself)
        val exact = texts.map { case (qid, _, refSql) =>
          qid -> s.sql(refSql).collect()(0).getDouble(0)
        }.toMap
        graft.plans.GraftRuntime.register(
          s"$d/lineitem.parquet", modelCols.toSet, ps.query,
          domain = name => if (name == "l_quantity")
            Some(meta.column("l_quantity").domain.toSeq) else None)
        s.conf.set(graft.plans.GraftRuntime.EnabledKey, "true")
        try {
          val rows = texts.map { case (qid, sql, _) =>
            val df = s.sql(sql)
            val plan = df.queryExecution.optimizedPlan.toString
            require(plan.trim.startsWith("LocalRelation"),
              s"learned value-agg rewrite did not fire on $qid; " +
                s"plan:\n$plan")
            val est = df.collect()(0).getDouble(0)
            val ex = exact(qid)
            val qerr =
              if (est <= 0.0 || ex <= 0.0) Double.MaxValue
              else math.max(est / ex, ex / est)
            (qid, ex, qerr <= 2.0)
          }
          rows.toDF("query_id", "exact_x", "ok").orderBy("query_id")
        } finally {
          savedEnabled match {
            case Some(v) => s.conf.set(graft.plans.GraftRuntime.EnabledKey, v)
            case None => s.conf.unset(graft.plans.GraftRuntime.EnabledKey)
          }
          graft.plans.GraftRuntime.restore(savedRegistry)
        }
      },
      Some("""SELECT 'vb1_sum' AS query_id,
  CAST(sum(l_quantity) AS DOUBLE) AS exact_x, true AS ok
FROM lineitem WHERE l_returnflag = 'R'
UNION ALL
SELECT 'vb2_avg', CAST(sum(l_quantity) AS DOUBLE) / count(l_quantity),
  true
FROM lineitem WHERE l_discount >= 0.05
ORDER BY query_id""")),
    // Multi-key GROUP BY + DISTINCT + top-k through the optimizer (r16
    // session 4): the grouped rewrite generalized to a probe GRID — one
    // conjunction per combination of the grouping domains. m1 pins the
    // two-key grid under a WHERE; m2 pins SELECT DISTINCT (Catalyst
    // turns Distinct into a grouped Aggregate, so live combos ARE the
    // distinct rows); m3 pins the heavy-hitters shape — ORDER BY n
    // DESC LIMIT k over the rewritten aggregate runs entirely on the
    // probe-grid LocalRelation (driver-side sort of |combos| rows), so
    // top-k groups cost ZERO scans at any data scale. Exact-registered
    // → lossless; every query require()s the scan-free plan.
    Entry("q_approx_groupby_multi",
      (s, d) => {
        import s.implicits._
        graft.plans.ApproxCountRule.attachIfMissing(s)
        val savedRegistry = graft.plans.GraftRuntime.snapshot()
        val savedEnabled =
          s.conf.getOption(graft.plans.GraftRuntime.EnabledKey)
        val liDf = s.read.parquet(s"$d/lineitem.parquet")
        val domains: Map[String, Seq[Any]] = Seq("l_returnflag",
          "l_linestatus").map(c => c ->
          cachedColumnMeta(s"$d/lineitem.parquet", liDf.select(c), c).domain.toSeq).toMap
        // LocalExact, not df.filter(conj).count(): per-probe Spark jobs
        // pay a scheduler round trip EACH — the r16-measured anti-
        // pattern (229 s for a probe-grid workload) — while the
        // driver-side mask scan is microseconds (ADVICE r16).
        val le = localExact(s"$d/lineitem.parquet", liDf, modelCols)
        graft.plans.GraftRuntime.register(
          s"$d/lineitem.parquet", modelCols.toSet,
          preds => le.count(preds),
          domain = name => domains.get(name))
        s.conf.set(graft.plans.GraftRuntime.EnabledKey, "true")
        try {
          liDf.createOrReplaceTempView("graft_aqp_gbm_lineitem")
          val texts = Seq(
            "m1_two_key" -> ("SELECT l_returnflag AS rf, l_linestatus " +
              "AS ls, count(*) AS n FROM graft_aqp_gbm_lineitem " +
              "WHERE l_quantity <= 30.0 " +
              "GROUP BY l_returnflag, l_linestatus"),
            "m2_distinct" -> ("SELECT DISTINCT l_returnflag AS rf, " +
              "l_linestatus AS ls FROM graft_aqp_gbm_lineitem " +
              "WHERE l_discount >= 0.05"),
            "m3_topk" -> ("SELECT l_returnflag AS rf, l_linestatus " +
              "AS ls, count(*) AS n FROM graft_aqp_gbm_lineitem " +
              "GROUP BY l_returnflag, l_linestatus " +
              "ORDER BY n DESC, rf, ls LIMIT 3"))
          val rows = texts.flatMap { case (qid, sql) =>
            val df = s.sql(sql)
            val plan = df.queryExecution.optimizedPlan.toString
            require(!plan.contains("Aggregate") &&
              !plan.contains("parquet") &&
              plan.contains("LocalRelation"),
              s"grid rewrite did not fire on $qid; plan:\n$plan")
            df.collect().map { r =>
              val n = if (qid == "m2_distinct") None
                else Some(r.getLong(2))
              (qid, r.getString(0), r.getString(1), n)
            }
          }
          rows.toDF("query_id", "rf", "ls", "n")
            .orderBy("query_id", "rf", "ls")
        } finally {
          savedEnabled match {
            case Some(v) => s.conf.set(graft.plans.GraftRuntime.EnabledKey, v)
            case None => s.conf.unset(graft.plans.GraftRuntime.EnabledKey)
          }
          graft.plans.GraftRuntime.restore(savedRegistry)
        }
      },
      Some("""SELECT 'm1_two_key' AS query_id, l_returnflag AS rf,
  l_linestatus AS ls, CAST(count(*) AS BIGINT) AS n
FROM lineitem WHERE l_quantity <= 30.0 GROUP BY 2, 3
UNION ALL
SELECT 'm2_distinct', l_returnflag, l_linestatus, CAST(NULL AS BIGINT)
FROM lineitem WHERE l_discount >= 0.05 GROUP BY 2, 3
UNION ALL
SELECT 'm3_topk', rf, ls, n FROM (
  SELECT l_returnflag AS rf, l_linestatus AS ls,
    CAST(count(*) AS BIGINT) AS n
  FROM lineitem GROUP BY 1, 2 ORDER BY n DESC, rf, ls LIMIT 3)
ORDER BY query_id, rf, ls""")),
    // Grouped value aggregates through the optimizer (r16 session 4):
    // the full per-group vocabulary — count(*), count(c),
    // count(DISTINCT c), sum, avg, min, max, per-cell FILTER folds,
    // DISTINCT sum — answered as probe-grid folds over a null-BEARING
    // grouping column (g nulled on id%7 — the NULL group rides the
    // IsNull combo) and a null-bearing value column (qty nulled on
    // id%11 — ignore-nulls semantics load-bearing in every cell).
    // Integral-valued qty keeps sums/avgs bit-exact cross-engine
    // (≤ 2^53). Exact-registered over a derivation DuckDB recomputes
    // identically; the artifact is the unpivoted (query, group,
    // metric, value) grid; every query require()s the scan-free plan.
    Entry("q_approx_group_aggs",
      (s, d) => {
        import s.implicits._
        graft.plans.ApproxCountRule.attachIfMissing(s)
        val savedRegistry = graft.plans.GraftRuntime.snapshot()
        val savedEnabled =
          s.conf.getOption(graft.plans.GraftRuntime.EnabledKey)
        val dir = "/tmp/graft_gagg/" + d.replaceAll("[^A-Za-z0-9]", "_") +
          "_" + ProcessHandle.current().pid()
        deriveOnce(dir) {
          Tables.read(s, d, "events")
            .select(
              when(pmod(col("event_id"), lit(7)) === 0,
                lit(null).cast("string"))
                .otherwise(col("event_type")).as("g"),
              when(pmod(col("event_id"), lit(11)) === 0,
                lit(null).cast("double"))
                .otherwise(pmod(col("event_id"), lit(23)).cast("double"))
                .as("qty"),
              col("value"))
            .write.mode("overwrite").parquet(dir)
        }
        // No persist: probes are driver-side (cached LocalExact),
        // domains read its one-pass metas, gates are scan-free.
        val ev = s.read.parquet(dir)
        val le = localExact(dir, ev, Seq("g", "qty", "value"))
        val gDomain = le.domainOf("g")
        val qtyDomain = le.domainOf("qty")
        graft.plans.GraftRuntime.register(dir,
          Set("g", "qty", "value"),
          preds => le.count(preds),
          domain = name => name match {
            case "g" => Some(gDomain)
            case "qty" => Some(qtyDomain)
            case _ => None
          })
        s.conf.set(graft.plans.GraftRuntime.EnabledKey, "true")
        try {
          ev.createOrReplaceTempView("graft_aqp_gagg_events")
          // (query id, SQL, per-row metric names in select order)
          val texts = Seq(
            ("a1_vocab", "SELECT g, count(*) AS n, count(qty) AS nq, " +
              "count(DISTINCT qty) AS dq, sum(qty) AS sq, " +
              "avg(qty) AS aq, min(qty) AS mnq, max(qty) AS mxq " +
              "FROM graft_aqp_gagg_events WHERE value <= 50.0 GROUP BY g",
              Seq("n", "nq", "dq", "sq", "aq", "mnq", "mxq")),
            ("a2_filter", "SELECT g, sum(qty) FILTER " +
              "(WHERE value <= 20.0) AS s20, count(*) AS n " +
              "FROM graft_aqp_gagg_events GROUP BY g",
              Seq("s20", "n")),
            ("a3_distinct_sum", "SELECT g, sum(DISTINCT qty) AS sd " +
              "FROM graft_aqp_gagg_events WHERE value <= 40.0 GROUP BY g",
              Seq("sd")))
          val rows = texts.flatMap { case (qid, sql, metrics) =>
            val df = s.sql(sql)
            val plan = df.queryExecution.optimizedPlan.toString
            require(plan.trim.startsWith("LocalRelation"),
              s"grouped value-agg rewrite did not fire on $qid; " +
                s"plan:\n$plan")
            df.collect().flatMap { r =>
              val grp = if (r.isNullAt(0)) None else Some(r.getString(0))
              metrics.zipWithIndex.map { case (m, i) =>
                val x: Option[Double] =
                  if (r.isNullAt(i + 1)) None
                  else r.get(i + 1) match {
                    case l: java.lang.Long => Some(l.toDouble)
                    case dd: java.lang.Double => Some(dd)
                  }
                (qid, grp, m, x)
              }
            }
          }
          rows.toDF("query_id", "grp", "metric", "x")
            .orderBy(col("query_id"), col("grp").asc_nulls_first,
              col("metric"))
        } finally {
          savedEnabled match {
            case Some(v) => s.conf.set(graft.plans.GraftRuntime.EnabledKey, v)
            case None => s.conf.unset(graft.plans.GraftRuntime.EnabledKey)
          }
          graft.plans.GraftRuntime.restore(savedRegistry)
        }
      },
      Some("""WITH ev AS (
  SELECT CASE WHEN event_id % 7 = 0 THEN NULL
              ELSE event_type END AS g,
         CASE WHEN event_id % 11 = 0 THEN NULL
              ELSE CAST(event_id % 23 AS DOUBLE) END AS qty,
         value
  FROM events),
a1 AS (
  SELECT g, count(*) AS n, count(qty) AS nq,
    count(DISTINCT qty) AS dq, sum(qty) AS sq,
    CASE WHEN count(qty) = 0 THEN NULL
         ELSE CAST(sum(qty) AS DOUBLE) / count(qty) END AS aq,
    min(qty) AS mnq, max(qty) AS mxq
  FROM ev WHERE value <= 50.0 GROUP BY g),
a2 AS (
  SELECT g, sum(qty) FILTER (WHERE value <= 20.0) AS s20,
    count(*) AS n
  FROM ev GROUP BY g),
a3 AS (
  SELECT g, sum(DISTINCT qty) AS sd
  FROM ev WHERE value <= 40.0 GROUP BY g)
SELECT * FROM (
  SELECT 'a1_vocab' AS query_id, g AS grp, 'n' AS metric,
    CAST(n AS DOUBLE) AS x FROM a1
  UNION ALL SELECT 'a1_vocab', g, 'nq', CAST(nq AS DOUBLE) FROM a1
  UNION ALL SELECT 'a1_vocab', g, 'dq', CAST(dq AS DOUBLE) FROM a1
  UNION ALL SELECT 'a1_vocab', g, 'sq', CAST(sq AS DOUBLE) FROM a1
  UNION ALL SELECT 'a1_vocab', g, 'aq', CAST(aq AS DOUBLE) FROM a1
  UNION ALL SELECT 'a1_vocab', g, 'mnq', CAST(mnq AS DOUBLE) FROM a1
  UNION ALL SELECT 'a1_vocab', g, 'mxq', CAST(mxq AS DOUBLE) FROM a1
  UNION ALL SELECT 'a2_filter', g, 's20', CAST(s20 AS DOUBLE) FROM a2
  UNION ALL SELECT 'a2_filter', g, 'n', CAST(n AS DOUBLE) FROM a2
  UNION ALL SELECT 'a3_distinct_sum', g, 'sd', CAST(sd AS DOUBLE)
    FROM a3)
ORDER BY query_id, grp NULLS FIRST, metric""")),
    // COUNT(*) over an inner equi-join answered from TWO single-table
    // registrations (r16 session 4): |A ⋈ B| = Σ_v n_A(v)·n_B(v) over
    // the key-domain intersection — the reference's single-table
    // estimator vocabulary composed into its first two-table query
    // without a joint model (over a real equi-key the factorization is
    // the join's defining sum, so exact registrations stay lossless;
    // NULL keys are skipped — an inner join never matches them). At
    // 100 TB this replaces the most expensive plan shape there is — a
    // two-fact shuffle join — with |D_∩| millisecond driver probes.
    // Three registrations (customer, nation, supplier) serve two join
    // pairs; side predicates (incl. IN and != from the extended
    // vocabulary) reach each side's estimate through the pushed-down
    // Filters. Every query require()s the scan-free plan.
    Entry("q_approx_join_count",
      (s, d) => {
        import s.implicits._
        graft.plans.ApproxCountRule.attachIfMissing(s)
        val savedRegistry = graft.plans.GraftRuntime.snapshot()
        val savedEnabled =
          s.conf.getOption(graft.plans.GraftRuntime.EnabledKey)
        val cust = s.read.parquet(s"$d/customer.parquet")
        val nat = s.read.parquet(s"$d/nation.parquet")
        val supp = s.read.parquet(s"$d/supplier.parquet")
        val cDom = cachedColumnMeta(s"$d/customer.parquet",
          cust.select("c_nationkey"), "c_nationkey").domain.toSeq
        val nDom = cachedColumnMeta(s"$d/nation.parquet",
          nat.select("n_nationkey"), "n_nationkey").domain.toSeq
        val sDom = cachedColumnMeta(s"$d/supplier.parquet",
          supp.select("s_nationkey"), "s_nationkey").domain.toSeq
        val leC = localExact(s"$d/customer.parquet", cust,
          Seq("c_nationkey", "c_acctbal", "c_mktsegment"))
        val leN = localExact(s"$d/nation.parquet", nat,
          Seq("n_nationkey", "n_regionkey", "n_name"))
        val leS = localExact(s"$d/supplier.parquet", supp, Seq("s_nationkey"))
        graft.plans.GraftRuntime.register(
          s"$d/customer.parquet",
          Set("c_nationkey", "c_acctbal", "c_mktsegment"),
          preds => leC.count(preds),
          domain = name => if (name == "c_nationkey") Some(cDom) else None)
        graft.plans.GraftRuntime.register(
          s"$d/nation.parquet",
          Set("n_nationkey", "n_regionkey", "n_name"),
          preds => leN.count(preds),
          domain = name => if (name == "n_nationkey") Some(nDom) else None)
        graft.plans.GraftRuntime.register(
          s"$d/supplier.parquet", Set("s_nationkey"),
          preds => leS.count(preds),
          domain = name => if (name == "s_nationkey") Some(sDom) else None)
        s.conf.set(graft.plans.GraftRuntime.EnabledKey, "true")
        try {
          cust.createOrReplaceTempView("graft_aqp_jc_customer")
          nat.createOrReplaceTempView("graft_aqp_jc_nation")
          supp.createOrReplaceTempView("graft_aqp_jc_supplier")
          val texts = Seq(
            "j1_bare" -> ("SELECT count(*) AS n FROM " +
              "graft_aqp_jc_customer c JOIN graft_aqp_jc_nation n " +
              "ON c.c_nationkey = n.n_nationkey"),
            "j2_both_sides" -> ("SELECT count(*) AS n FROM " +
              "graft_aqp_jc_customer c JOIN graft_aqp_jc_nation n " +
              "ON c.c_nationkey = n.n_nationkey " +
              "WHERE c.c_acctbal <= 5000.0 AND n.n_regionkey <= 2"),
            "j3_vocab" -> ("SELECT count(*) AS n FROM " +
              "graft_aqp_jc_customer c JOIN graft_aqp_jc_nation n " +
              "ON c.c_nationkey = n.n_nationkey " +
              "WHERE c.c_mktsegment IN ('BUILDING', 'AUTOMOBILE') " +
              "AND n.n_name != 'FRANCE'"),
            "j4_supplier" -> ("SELECT count(*) AS n FROM " +
              "graft_aqp_jc_supplier s JOIN graft_aqp_jc_nation n " +
              "ON s.s_nationkey = n.n_nationkey " +
              "WHERE n.n_regionkey >= 3"))
          val rows = texts.map { case (qid, sql) =>
            val df = s.sql(sql)
            val plan = df.queryExecution.optimizedPlan.toString
            require(plan.trim.startsWith("LocalRelation"),
              s"join-count rewrite did not fire on $qid; plan:\n$plan")
            (qid, df.collect()(0).getLong(0))
          }
          rows.toDF("query_id", "n").orderBy("query_id")
        } finally {
          savedEnabled match {
            case Some(v) => s.conf.set(graft.plans.GraftRuntime.EnabledKey, v)
            case None => s.conf.unset(graft.plans.GraftRuntime.EnabledKey)
          }
          graft.plans.GraftRuntime.restore(savedRegistry)
        }
      },
      Some("""SELECT 'j1_bare' AS query_id, CAST(count(*) AS BIGINT) AS n
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
UNION ALL
SELECT 'j2_both_sides', CAST(count(*) AS BIGINT)
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE c.c_acctbal <= 5000.0 AND n.n_regionkey <= 2
UNION ALL
SELECT 'j3_vocab', CAST(count(*) AS BIGINT)
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE c.c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
  AND n.n_name <> 'FRANCE'
UNION ALL
SELECT 'j4_supplier', CAST(count(*) AS BIGINT)
FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE n.n_regionkey >= 3
ORDER BY query_id""")),
    // EXISTS / IN-subquery / NOT EXISTS through the optimizer (r17
    // third pass): Catalyst plans them as LEFT SEMI / LEFT ANTI
    // equi-joins, which factorize over the key domain as
    // semi = Σ n_L(v)·[n_R(v)>0] and anti = n_L − semi (anti keeps
    // null-key and unmatched left rows — exactly the complement of
    // the non-null matched count). x1/x2 pin EXISTS and IN(subquery)
    // (x2 with an outer conjunct that pushes below the semi join);
    // x3 pins NOT EXISTS; x4 pins the NULL-AWARE anti-join
    // fall-through — `NOT IN (subquery)` plans with the
    // `k = k2 OR isnull(k = k2)` condition whose three-valued
    // semantics are NOT this factorization, so it must not rewrite
    // (its scan answer still hash-matches). Exact registrations →
    // lossless; ≤2·|D_L| driver probes replace the semi/anti shuffle.
    Entry("q_approx_exists",
      (s, d) => {
        import s.implicits._
        graft.plans.ApproxCountRule.attachIfMissing(s)
        val savedRegistry = graft.plans.GraftRuntime.snapshot()
        val savedEnabled =
          s.conf.getOption(graft.plans.GraftRuntime.EnabledKey)
        val cust = s.read.parquet(s"$d/customer.parquet")
        val nat = s.read.parquet(s"$d/nation.parquet")
        val cDom = cachedColumnMeta(s"$d/customer.parquet",
          cust.select("c_nationkey"), "c_nationkey").domain.toSeq
        val nDom = cachedColumnMeta(s"$d/nation.parquet",
          nat.select("n_nationkey"), "n_nationkey").domain.toSeq
        val leC = localExact(s"$d/customer.parquet", cust,
          Seq("c_nationkey", "c_acctbal", "c_mktsegment"))
        val leN = localExact(s"$d/nation.parquet", nat,
          Seq("n_nationkey", "n_regionkey", "n_name"))
        graft.plans.GraftRuntime.register(
          s"$d/customer.parquet",
          Set("c_nationkey", "c_acctbal", "c_mktsegment"),
          preds => leC.count(preds),
          domain = name => if (name == "c_nationkey") Some(cDom) else None)
        graft.plans.GraftRuntime.register(
          s"$d/nation.parquet",
          Set("n_nationkey", "n_regionkey", "n_name"),
          preds => leN.count(preds),
          domain = name => if (name == "n_nationkey") Some(nDom) else None)
        s.conf.set(graft.plans.GraftRuntime.EnabledKey, "true")
        try {
          cust.createOrReplaceTempView("graft_aqp_ex_customer")
          nat.createOrReplaceTempView("graft_aqp_ex_nation")
          val texts = Seq(
            ("x1_exists", "SELECT count(*) AS n FROM " +
              "graft_aqp_ex_customer c WHERE EXISTS (SELECT 1 FROM " +
              "graft_aqp_ex_nation n WHERE n.n_nationkey = " +
              "c.c_nationkey AND n.n_regionkey <= 1)", true),
            ("x2_in_subquery", "SELECT count(*) AS n FROM " +
              "graft_aqp_ex_customer WHERE c_nationkey IN " +
              "(SELECT n_nationkey FROM graft_aqp_ex_nation " +
              "WHERE n_regionkey >= 3) AND c_acctbal <= 5000.0", true),
            ("x3_not_exists", "SELECT count(*) AS n FROM " +
              "graft_aqp_ex_customer c WHERE NOT EXISTS (SELECT 1 " +
              "FROM graft_aqp_ex_nation n WHERE n.n_nationkey = " +
              "c.c_nationkey AND n.n_name LIKE 'UNITED%')", true),
            // r18 (VERDICT r17 #4): the null-aware anti join is now
            // ANSWERED (three-valued factorization), no longer a
            // pinned fall-through — the null-bearing branches are
            // gated by q_approx_not_in_null
            ("x4_not_in_nullfree",
              "SELECT count(*) AS n FROM graft_aqp_ex_customer " +
                "WHERE c_nationkey NOT IN (SELECT n_nationkey FROM " +
                "graft_aqp_ex_nation WHERE n_regionkey <= 0)", true))
          val rows = texts.map { case (qid, sql, mustRewrite) =>
            val df = s.sql(sql)
            val plan = df.queryExecution.optimizedPlan.toString
            if (mustRewrite)
              require(plan.trim.startsWith("LocalRelation"),
                s"semi/anti rewrite did not fire on $qid; plan:\n$plan")
            else
              require(!plan.trim.startsWith("LocalRelation"),
                s"expected fall-through on $qid; plan:\n$plan")
            (qid, df.collect()(0).getLong(0))
          }
          rows.toDF("query_id", "n").orderBy("query_id")
        } finally {
          savedEnabled match {
            case Some(v) => s.conf.set(graft.plans.GraftRuntime.EnabledKey, v)
            case None => s.conf.unset(graft.plans.GraftRuntime.EnabledKey)
          }
          graft.plans.GraftRuntime.restore(savedRegistry)
        }
      },
      Some("""SELECT 'x1_exists' AS query_id,
  CAST(count(*) AS BIGINT) AS n FROM customer c
WHERE EXISTS (SELECT 1 FROM nation n
  WHERE n.n_nationkey = c.c_nationkey AND n.n_regionkey <= 1)
UNION ALL
SELECT 'x2_in_subquery', CAST(count(*) AS BIGINT) FROM customer
WHERE c_nationkey IN (SELECT n_nationkey FROM nation
  WHERE n_regionkey >= 3) AND c_acctbal <= 5000.0
UNION ALL
SELECT 'x3_not_exists', CAST(count(*) AS BIGINT) FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM nation n
  WHERE n.n_nationkey = c.c_nationkey AND n.n_name LIKE 'UNITED%')
UNION ALL
SELECT 'x4_not_in_nullfree', CAST(count(*) AS BIGINT)
FROM customer WHERE c_nationkey NOT IN
  (SELECT n_nationkey FROM nation WHERE n_regionkey <= 0)
ORDER BY query_id""")),
    // Value/count aggregates over EXISTS / NOT EXISTS (r17 third
    // pass): `SELECT sum(x) FROM A WHERE EXISTS (…)` — semi/anti
    // output IS the left side filtered, so the matched-key probe is a
    // drop-in estimate for the same probe-vector folds. Null-bearing
    // integral-valued value column; exact registrations → lossless;
    // scan-free plans require()d; DuckDB recomputes the identical
    // derivation.
    Entry("q_approx_exists_aggs",
      (s, d) => {
        import s.implicits._
        graft.plans.ApproxCountRule.attachIfMissing(s)
        val savedRegistry = graft.plans.GraftRuntime.snapshot()
        val savedEnabled =
          s.conf.getOption(graft.plans.GraftRuntime.EnabledKey)
        val base = "/tmp/graft_exa/" + d.replaceAll("[^A-Za-z0-9]", "_") +
          "_" + ProcessHandle.current().pid()
        deriveOnce(base) {
          val evBase = Tables.read(s, d, "events")
            .filter(pmod(col("event_id"), lit(97)) === 0)
          evBase.select(
              pmod(col("event_id"), lit(5)).as("k1"),
              when(pmod(col("event_id"), lit(11)) === 0,
                lit(null).cast("double"))
                .otherwise(pmod(col("event_id"), lit(13)).cast("double"))
                .as("w"))
            .write.mode("overwrite").parquet(s"$base/l.parquet")
          evBase.select(
              pmod(col("event_id") + 1, lit(5)).as("k1"),
              pmod(col("event_id"), lit(3)).as("b"))
            .write.mode("overwrite").parquet(s"$base/r.parquet")
        }
        val dl = s.read.parquet(s"$base/l.parquet")
        val dr = s.read.parquet(s"$base/r.parquet")
        val leL = localExact(s"$base/l.parquet", dl, Seq("k1", "w"))
        val leR = localExact(s"$base/r.parquet", dr, Seq("k1", "b"))
        val lDoms = Seq("k1", "w").map(c => c -> leL.domainOf(c)).toMap
        val rDoms = Seq("k1").map(c => c -> leR.domainOf(c)).toMap
        graft.plans.GraftRuntime.register(s"$base/l.parquet",
          Set("k1", "w"), preds => leL.count(preds),
          domain = name => lDoms.get(name))
        graft.plans.GraftRuntime.register(s"$base/r.parquet",
          Set("k1", "b"), preds => leR.count(preds),
          domain = name => rDoms.get(name))
        s.conf.set(graft.plans.GraftRuntime.EnabledKey, "true")
        try {
          dl.createOrReplaceTempView("graft_aqp_exa_l")
          dr.createOrReplaceTempView("graft_aqp_exa_r")
          val exists = "EXISTS (SELECT 1 FROM graft_aqp_exa_r r " +
            "WHERE r.k1 = l.k1 AND r.b != 0)"
          val texts = Seq(
            "e1_sum_exists" -> ("SELECT sum(l.w) AS x FROM " +
              s"graft_aqp_exa_l l WHERE $exists"),
            "e2_avg_not_exists" -> ("SELECT avg(l.w) AS x FROM " +
              s"graft_aqp_exa_l l WHERE NOT $exists"),
            "e3_count_distinct_exists" ->
              ("SELECT count(DISTINCT l.w) AS x FROM " +
                s"graft_aqp_exa_l l WHERE $exists"),
            "e4_count_col_exists" -> ("SELECT count(l.w) AS x FROM " +
              s"graft_aqp_exa_l l WHERE $exists"))
          val rows = texts.map { case (qid, sql) =>
            val df = s.sql(sql)
            val plan = df.queryExecution.optimizedPlan.toString
            require(plan.trim.startsWith("LocalRelation"),
              s"semi/anti agg rewrite did not fire on $qid; " +
                s"plan:\n$plan")
            val r0 = df.collect()(0)
            val x: Option[Double] =
              if (r0.isNullAt(0)) None
              else r0.get(0) match {
                case l: java.lang.Long => Some(l.toDouble)
                case dd: java.lang.Double => Some(dd)
              }
            (qid, x)
          }
          rows.toDF("query_id", "x").orderBy("query_id")
        } finally {
          savedEnabled match {
            case Some(v) => s.conf.set(graft.plans.GraftRuntime.EnabledKey, v)
            case None => s.conf.unset(graft.plans.GraftRuntime.EnabledKey)
          }
          graft.plans.GraftRuntime.restore(savedRegistry)
        }
      },
      Some("""WITH basee AS (SELECT * FROM events WHERE event_id % 97 = 0),
l AS (SELECT event_id % 5 AS k1,
             CASE WHEN event_id % 11 = 0 THEN NULL
                  ELSE CAST(event_id % 13 AS DOUBLE) END AS w
      FROM basee),
r AS (SELECT (event_id + 1) % 5 AS k1, event_id % 3 AS b FROM basee)
SELECT * FROM (
  SELECT 'e1_sum_exists' AS query_id, CAST(sum(w) AS DOUBLE) AS x
  FROM l WHERE EXISTS (SELECT 1 FROM r
    WHERE r.k1 = l.k1 AND r.b != 0)
  UNION ALL
  SELECT 'e2_avg_not_exists',
    CASE WHEN count(w) = 0 THEN NULL
         ELSE CAST(sum(w) AS DOUBLE) / count(w) END
  FROM l WHERE NOT EXISTS (SELECT 1 FROM r
    WHERE r.k1 = l.k1 AND r.b != 0)
  UNION ALL
  SELECT 'e3_count_distinct_exists', CAST(count(DISTINCT w) AS DOUBLE)
  FROM l WHERE EXISTS (SELECT 1 FROM r
    WHERE r.k1 = l.k1 AND r.b != 0)
  UNION ALL
  SELECT 'e4_count_col_exists', CAST(count(w) AS DOUBLE)
  FROM l WHERE EXISTS (SELECT 1 FROM r
    WHERE r.k1 = l.k1 AND r.b != 0))
ORDER BY query_id""")),
    // Null-aware NOT IN (subquery) ANSWERED, not refused (r18, VERDICT
    // r17 #4): Catalyst plans `k NOT IN (SELECT kk …)` on a nullable
    // key as LeftAnti with condition `k = kk OR isnull(k = kk)`; SQL's
    // three-valued semantics factorize exactly — empty subquery keeps
    // every row (null keys too), a NULL in the subquery keeps none,
    // else anti restricted to non-null left keys. All four branches
    // (null-bearing / null-free / empty / with a left WHERE) must
    // rewrite scan-free; DuckDB runs the identical texts over the
    // identical derivation (a null-bearing fixture on BOTH sides).
    Entry("q_approx_not_in_null",
      (s, d) => {
        import s.implicits._
        graft.plans.ApproxCountRule.attachIfMissing(s)
        val savedRegistry = graft.plans.GraftRuntime.snapshot()
        val savedEnabled =
          s.conf.getOption(graft.plans.GraftRuntime.EnabledKey)
        val base = "/tmp/graft_nin/" + d.replaceAll("[^A-Za-z0-9]", "_") +
          "_" + ProcessHandle.current().pid()
        deriveOnce(base) {
          val evBase = Tables.read(s, d, "events")
            .filter(pmod(col("event_id"), lit(97)) === 0)
          evBase.select(
              when(pmod(col("event_id"), lit(13)) === 0,
                lit(null).cast("long"))
                .otherwise(pmod(col("event_id"), lit(7))).as("k"),
              pmod(col("event_id"), lit(5)).as("w"))
            .write.mode("overwrite").parquet(s"$base/l.parquet")
          evBase.select(
              when(pmod(col("event_id"), lit(17)) === 0,
                lit(null).cast("long"))
                .otherwise(pmod(col("event_id") + 1, lit(9))).as("kk"),
              pmod(col("event_id"), lit(3)).as("b"))
            .write.mode("overwrite").parquet(s"$base/r.parquet")
        }
        val dl = s.read.parquet(s"$base/l.parquet")
        val dr = s.read.parquet(s"$base/r.parquet")
        val leL = localExact(s"$base/l.parquet", dl, Seq("k", "w"))
        val leR = localExact(s"$base/r.parquet", dr, Seq("kk", "b"))
        val lDoms = Seq("k").map(c => c -> leL.domainOf(c)).toMap
        val rDoms = Seq("kk").map(c => c -> leR.domainOf(c)).toMap
        graft.plans.GraftRuntime.register(s"$base/l.parquet",
          Set("k", "w"), preds => leL.count(preds),
          domain = name => lDoms.get(name))
        graft.plans.GraftRuntime.register(s"$base/r.parquet",
          Set("kk", "b"), preds => leR.count(preds),
          domain = name => rDoms.get(name))
        s.conf.set(graft.plans.GraftRuntime.EnabledKey, "true")
        try {
          dl.createOrReplaceTempView("graft_aqp_nin_l")
          dr.createOrReplaceTempView("graft_aqp_nin_r")
          val texts = Seq(
            // subquery carries NULLs -> every comparison UNKNOWN -> 0
            "nn1_null_bearing" -> ("SELECT count(*) AS n FROM " +
              "graft_aqp_nin_l WHERE k NOT IN " +
              "(SELECT kk FROM graft_aqp_nin_r)"),
            // null-free subquery -> anti over non-null left keys
            "nn2_null_free" -> ("SELECT count(*) AS n FROM " +
              "graft_aqp_nin_l WHERE k NOT IN " +
              "(SELECT kk FROM graft_aqp_nin_r " +
              "WHERE kk IS NOT NULL AND b != 0)"),
            // empty subquery -> NOT IN () is TRUE for ALL rows,
            // null left keys included
            "nn3_empty_subquery" -> ("SELECT count(*) AS n FROM " +
              "graft_aqp_nin_l WHERE k NOT IN " +
              "(SELECT kk FROM graft_aqp_nin_r WHERE b = 7)"),
            // a left WHERE conjunct rides the left leaf's mask
            "nn4_with_where" -> ("SELECT count(*) AS n FROM " +
              "graft_aqp_nin_l WHERE w <= 3 AND k NOT IN " +
              "(SELECT kk FROM graft_aqp_nin_r " +
              "WHERE kk IS NOT NULL AND b = 0)"))
          val rows = texts.map { case (qid, sql) =>
            val df = s.sql(sql)
            val plan = df.queryExecution.optimizedPlan.toString
            require(plan.trim.startsWith("LocalRelation"),
              s"null-aware NOT IN rewrite did not fire on $qid; " +
                s"plan:\n$plan")
            (qid, df.collect()(0).getLong(0))
          }
          // the three-valued branches must be DISTINGUISHABLE on this
          // fixture: the null-bearing branch is exactly zero, the
          // empty-subquery branch keeps every row
          require(rows.find(_._1 == "nn1_null_bearing").get._2 == 0L,
            "null-bearing NOT IN must keep zero rows")
          require(rows.find(_._1 == "nn3_empty_subquery").get._2 ==
            dl.count(), "empty-subquery NOT IN must keep every row")
          rows.toDF("query_id", "n").orderBy("query_id")
        } finally {
          savedEnabled match {
            case Some(v) => s.conf.set(graft.plans.GraftRuntime.EnabledKey, v)
            case None => s.conf.unset(graft.plans.GraftRuntime.EnabledKey)
          }
          graft.plans.GraftRuntime.restore(savedRegistry)
        }
      },
      Some("""WITH basee AS (SELECT * FROM events WHERE event_id % 97 = 0),
l AS (SELECT CASE WHEN event_id % 13 = 0 THEN NULL
             ELSE event_id % 7 END AS k,
             event_id % 5 AS w FROM basee),
r AS (SELECT CASE WHEN event_id % 17 = 0 THEN NULL
             ELSE (event_id + 1) % 9 END AS kk,
             event_id % 3 AS b FROM basee)
SELECT * FROM (
  SELECT 'nn1_null_bearing' AS query_id, CAST(count(*) AS BIGINT) AS n
  FROM l WHERE k NOT IN (SELECT kk FROM r)
  UNION ALL
  SELECT 'nn2_null_free', CAST(count(*) AS BIGINT)
  FROM l WHERE k NOT IN (SELECT kk FROM r
    WHERE kk IS NOT NULL AND b != 0)
  UNION ALL
  SELECT 'nn3_empty_subquery', CAST(count(*) AS BIGINT)
  FROM l WHERE k NOT IN (SELECT kk FROM r WHERE b = 7)
  UNION ALL
  SELECT 'nn4_with_where', CAST(count(*) AS BIGINT)
  FROM l WHERE w <= 3 AND k NOT IN (SELECT kk FROM r
    WHERE kk IS NOT NULL AND b = 0))
ORDER BY query_id""")),
    // Composite-key EXISTS / NOT EXISTS (r18, VERDICT r17 #5): an AND
    // of equalities in the subquery — `EXISTS (SELECT 1 FROM r WHERE
    // r.k1 = l.k1 AND r.k2 = l.k2)` — factorizes over the per-key
    // domain-pair GRID (one axis per equality; each matched probe
    // carries BOTH Eq conjuncts, so absent combinations count 0).
    // Grouped and value-aggregate forms ride the same probe. The left
    // key k1 is null-bearing: null keys never match (EXISTS) and stay
    // kept (NOT EXISTS) — n_L − semi gets both for free. Exact
    // registrations → lossless; scan-free plans require()d; DuckDB
    // runs the identical texts.
    Entry("q_approx_exists_composite",
      (s, d) => {
        import s.implicits._
        graft.plans.ApproxCountRule.attachIfMissing(s)
        val savedRegistry = graft.plans.GraftRuntime.snapshot()
        val savedEnabled =
          s.conf.getOption(graft.plans.GraftRuntime.EnabledKey)
        val base = "/tmp/graft_exc/" + d.replaceAll("[^A-Za-z0-9]", "_") +
          "_" + ProcessHandle.current().pid()
        deriveOnce(base) {
          val evBase = Tables.read(s, d, "events")
            .filter(pmod(col("event_id"), lit(97)) === 0)
          evBase.select(
              when(pmod(col("event_id"), lit(11)) === 0,
                lit(null).cast("long"))
                .otherwise(pmod(col("event_id"), lit(5))).as("k1"),
              pmod(col("event_id"), lit(3)).as("k2"),
              when(pmod(col("event_id"), lit(13)) === 0,
                lit(null).cast("double"))
                .otherwise(pmod(col("event_id"), lit(7)).cast("double"))
                .as("w"))
            .write.mode("overwrite").parquet(s"$base/l.parquet")
          evBase.select(
              pmod(col("event_id") + 1, lit(5)).as("k1"),
              pmod(col("event_id"), lit(3)).as("k2"),
              pmod(col("event_id"), lit(4)).as("b"))
            .write.mode("overwrite").parquet(s"$base/r.parquet")
        }
        val dl = s.read.parquet(s"$base/l.parquet")
        val dr = s.read.parquet(s"$base/r.parquet")
        val leL = localExact(s"$base/l.parquet", dl, Seq("k1", "k2", "w"))
        val leR = localExact(s"$base/r.parquet", dr, Seq("k1", "k2", "b"))
        val lDoms = Seq("k1", "k2", "w").map(c => c -> leL.domainOf(c)).toMap
        val rDoms = Seq("k1", "k2").map(c => c -> leR.domainOf(c)).toMap
        graft.plans.GraftRuntime.register(s"$base/l.parquet",
          Set("k1", "k2", "w"), preds => leL.count(preds),
          domain = name => lDoms.get(name))
        graft.plans.GraftRuntime.register(s"$base/r.parquet",
          Set("k1", "k2", "b"), preds => leR.count(preds),
          domain = name => rDoms.get(name))
        s.conf.set(graft.plans.GraftRuntime.EnabledKey, "true")
        try {
          dl.createOrReplaceTempView("graft_aqp_exc_l")
          dr.createOrReplaceTempView("graft_aqp_exc_r")
          val exComposite = "EXISTS (SELECT 1 FROM graft_aqp_exc_r r " +
            "WHERE r.k1 = l.k1 AND r.k2 = l.k2 AND r.b != 0)"
          val texts = Seq(
            "c1_exists" -> ("SELECT count(*) AS n FROM " +
              s"graft_aqp_exc_l l WHERE $exComposite"),
            "c2_not_exists" -> ("SELECT count(*) AS n FROM " +
              s"graft_aqp_exc_l l WHERE NOT $exComposite"),
            // raw sum (a CAST around the aggregate would change the
            // Aggregate shape); w is integral-valued double, so the
            // client-side toLong is exact and hash-safe
            "c3_sum_exists" -> ("SELECT sum(l.w) AS n " +
              s"FROM graft_aqp_exc_l l WHERE $exComposite"))
          val rows = texts.map { case (qid, sql) =>
            val df = s.sql(sql)
            val plan = df.queryExecution.optimizedPlan.toString
            require(plan.trim.startsWith("LocalRelation"),
              s"composite semi/anti rewrite did not fire on $qid; " +
                s"plan:\n$plan")
            val r0 = df.collect()(0)
            val v = if (qid == "c3_sum_exists") r0.getDouble(0).toLong
              else r0.getLong(0)
            (qid, v)
          }
          // grouped composite EXISTS: the grid rides the same probe
          val gSql = "SELECT l.k2 AS grp, count(*) AS n FROM " +
            s"graft_aqp_exc_l l WHERE $exComposite GROUP BY l.k2"
          val gDf = s.sql(gSql)
          require(gDf.queryExecution.optimizedPlan.toString.trim
            .startsWith("LocalRelation"),
            "grouped composite semi rewrite did not fire")
          val gRows = gDf.collect().map(r =>
            (s"c4_grouped_k2_${r.getLong(0)}", r.getLong(1))).toSeq
          (rows ++ gRows).toDF("query_id", "n").orderBy("query_id")
        } finally {
          savedEnabled match {
            case Some(v) => s.conf.set(graft.plans.GraftRuntime.EnabledKey, v)
            case None => s.conf.unset(graft.plans.GraftRuntime.EnabledKey)
          }
          graft.plans.GraftRuntime.restore(savedRegistry)
        }
      },
      Some("""WITH basee AS (SELECT * FROM events WHERE event_id % 97 = 0),
l AS (SELECT CASE WHEN event_id % 11 = 0 THEN NULL
             ELSE event_id % 5 END AS k1,
             event_id % 3 AS k2,
             CASE WHEN event_id % 13 = 0 THEN NULL
                  ELSE CAST(event_id % 7 AS DOUBLE) END AS w
      FROM basee),
r AS (SELECT (event_id + 1) % 5 AS k1, event_id % 3 AS k2,
             event_id % 4 AS b FROM basee)
SELECT * FROM (
  SELECT 'c1_exists' AS query_id, CAST(count(*) AS BIGINT) AS n
  FROM l WHERE EXISTS (SELECT 1 FROM r
    WHERE r.k1 = l.k1 AND r.k2 = l.k2 AND r.b != 0)
  UNION ALL
  SELECT 'c2_not_exists', CAST(count(*) AS BIGINT)
  FROM l WHERE NOT EXISTS (SELECT 1 FROM r
    WHERE r.k1 = l.k1 AND r.k2 = l.k2 AND r.b != 0)
  UNION ALL
  SELECT 'c3_sum_exists', CAST(sum(w) AS BIGINT)
  FROM l WHERE EXISTS (SELECT 1 FROM r
    WHERE r.k1 = l.k1 AND r.k2 = l.k2 AND r.b != 0)
  UNION ALL
  SELECT 'c4_grouped_k2_' || CAST(k2 AS VARCHAR),
    CAST(count(*) AS BIGINT)
  FROM l WHERE EXISTS (SELECT 1 FROM r
    WHERE r.k1 = l.k1 AND r.k2 = l.k2 AND r.b != 0)
  GROUP BY k2)
ORDER BY query_id""")),
    // COUNT over UNION ALL of registered partitions (r18): the shape a
    // 100 TB fact table stored as monthly/daily shards produces —
    // count(*) and count(c) answer as the SUM of per-partition
    // estimates, a WHERE above the union reaching every branch via
    // Catalyst's own PushDownPredicatesThroughUnion, and an
    // EXISTS-filtered branch riding the semi-leaf abstraction. Exact
    // registrations → lossless; scan-free plans require()d; DuckDB
    // runs the identical texts.
    Entry("q_approx_union_count",
      (s, d) => {
        import s.implicits._
        graft.plans.ApproxCountRule.attachIfMissing(s)
        val savedRegistry = graft.plans.GraftRuntime.snapshot()
        val savedEnabled =
          s.conf.getOption(graft.plans.GraftRuntime.EnabledKey)
        val base = "/tmp/graft_unc/" + d.replaceAll("[^A-Za-z0-9]", "_") +
          "_" + ProcessHandle.current().pid()
        deriveOnce(base) {
          val evBase = Tables.read(s, d, "events")
            .filter(pmod(col("event_id"), lit(97)) === 0)
          def shard(parity: Int) = evBase
            .filter(pmod(col("event_id") / 97, lit(2)) === parity)
            .select(
              pmod(col("event_id"), lit(5)).as("k"),
              when(pmod(col("event_id"), lit(11)) === 0,
                lit(null).cast("double"))
                .otherwise(pmod(col("event_id"), lit(13)).cast("double"))
                .as("w"))
          shard(0).write.mode("overwrite").parquet(s"$base/t1.parquet")
          shard(1).write.mode("overwrite").parquet(s"$base/t2.parquet")
          evBase.select(
              pmod(col("event_id") + 1, lit(5)).as("k"),
              pmod(col("event_id"), lit(3)).as("b"))
            .write.mode("overwrite").parquet(s"$base/r.parquet")
        }
        val t1 = s.read.parquet(s"$base/t1.parquet")
        val t2 = s.read.parquet(s"$base/t2.parquet")
        val rD = s.read.parquet(s"$base/r.parquet")
        val le1 = localExact(s"$base/t1.parquet", t1, Seq("k", "w"))
        val le2 = localExact(s"$base/t2.parquet", t2, Seq("k", "w"))
        val leR = localExact(s"$base/r.parquet", rD, Seq("k", "b"))
        val d1 = Seq("k", "w").map(c => c -> le1.domainOf(c)).toMap
        val d2 = Seq("k", "w").map(c => c -> le2.domainOf(c)).toMap
        val dR = Seq("k").map(c => c -> leR.domainOf(c)).toMap
        graft.plans.GraftRuntime.register(s"$base/t1.parquet",
          Set("k", "w"), preds => le1.count(preds), domain = n => d1.get(n))
        graft.plans.GraftRuntime.register(s"$base/t2.parquet",
          Set("k", "w"), preds => le2.count(preds), domain = n => d2.get(n))
        graft.plans.GraftRuntime.register(s"$base/r.parquet",
          Set("k", "b"), preds => leR.count(preds), domain = n => dR.get(n))
        s.conf.set(graft.plans.GraftRuntime.EnabledKey, "true")
        try {
          t1.createOrReplaceTempView("graft_aqp_unc_t1")
          t2.createOrReplaceTempView("graft_aqp_unc_t2")
          rD.createOrReplaceTempView("graft_aqp_unc_r")
          val union = "SELECT * FROM graft_aqp_unc_t1 UNION ALL " +
            "SELECT * FROM graft_aqp_unc_t2"
          val texts = Seq(
            "un1_count" ->
              s"SELECT count(*) AS n FROM ($union)",
            "un2_where_pushed" ->
              s"SELECT count(*) AS n FROM ($union) WHERE k <= 2",
            "un3_count_col" ->
              s"SELECT count(w) AS n FROM ($union) WHERE k != 1",
            "un4_semi_branch" -> ("SELECT count(*) AS n FROM (" +
              "SELECT * FROM graft_aqp_unc_t1 t1 WHERE EXISTS " +
              "(SELECT 1 FROM graft_aqp_unc_r r WHERE r.k = t1.k " +
              "AND r.b != 0) UNION ALL " +
              "SELECT * FROM graft_aqp_unc_t2)"))
          val rows = texts.map { case (qid, sql) =>
            val df = s.sql(sql)
            val plan = df.queryExecution.optimizedPlan.toString
            require(plan.trim.startsWith("LocalRelation"),
              s"union-count rewrite did not fire on $qid; plan:\n$plan")
            (qid, df.collect()(0).getLong(0))
          }
          // grouped shard-union report: per-group sums across the
          // canonically merged group domain (null group included)
          val gSql = "SELECT k, count(*) AS n, count(w) AS nw FROM " +
            s"($union) GROUP BY k"
          val gDf = s.sql(gSql)
          require(gDf.queryExecution.optimizedPlan.toString.trim
            .startsWith("LocalRelation"),
            "grouped union rewrite did not fire")
          val gRows = gDf.collect().flatMap { r =>
            Seq((s"un5_grouped_${r.getLong(0)}_n", r.getLong(1)),
              (s"un5_grouped_${r.getLong(0)}_nw", r.getLong(2)))
          }.toSeq
          (rows ++ gRows).toDF("query_id", "n").orderBy("query_id")
        } finally {
          savedEnabled match {
            case Some(v) => s.conf.set(graft.plans.GraftRuntime.EnabledKey, v)
            case None => s.conf.unset(graft.plans.GraftRuntime.EnabledKey)
          }
          graft.plans.GraftRuntime.restore(savedRegistry)
        }
      },
      Some("""WITH basee AS (SELECT * FROM events WHERE event_id % 97 = 0),
t1 AS (SELECT event_id % 5 AS k,
              CASE WHEN event_id % 11 = 0 THEN NULL
                   ELSE CAST(event_id % 13 AS DOUBLE) END AS w
       FROM basee WHERE (event_id // 97) % 2 = 0),
t2 AS (SELECT event_id % 5 AS k,
              CASE WHEN event_id % 11 = 0 THEN NULL
                   ELSE CAST(event_id % 13 AS DOUBLE) END AS w
       FROM basee WHERE (event_id // 97) % 2 = 1),
r AS (SELECT (event_id + 1) % 5 AS k, event_id % 3 AS b FROM basee)
SELECT * FROM (
  SELECT 'un1_count' AS query_id, CAST(count(*) AS BIGINT) AS n
  FROM (SELECT * FROM t1 UNION ALL SELECT * FROM t2)
  UNION ALL
  SELECT 'un2_where_pushed', CAST(count(*) AS BIGINT)
  FROM (SELECT * FROM t1 UNION ALL SELECT * FROM t2) WHERE k <= 2
  UNION ALL
  SELECT 'un3_count_col', CAST(count(w) AS BIGINT)
  FROM (SELECT * FROM t1 UNION ALL SELECT * FROM t2) WHERE k != 1
  UNION ALL
  SELECT 'un4_semi_branch', CAST(count(*) AS BIGINT)
  FROM (SELECT * FROM t1 WHERE EXISTS (SELECT 1 FROM r
          WHERE r.k = t1.k AND r.b != 0)
        UNION ALL SELECT * FROM t2)
  UNION ALL
  SELECT 'un5_grouped_' || CAST(k AS VARCHAR) || '_n',
    CAST(count(*) AS BIGINT)
  FROM (SELECT * FROM t1 UNION ALL SELECT * FROM t2) GROUP BY k
  UNION ALL
  SELECT 'un5_grouped_' || CAST(k AS VARCHAR) || '_nw',
    CAST(count(w) AS BIGINT)
  FROM (SELECT * FROM t1 UNION ALL SELECT * FROM t2) GROUP BY k)
ORDER BY query_id""")),
    // VALUE aggregates over UNION ALL of registered partitions (r19,
    // VERDICT r18 #1): the sharded-fact report — sum/avg/min/max,
    // their DISTINCT forms, and count(DISTINCT) answer from the
    // canonical-key MERGE of per-branch value domains (the union's
    // count at value v is the Σ of per-branch probes, each branch
    // probed with its OWN representative; distinct values cross
    // partitions, which is exactly what the merge models — the r18
    // count-only rewrite deliberately fell through here). Grouped
    // forms ride the same merged probe vector with per-branch group
    // conjuncts. Exact registrations → lossless (integral-valued
    // doubles keep the DOUBLE arithmetic deterministic cross-engine);
    // scan-free plans require()d; DuckDB runs the identical texts.
    Entry("q_approx_union_aggs",
      (s, d) => {
        import s.implicits._
        graft.plans.ApproxCountRule.attachIfMissing(s)
        val savedRegistry = graft.plans.GraftRuntime.snapshot()
        val savedEnabled =
          s.conf.getOption(graft.plans.GraftRuntime.EnabledKey)
        val base = "/tmp/graft_una/" + d.replaceAll("[^A-Za-z0-9]", "_") +
          "_" + ProcessHandle.current().pid()
        deriveOnce(base) {
          val evBase = Tables.read(s, d, "events")
            .filter(pmod(col("event_id"), lit(97)) === 0)
          def shard(parity: Int) = evBase
            .filter(pmod(col("event_id") / 97, lit(2)) === parity)
            .select(
              pmod(col("event_id"), lit(5)).as("k"),
              when(pmod(col("event_id"), lit(11)) === 0,
                lit(null).cast("double"))
                .otherwise(pmod(col("event_id"), lit(13)).cast("double"))
                .as("w"),
              pmod(col("event_id"), lit(9)).as("v"))
          shard(0).write.mode("overwrite").parquet(s"$base/t1.parquet")
          shard(1).write.mode("overwrite").parquet(s"$base/t2.parquet")
        }
        val t1 = s.read.parquet(s"$base/t1.parquet")
        val t2 = s.read.parquet(s"$base/t2.parquet")
        val le1 = localExact(s"$base/t1.parquet", t1, Seq("k", "w", "v"))
        val le2 = localExact(s"$base/t2.parquet", t2, Seq("k", "w", "v"))
        val d1 = Seq("k", "w", "v").map(c => c -> le1.domainOf(c)).toMap
        val d2 = Seq("k", "w", "v").map(c => c -> le2.domainOf(c)).toMap
        graft.plans.GraftRuntime.register(s"$base/t1.parquet",
          Set("k", "w", "v"), preds => le1.count(preds), domain = n => d1.get(n))
        graft.plans.GraftRuntime.register(s"$base/t2.parquet",
          Set("k", "w", "v"), preds => le2.count(preds), domain = n => d2.get(n))
        s.conf.set(graft.plans.GraftRuntime.EnabledKey, "true")
        try {
          t1.createOrReplaceTempView("graft_aqp_una_t1")
          t2.createOrReplaceTempView("graft_aqp_una_t2")
          val union = "SELECT * FROM graft_aqp_una_t1 UNION ALL " +
            "SELECT * FROM graft_aqp_una_t2"
          def asX(r: org.apache.spark.sql.Row, i: Int): Option[Double] =
            if (r.isNullAt(i)) None
            else r.get(i) match {
              case l: java.lang.Long => Some(l.toDouble)
              case dd: java.lang.Double => Some(dd)
            }
          val texts = Seq(
            "ua1_sum" -> s"SELECT sum(w) AS x FROM ($union)",
            "ua2_sum_long" -> s"SELECT sum(v) AS x FROM ($union)",
            "ua3_avg" ->
              s"SELECT avg(w) AS x FROM ($union) WHERE k <= 2",
            "ua4_min" ->
              s"SELECT min(w) AS x FROM ($union) WHERE k != 1",
            "ua5_max" ->
              s"SELECT max(w) AS x FROM ($union) WHERE k != 1",
            "ua6_sum_distinct" ->
              s"SELECT sum(DISTINCT w) AS x FROM ($union)",
            "ua7_count_distinct" ->
              s"SELECT count(DISTINCT w) AS x FROM ($union) WHERE k >= 1",
            // r19 second pass: FILTER clauses fold per branch
            "ua9_sum_filter" ->
              s"SELECT sum(w) FILTER (WHERE k <= 2) AS x FROM ($union)",
            "ua9b_count_filter" -> ("SELECT count(*) FILTER " +
              s"(WHERE w >= 5.0) AS x FROM ($union) WHERE k != 0"))
          val rows = texts.map { case (qid, sql) =>
            val df = s.sql(sql)
            val plan = df.queryExecution.optimizedPlan.toString
            require(plan.trim.startsWith("LocalRelation"),
              s"union value-agg rewrite did not fire on $qid; " +
                s"plan:\n$plan")
            (qid, asX(df.collect()(0), 0))
          }
          // grouped shard report: value + DISTINCT cells per group
          val gSql = "SELECT k, sum(w) AS sw, count(DISTINCT w) AS dw, " +
            s"min(w) AS mw, avg(w) AS aw FROM ($union) GROUP BY k"
          val gDf = s.sql(gSql)
          require(gDf.queryExecution.optimizedPlan.toString.trim
            .startsWith("LocalRelation"),
            "grouped union value-agg rewrite did not fire")
          val gRows = gDf.collect().flatMap { r =>
            val k = r.getLong(0)
            Seq((s"ua8_${k}_sw", asX(r, 1)), (s"ua8_${k}_dw", asX(r, 2)),
              (s"ua8_${k}_mw", asX(r, 3)), (s"ua8_${k}_aw", asX(r, 4)))
          }.toSeq
          (rows ++ gRows).toDF("query_id", "x").orderBy("query_id")
        } finally {
          savedEnabled match {
            case Some(v) => s.conf.set(graft.plans.GraftRuntime.EnabledKey, v)
            case None => s.conf.unset(graft.plans.GraftRuntime.EnabledKey)
          }
          graft.plans.GraftRuntime.restore(savedRegistry)
        }
      },
      Some("""WITH basee AS (SELECT * FROM events WHERE event_id % 97 = 0),
t1 AS (SELECT event_id % 5 AS k,
              CASE WHEN event_id % 11 = 0 THEN NULL
                   ELSE CAST(event_id % 13 AS DOUBLE) END AS w,
              event_id % 9 AS v
       FROM basee WHERE (event_id // 97) % 2 = 0),
t2 AS (SELECT event_id % 5 AS k,
              CASE WHEN event_id % 11 = 0 THEN NULL
                   ELSE CAST(event_id % 13 AS DOUBLE) END AS w,
              event_id % 9 AS v
       FROM basee WHERE (event_id // 97) % 2 = 1),
u AS (SELECT * FROM t1 UNION ALL SELECT * FROM t2)
SELECT * FROM (
  SELECT 'ua1_sum' AS query_id, CAST(sum(w) AS DOUBLE) AS x FROM u
  UNION ALL
  SELECT 'ua2_sum_long', CAST(sum(v) AS DOUBLE) FROM u
  UNION ALL
  SELECT 'ua3_avg', CAST(sum(w) AS DOUBLE) / count(w) FROM u
    WHERE k <= 2
  UNION ALL
  SELECT 'ua4_min', CAST(min(w) AS DOUBLE) FROM u WHERE k != 1
  UNION ALL
  SELECT 'ua5_max', CAST(max(w) AS DOUBLE) FROM u WHERE k != 1
  UNION ALL
  SELECT 'ua6_sum_distinct', CAST(sum(DISTINCT w) AS DOUBLE) FROM u
  UNION ALL
  SELECT 'ua7_count_distinct', CAST(count(DISTINCT w) AS DOUBLE)
    FROM u WHERE k >= 1
  UNION ALL
  SELECT 'ua9_sum_filter',
    CAST(sum(w) FILTER (WHERE k <= 2) AS DOUBLE) FROM u
  UNION ALL
  SELECT 'ua9b_count_filter',
    CAST(count(*) FILTER (WHERE w >= 5.0) AS DOUBLE) FROM u
    WHERE k != 0
  UNION ALL
  SELECT 'ua8_' || CAST(k AS VARCHAR) || '_sw',
    CAST(sum(w) AS DOUBLE) FROM u GROUP BY k
  UNION ALL
  SELECT 'ua8_' || CAST(k AS VARCHAR) || '_dw',
    CAST(count(DISTINCT w) AS DOUBLE) FROM u GROUP BY k
  UNION ALL
  SELECT 'ua8_' || CAST(k AS VARCHAR) || '_mw',
    CAST(min(w) AS DOUBLE) FROM u GROUP BY k
  UNION ALL
  SELECT 'ua8_' || CAST(k AS VARCHAR) || '_aw',
    CAST(sum(w) AS DOUBLE) / count(w) FROM u GROUP BY k)
ORDER BY query_id""")),
    // OUTER joins inside N-table join trees (r19, VERDICT r18 #2):
    // `fact LEFT JOIN dim1 JOIN dim2` — the outer join composes as a
    // TWO-SIDED join-tree leaf (outerSource's leaf view): its modeled columns are
    // the union of both sides' registrations (shared names excluded —
    // by-name routing must stay unambiguous), its estimator routes
    // conjuncts per side through outerEstimate, its cost multiplies
    // probeCost into every composed budget, and a non-preserved
    // side's domains gain the synthetic null slot so inner edges skip
    // extension rows (NULL never equi-matches) and grouping keys
    // surface the SQL null group. Exact registrations → lossless;
    // scan-free plans require()d; DuckDB runs the identical texts.
    Entry("q_approx_outer_in_tree",
      (s, d) => {
        import s.implicits._
        graft.plans.ApproxCountRule.attachIfMissing(s)
        val savedRegistry = graft.plans.GraftRuntime.snapshot()
        val savedEnabled =
          s.conf.getOption(graft.plans.GraftRuntime.EnabledKey)
        val base = "/tmp/graft_oit/" + d.replaceAll("[^A-Za-z0-9]", "_") +
          "_" + ProcessHandle.current().pid()
        deriveOnce(base) {
          val ev = Tables.read(s, d, "events")
          ev.filter(pmod(col("event_id"), lit(97)) === 0)
            .select(
              pmod(col("event_id"), lit(5)).as("k1"),
              pmod(col("event_id"), lit(3)).as("k2"),
              when(pmod(col("event_id"), lit(13)) === 0,
                lit(null).cast("double"))
                .otherwise(pmod(col("event_id"), lit(7)).cast("double"))
                .as("w"))
            .write.mode("overwrite").parquet(s"$base/f.parquet")
          // dim keys deliberately COVER ONLY PART of the fact key range:
          // m1 in {0,1,2} vs k1 in 0..4 (outer extension rows), j2 in
          // {0,1} vs k2 in 0..2 (inner edge drops)
          ev.filter(pmod(col("event_id"), lit(291)) === 0)
            .select(
              pmod(col("event_id"), lit(3)).as("m1"),
              pmod(col("event_id"), lit(4)).as("a"))
            .write.mode("overwrite").parquet(s"$base/dl.parquet")
          ev.filter(pmod(col("event_id"), lit(485)) === 0)
            .select(
              pmod(col("event_id"), lit(2)).as("j2"),
              pmod(col("event_id"), lit(6)).as("b"))
            .write.mode("overwrite").parquet(s"$base/d2.parquet")
        }
        val fD = s.read.parquet(s"$base/f.parquet")
        val dlD = s.read.parquet(s"$base/dl.parquet")
        val d2D = s.read.parquet(s"$base/d2.parquet")
        val leF = localExact(s"$base/f.parquet", fD, Seq("k1", "k2", "w"))
        val leDl = localExact(s"$base/dl.parquet", dlD, Seq("m1", "a"))
        val leD2 = localExact(s"$base/d2.parquet", d2D, Seq("j2", "b"))
        val domF = Seq("k1", "k2", "w").map(c => c -> leF.domainOf(c)).toMap
        val domDl = Seq("m1", "a").map(c => c -> leDl.domainOf(c)).toMap
        val domD2 = Seq("j2", "b").map(c => c -> leD2.domainOf(c)).toMap
        graft.plans.GraftRuntime.register(s"$base/f.parquet",
          Set("k1", "k2", "w"), preds => leF.count(preds),
          domain = n => domF.get(n))
        graft.plans.GraftRuntime.register(s"$base/dl.parquet",
          Set("m1", "a"), preds => leDl.count(preds), domain = n => domDl.get(n))
        graft.plans.GraftRuntime.register(s"$base/d2.parquet",
          Set("j2", "b"), preds => leD2.count(preds), domain = n => domD2.get(n))
        s.conf.set(graft.plans.GraftRuntime.EnabledKey, "true")
        try {
          fD.createOrReplaceTempView("graft_aqp_oit_f")
          dlD.createOrReplaceTempView("graft_aqp_oit_dl")
          d2D.createOrReplaceTempView("graft_aqp_oit_d2")
          val tree = "graft_aqp_oit_f f LEFT JOIN graft_aqp_oit_dl dl " +
            "ON f.k1 = dl.m1 JOIN graft_aqp_oit_d2 d2 ON f.k2 = d2.j2"
          val fullTree = "graft_aqp_oit_f f FULL JOIN graft_aqp_oit_dl " +
            "dl ON f.k1 = dl.m1 JOIN graft_aqp_oit_d2 d2 " +
            "ON f.k2 = d2.j2"
          val texts = Seq(
            "ot1_count" -> s"SELECT count(*) AS x FROM $tree",
            "ot2_sum" -> s"SELECT sum(f.w) AS x FROM $tree",
            "ot3_full" -> s"SELECT count(*) AS x FROM $fullTree",
            "ot4_where" ->
              s"SELECT count(*) AS x FROM $tree WHERE f.w <= 4.0",
            "ot5_count_col" -> s"SELECT count(dl.a) AS x FROM $tree")
          def asX(r: org.apache.spark.sql.Row): Option[Double] =
            if (r.isNullAt(0)) None
            else r.get(0) match {
              case l: java.lang.Long => Some(l.toDouble)
              case dd: java.lang.Double => Some(dd)
            }
          val rows = texts.map { case (qid, sql) =>
            val df = s.sql(sql)
            val plan = df.queryExecution.optimizedPlan.toString
            require(plan.trim.startsWith("LocalRelation"),
              s"outer-in-tree rewrite did not fire on $qid; " +
                s"plan:\n$plan")
            (qid, asX(df.collect()(0)))
          }
          // grouped by the NON-preserved side's attribute: unmatched
          // fact rows land in the synthetic NULL group
          val gSql = "SELECT dl.a AS grp, count(*) AS n, " +
            s"sum(f.w) AS sw FROM $tree GROUP BY dl.a"
          val gDf = s.sql(gSql)
          require(gDf.queryExecution.optimizedPlan.toString.trim
            .startsWith("LocalRelation"),
            "grouped outer-in-tree rewrite did not fire")
          val gRows = gDf.collect().flatMap { r =>
            val g = if (r.isNullAt(0)) "<NULL>" else r.getLong(0).toString
            Seq((s"ot6_${g}_n", Some(r.getLong(1).toDouble)),
              (s"ot6_${g}_sw",
                if (r.isNullAt(2)) None else Some(r.getDouble(2))))
          }.toSeq
          (rows ++ gRows).toDF("query_id", "x").orderBy("query_id")
        } finally {
          savedEnabled match {
            case Some(v) => s.conf.set(graft.plans.GraftRuntime.EnabledKey, v)
            case None => s.conf.unset(graft.plans.GraftRuntime.EnabledKey)
          }
          graft.plans.GraftRuntime.restore(savedRegistry)
        }
      },
      Some("""WITH basee AS (SELECT * FROM events WHERE event_id % 97 = 0),
f AS (SELECT event_id % 5 AS k1, event_id % 3 AS k2,
             CASE WHEN event_id % 13 = 0 THEN NULL
                  ELSE CAST(event_id % 7 AS DOUBLE) END AS w
      FROM basee),
dl AS (SELECT event_id % 3 AS m1, event_id % 4 AS a
       FROM events WHERE event_id % 291 = 0),
d2 AS (SELECT event_id % 2 AS j2, event_id % 6 AS b
       FROM events WHERE event_id % 485 = 0)
SELECT * FROM (
  SELECT 'ot1_count' AS query_id, CAST(count(*) AS DOUBLE) AS x
  FROM f LEFT JOIN dl ON f.k1 = dl.m1 JOIN d2 ON f.k2 = d2.j2
  UNION ALL
  SELECT 'ot2_sum', CAST(sum(f.w) AS DOUBLE)
  FROM f LEFT JOIN dl ON f.k1 = dl.m1 JOIN d2 ON f.k2 = d2.j2
  UNION ALL
  SELECT 'ot3_full', CAST(count(*) AS DOUBLE)
  FROM f FULL JOIN dl ON f.k1 = dl.m1 JOIN d2 ON f.k2 = d2.j2
  UNION ALL
  SELECT 'ot4_where', CAST(count(*) AS DOUBLE)
  FROM f LEFT JOIN dl ON f.k1 = dl.m1 JOIN d2 ON f.k2 = d2.j2
  WHERE f.w <= 4.0
  UNION ALL
  SELECT 'ot5_count_col', CAST(count(dl.a) AS DOUBLE)
  FROM f LEFT JOIN dl ON f.k1 = dl.m1 JOIN d2 ON f.k2 = d2.j2
  UNION ALL
  SELECT 'ot6_' || coalesce(CAST(dl.a AS VARCHAR), '<NULL>') || '_n',
    CAST(count(*) AS DOUBLE)
  FROM f LEFT JOIN dl ON f.k1 = dl.m1 JOIN d2 ON f.k2 = d2.j2
  GROUP BY dl.a
  UNION ALL
  SELECT 'ot6_' || coalesce(CAST(dl.a AS VARCHAR), '<NULL>') || '_sw',
    CAST(sum(f.w) AS DOUBLE)
  FROM f LEFT JOIN dl ON f.k1 = dl.m1 JOIN d2 ON f.k2 = d2.j2
  GROUP BY dl.a)
ORDER BY query_id""")),
    // Multi-aggregate UNGROUPED selects (r19 fourth pass): `SELECT
    // count(*), sum(x), min(x), … FROM …` — THE summary-stats row —
    // routes through the grouped grid with ZERO grouping keys: one
    // combo, every cell on the shared probe function, the row emitted
    // even at count 0 (SQL's no-GROUP-BY semantics: counts 0, sums
    // NULL). Composes with every child shape (scan, join tree,
    // semi/anti, outer, union) and with FILTER cells. Exact
    // registrations → lossless; scan-free plans require()d; DuckDB
    // runs the identical texts.
    Entry("q_approx_multi_agg",
      (s, d) => {
        import s.implicits._
        graft.plans.ApproxCountRule.attachIfMissing(s)
        val savedRegistry = graft.plans.GraftRuntime.snapshot()
        val savedEnabled =
          s.conf.getOption(graft.plans.GraftRuntime.EnabledKey)
        val (dir, dfs, doms, les) = joinWorkloadData(s, d)
        Seq(
          "f" -> Set("k1", "k2", "g", "w", "dt"),
          "d1" -> Set("k1", "k2", "a", "s")).foreach { case (t, cols) =>
          graft.plans.GraftRuntime.register(
            s"$dir/$t.parquet", cols,
            preds => les(t).count(preds), domain = name => doms.get((t, name)))
        }
        s.conf.set(graft.plans.GraftRuntime.EnabledKey, "true")
        try {
          dfs("f").createOrReplaceTempView("graft_aqp_ma_f")
          dfs("d1").createOrReplaceTempView("graft_aqp_ma_d1")
          // (qid, sql, metric count)
          val texts = Seq(
            ("ma1_scan", "SELECT count(*) AS m1, sum(w) AS m2, " +
              "min(w) AS m3, max(w) AS m4, avg(w) AS m5, " +
              "count(DISTINCT k2) AS m6 FROM graft_aqp_ma_f " +
              "WHERE k1 <= 3", 6),
            ("ma2_empty", "SELECT count(*) AS m1, sum(w) AS m2 " +
              "FROM graft_aqp_ma_f WHERE w >= 100.0", 2),
            ("ma3_join", "SELECT count(*) AS m1, sum(f.w) AS m2, " +
              "min(d1.a) AS m3, count(f.w) FILTER (WHERE d1.s " +
              "LIKE 'c%') AS m4 FROM graft_aqp_ma_f f JOIN " +
              "graft_aqp_ma_d1 d1 ON f.k1 = d1.k1", 4),
            ("ma4_exists", "SELECT count(*) AS m1, max(f.w) AS m2 " +
              "FROM graft_aqp_ma_f f WHERE EXISTS (SELECT 1 FROM " +
              "graft_aqp_ma_d1 d1 WHERE d1.k1 = f.k1 AND d1.a >= 2)",
              2),
            ("ma5_outer", "SELECT count(*) AS m1, count(d1.a) AS m2, " +
              "sum(f.w) AS m3 FROM graft_aqp_ma_f f LEFT JOIN " +
              "graft_aqp_ma_d1 d1 ON f.k1 = d1.k1", 3),
            ("ma6_union", "SELECT count(*) AS m1, sum(w) AS m2, " +
              "count(DISTINCT w) AS m3 FROM (SELECT * FROM " +
              "graft_aqp_ma_f WHERE k1 <= 2 UNION ALL SELECT * " +
              "FROM graft_aqp_ma_f WHERE k1 >= 3)", 3))
          val rows = texts.flatMap { case (qid, sql, nm) =>
            val df = s.sql(sql)
            val plan = df.queryExecution.optimizedPlan.toString
            require(plan.trim.startsWith("LocalRelation"),
              s"multi-agg rewrite did not fire on $qid; plan:\n$plan")
            val r = df.collect()(0)
            (0 until nm).map { j =>
              val x: Option[Double] =
                if (r.isNullAt(j)) None
                else r.get(j) match {
                  case l: java.lang.Long => Some(l.toDouble)
                  case dd: java.lang.Double => Some(dd)
                }
              (qid, s"m${j + 1}", x)
            }
          }
          rows.toDF("query_id", "metric", "x")
            .orderBy("query_id", "metric")
        } finally {
          savedEnabled match {
            case Some(v) => s.conf.set(graft.plans.GraftRuntime.EnabledKey, v)
            case None => s.conf.unset(graft.plans.GraftRuntime.EnabledKey)
          }
          graft.plans.GraftRuntime.restore(savedRegistry)
        }
      },
      Some("""WITH f AS (SELECT event_id % 5 AS k1, event_id % 3 AS k2,
         CASE WHEN event_id % 7 = 0 THEN NULL ELSE event_type END AS g,
         CASE WHEN event_id % 11 = 0 THEN NULL
              ELSE CAST(event_id % 12 AS DOUBLE) END AS w,
         DATE '2023-12-01' + CAST(event_id % 300 AS INTEGER) AS dt
       FROM events WHERE event_id % 13 = 0),
d1 AS (SELECT (event_id + 1) % 5 AS k1, event_id % 3 AS k2,
         event_id % 4 AS a, event_type AS s
       FROM events WHERE event_id % 291 = 0)
SELECT * FROM (
  SELECT 'ma1_scan' AS query_id, 'm1' AS metric,
    CAST(count(*) AS DOUBLE) AS x FROM f WHERE k1 <= 3
  UNION ALL
  SELECT 'ma1_scan', 'm2', CAST(sum(w) AS DOUBLE) FROM f WHERE k1 <= 3
  UNION ALL
  SELECT 'ma1_scan', 'm3', CAST(min(w) AS DOUBLE) FROM f WHERE k1 <= 3
  UNION ALL
  SELECT 'ma1_scan', 'm4', CAST(max(w) AS DOUBLE) FROM f WHERE k1 <= 3
  UNION ALL
  SELECT 'ma1_scan', 'm5', CAST(sum(w) AS DOUBLE) / count(w)
  FROM f WHERE k1 <= 3
  UNION ALL
  SELECT 'ma1_scan', 'm6', CAST(count(DISTINCT k2) AS DOUBLE)
  FROM f WHERE k1 <= 3
  UNION ALL
  SELECT 'ma2_empty', 'm1', CAST(count(*) AS DOUBLE)
  FROM f WHERE w >= 100.0
  UNION ALL
  SELECT 'ma2_empty', 'm2', CAST(sum(w) AS DOUBLE)
  FROM f WHERE w >= 100.0
  UNION ALL
  SELECT 'ma3_join', 'm1', CAST(count(*) AS DOUBLE)
  FROM f JOIN d1 ON f.k1 = d1.k1
  UNION ALL
  SELECT 'ma3_join', 'm2', CAST(sum(f.w) AS DOUBLE)
  FROM f JOIN d1 ON f.k1 = d1.k1
  UNION ALL
  SELECT 'ma3_join', 'm3', CAST(min(d1.a) AS DOUBLE)
  FROM f JOIN d1 ON f.k1 = d1.k1
  UNION ALL
  SELECT 'ma3_join', 'm4',
    CAST(count(f.w) FILTER (WHERE d1.s LIKE 'c%') AS DOUBLE)
  FROM f JOIN d1 ON f.k1 = d1.k1
  UNION ALL
  SELECT 'ma4_exists', 'm1', CAST(count(*) AS DOUBLE) FROM f
  WHERE EXISTS (SELECT 1 FROM d1 WHERE d1.k1 = f.k1 AND d1.a >= 2)
  UNION ALL
  SELECT 'ma4_exists', 'm2', CAST(max(f.w) AS DOUBLE) FROM f
  WHERE EXISTS (SELECT 1 FROM d1 WHERE d1.k1 = f.k1 AND d1.a >= 2)
  UNION ALL
  SELECT 'ma5_outer', 'm1', CAST(count(*) AS DOUBLE)
  FROM f LEFT JOIN d1 ON f.k1 = d1.k1
  UNION ALL
  SELECT 'ma5_outer', 'm2', CAST(count(d1.a) AS DOUBLE)
  FROM f LEFT JOIN d1 ON f.k1 = d1.k1
  UNION ALL
  SELECT 'ma5_outer', 'm3', CAST(sum(f.w) AS DOUBLE)
  FROM f LEFT JOIN d1 ON f.k1 = d1.k1
  UNION ALL
  SELECT 'ma6_union', 'm1', CAST(count(*) AS DOUBLE)
  FROM (SELECT * FROM f WHERE k1 <= 2
        UNION ALL SELECT * FROM f WHERE k1 >= 3)
  UNION ALL
  SELECT 'ma6_union', 'm2', CAST(sum(w) AS DOUBLE)
  FROM (SELECT * FROM f WHERE k1 <= 2
        UNION ALL SELECT * FROM f WHERE k1 >= 3)
  UNION ALL
  SELECT 'ma6_union', 'm3', CAST(count(DISTINCT w) AS DOUBLE)
  FROM (SELECT * FROM f WHERE k1 <= 2
        UNION ALL SELECT * FROM f WHERE k1 >= 3))
ORDER BY query_id, metric""")),
    // INNER join trees as LEAVES (r19 second pass — completing the
    // leaf recursion): everywhere a leaf resolves outside a flattening
    // context, a whole inner equi-join tree now acts as ONE
    // registration — extra conjuncts routed by name to their owning
    // scan, cost = the tree's bounded edge-grid budget. Closes the
    // union-of-STARS shard layout (`(fact JOIN dim WHERE …) UNION ALL
    // (fact JOIN dim WHERE …)`), outer joins whose preserved side is a
    // join tree, and EXISTS keyed on TWO tables of the outer query
    // (the semi join cannot push into one side, so its left IS the
    // tree). Exact registrations → lossless; scan-free plans
    // require()d; DuckDB runs the identical texts.
    Entry("q_approx_tree_leaves",
      (s, d) => {
        import s.implicits._
        graft.plans.ApproxCountRule.attachIfMissing(s)
        val savedRegistry = graft.plans.GraftRuntime.snapshot()
        val savedEnabled =
          s.conf.getOption(graft.plans.GraftRuntime.EnabledKey)
        val (dir, dfs, doms, les) = joinWorkloadData(s, d)
        Seq(
          "f" -> Set("k1", "k2", "g", "w", "dt"),
          "d3" -> Set("m1", "c"),
          "d2" -> Set("k2", "b")).foreach { case (t, cols) =>
          graft.plans.GraftRuntime.register(
            s"$dir/$t.parquet", cols,
            preds => les(t).count(preds), domain = name => doms.get((t, name)))
        }
        s.conf.set(graft.plans.GraftRuntime.EnabledKey, "true")
        try {
          dfs("f").createOrReplaceTempView("graft_aqp_tl_f")
          dfs("d3").createOrReplaceTempView("graft_aqp_tl_d3")
          dfs("d2").createOrReplaceTempView("graft_aqp_tl_d2")
          val star = "graft_aqp_tl_f f JOIN graft_aqp_tl_d3 d3 " +
            "ON f.k1 = d3.m1"
          val texts = Seq(
            // union of stars: the sharded-star layout
            "tl1_union_stars" -> ("SELECT count(*) AS n FROM (" +
              s"SELECT * FROM $star WHERE f.w <= 4.0 UNION ALL " +
              s"SELECT * FROM $star WHERE d3.c >= 2)"),
            // raw sum (a CAST around the aggregate would change the
            // Aggregate shape); w is integral-valued double, so the
            // client-side toLong is exact and hash-safe
            "tl2_union_sum" -> ("SELECT sum(w) AS n FROM (" +
              s"SELECT f.*, d3.c AS dc FROM $star WHERE f.g IS NOT " +
              s"NULL UNION ALL SELECT f.*, d3.c AS dc FROM $star " +
              "WHERE f.w != 5.0)"),
            // outer join whose preserved side is a TREE
            "tl3_outer_tree" -> (s"SELECT count(*) AS n FROM $star " +
              "LEFT JOIN graft_aqp_tl_d2 d2 ON f.k2 = d2.k2"),
            // EXISTS keyed on two tables of the outer query
            "tl4_exists_two_keys" -> (s"SELECT count(*) AS n FROM " +
              s"$star WHERE EXISTS (SELECT 1 FROM graft_aqp_tl_d2 " +
              "d2 WHERE d2.k2 = f.k2 AND d2.b = d3.c)"))
          val rows = texts.map { case (qid, sql) =>
            val df = s.sql(sql)
            val plan = df.queryExecution.optimizedPlan.toString
            require(plan.trim.startsWith("LocalRelation"),
              s"tree-leaf rewrite did not fire on $qid; plan:\n$plan")
            val r0 = df.collect()(0)
            val v = if (qid == "tl2_union_sum") r0.getDouble(0).toLong
              else r0.getLong(0)
            (qid, v)
          }
          // grouped leg: outer-over-tree with the dim attribute
          val gSql = "SELECT d3.c AS grp, count(*) AS n FROM " +
            s"$star LEFT JOIN graft_aqp_tl_d2 d2 ON f.k2 = d2.k2 " +
            "GROUP BY d3.c"
          val gDf = s.sql(gSql)
          require(gDf.queryExecution.optimizedPlan.toString.trim
            .startsWith("LocalRelation"),
            "grouped tree-leaf rewrite did not fire")
          val gRows = gDf.collect().map { r =>
            val g = if (r.isNullAt(0)) "<NULL>" else r.get(0).toString
            (s"tl5_grouped_$g", r.getLong(1))
          }.toSeq
          (rows ++ gRows).toDF("query_id", "n").orderBy("query_id")
        } finally {
          savedEnabled match {
            case Some(v) => s.conf.set(graft.plans.GraftRuntime.EnabledKey, v)
            case None => s.conf.unset(graft.plans.GraftRuntime.EnabledKey)
          }
          graft.plans.GraftRuntime.restore(savedRegistry)
        }
      },
      Some("""WITH f AS (SELECT event_id % 5 AS k1, event_id % 3 AS k2,
         CASE WHEN event_id % 7 = 0 THEN NULL ELSE event_type END AS g,
         CASE WHEN event_id % 11 = 0 THEN NULL
              ELSE CAST(event_id % 12 AS DOUBLE) END AS w,
         DATE '2023-12-01' + CAST(event_id % 300 AS INTEGER) AS dt
       FROM events WHERE event_id % 13 = 0),
d3 AS (SELECT event_id % 3 AS m1, event_id % 4 AS c
       FROM events WHERE event_id % 211 = 0),
d2 AS (SELECT (event_id + 2) % 3 AS k2, event_id % 6 AS b
       FROM events WHERE event_id % 485 = 0)
SELECT * FROM (
  SELECT 'tl1_union_stars' AS query_id, CAST(count(*) AS BIGINT) AS n
  FROM (SELECT * FROM f JOIN d3 ON f.k1 = d3.m1 WHERE f.w <= 4.0
        UNION ALL
        SELECT * FROM f JOIN d3 ON f.k1 = d3.m1 WHERE d3.c >= 2)
  UNION ALL
  SELECT 'tl2_union_sum', CAST(sum(w) AS BIGINT)
  FROM (SELECT f.*, d3.c AS dc FROM f JOIN d3 ON f.k1 = d3.m1
          WHERE f.g IS NOT NULL
        UNION ALL
        SELECT f.*, d3.c AS dc FROM f JOIN d3 ON f.k1 = d3.m1
          WHERE f.w != 5.0)
  UNION ALL
  SELECT 'tl3_outer_tree', CAST(count(*) AS BIGINT)
  FROM f JOIN d3 ON f.k1 = d3.m1
    LEFT JOIN d2 ON f.k2 = d2.k2
  UNION ALL
  SELECT 'tl4_exists_two_keys', CAST(count(*) AS BIGINT)
  FROM f JOIN d3 ON f.k1 = d3.m1
  WHERE EXISTS (SELECT 1 FROM d2 WHERE d2.k2 = f.k2 AND d2.b = d3.c)
  UNION ALL
  SELECT 'tl5_grouped_' || coalesce(CAST(d3.c AS VARCHAR), '<NULL>'),
    CAST(count(*) AS BIGINT)
  FROM f JOIN d3 ON f.k1 = d3.m1
    LEFT JOIN d2 ON f.k2 = d2.k2
  GROUP BY d3.c)
ORDER BY query_id""")),
    // Single-side FILTER cells over join trees (r19, VERDICT r18 #3):
    // `sum(f.x) FILTER (WHERE d.region = 'EU')` — the conditional
    // star-report cell. Every FILTER conjunct whose attributes are
    // owned by ONE leaf folds into that leaf's probe conjunction
    // (the filter may sit on a DIFFERENT leaf than the value column);
    // cross-side conjuncts block the rewrite entirely (spec-pinned in
    // GraftExtensionsSpec — answering unfiltered would be silently
    // wrong). Group existence stays decided by the unfiltered probe,
    // so fully-filtered groups emit their SQL-mandated zero/NULL row.
    // Exact registrations → lossless; scan-free plans require()d;
    // DuckDB runs the identical texts.
    Entry("q_approx_join_filter_cells",
      (s, d) => {
        import s.implicits._
        graft.plans.ApproxCountRule.attachIfMissing(s)
        val savedRegistry = graft.plans.GraftRuntime.snapshot()
        val savedEnabled =
          s.conf.getOption(graft.plans.GraftRuntime.EnabledKey)
        val (dir, dfs, doms, les) = joinWorkloadData(s, d)
        Seq(
          "f" -> Set("k1", "k2", "g", "w", "dt"),
          "d1" -> Set("k1", "k2", "a", "s")).foreach { case (t, cols) =>
          graft.plans.GraftRuntime.register(
            s"$dir/$t.parquet", cols,
            preds => les(t).count(preds), domain = name => doms.get((t, name)))
        }
        s.conf.set(graft.plans.GraftRuntime.EnabledKey, "true")
        try {
          dfs("f").createOrReplaceTempView("graft_aqp_fc_f")
          dfs("d1").createOrReplaceTempView("graft_aqp_fc_d1")
          val from = "graft_aqp_fc_f f JOIN graft_aqp_fc_d1 d1 " +
            "ON f.k1 = d1.k1"
          val ofrom = "graft_aqp_fc_f f LEFT JOIN graft_aqp_fc_d1 d1 " +
            "ON f.k1 = d1.k1"
          // (qid, sql, nKeys, nMetrics)
          val texts = Seq(
            // dim-grouped, fact-side and dim-side FILTERs
            ("fc1", "SELECT d1.a AS gk, count(*) AS m1, " +
              "count(*) FILTER (WHERE f.w >= 4.0) AS m2, " +
              "sum(f.w) FILTER (WHERE d1.s LIKE 'c%') AS m3 " +
              s"FROM $from GROUP BY d1.a", 1, 3),
            // fact-grouped, conjunct-per-leaf FILTER (one conjunct on
            // each side of the SAME clause)
            ("fc2", "SELECT f.k2 AS gk, " +
              "count(f.w) FILTER (WHERE d1.a >= 2 AND f.w <= 6.0) " +
              "AS m1, avg(f.w) FILTER (WHERE d1.s != 'click') AS m2 " +
              s"FROM $from GROUP BY f.k2", 1, 2),
            // fully-filtered groups still emit their row
            ("fc3", "SELECT d1.a AS gk, " +
              "count(*) FILTER (WHERE f.w >= 100.0) AS m1 " +
              s"FROM $from GROUP BY d1.a", 1, 1),
            // r19 second pass: UNGROUPED FILTER aggregates over the
            // join tree fold per owning leaf too
            ("fc4", "SELECT sum(f.w) FILTER (WHERE d1.a >= 2) AS m1 " +
              s"FROM $from", 0, 1),
            ("fc5", "SELECT count(*) FILTER (WHERE d1.s LIKE 'c%') " +
              s"AS m1 FROM $from WHERE f.w <= 8.0", 0, 1),
            // OUTER joins: per-side FILTER cells; a right-side Eq/LIKE
            // clause excludes left-extension rows (SQL), IS NULL
            // admits exactly them — grouped form includes the NULL
            // group, ungrouped form beside it
            ("fc6", "SELECT d1.a AS gk, count(*) AS m1, " +
              "count(*) FILTER (WHERE f.w >= 4.0) AS m2, " +
              "sum(f.w) FILTER (WHERE d1.s LIKE 'c%') AS m3 " +
              s"FROM $ofrom GROUP BY d1.a", 1, 3),
            ("fc7", "SELECT count(*) FILTER (WHERE d1.s IS NULL) " +
              s"AS m1 FROM $ofrom", 0, 1))
          val rows = texts.flatMap { case (qid, sql, nKeys, nm) =>
            val df = s.sql(sql)
            val plan = df.queryExecution.optimizedPlan.toString
            require(plan.trim.startsWith("LocalRelation"),
              s"join FILTER-cell rewrite did not fire on $qid; " +
                s"plan:\n$plan")
            df.collect().flatMap { r =>
              val g = if (nKeys == 0) ""
                else if (r.isNullAt(0)) "<NULL>" else r.get(0).toString
              (1 to nm).map { j =>
                val idx = nKeys + j - 1
                val x: Option[Double] =
                  if (r.isNullAt(idx)) None
                  else r.get(idx) match {
                    case l: java.lang.Long => Some(l.toDouble)
                    case dd: java.lang.Double => Some(dd)
                  }
                (qid, g, s"m$j", x)
              }
            }
          }
          rows.toDF("query_id", "grp", "metric", "x")
            .orderBy("query_id", "grp", "metric")
        } finally {
          savedEnabled match {
            case Some(v) => s.conf.set(graft.plans.GraftRuntime.EnabledKey, v)
            case None => s.conf.unset(graft.plans.GraftRuntime.EnabledKey)
          }
          graft.plans.GraftRuntime.restore(savedRegistry)
        }
      },
      Some("""WITH f AS (SELECT event_id % 5 AS k1, event_id % 3 AS k2,
         CASE WHEN event_id % 7 = 0 THEN NULL ELSE event_type END AS g,
         CASE WHEN event_id % 11 = 0 THEN NULL
              ELSE CAST(event_id % 12 AS DOUBLE) END AS w,
         DATE '2023-12-01' + CAST(event_id % 300 AS INTEGER) AS dt
       FROM events WHERE event_id % 13 = 0),
d1 AS (SELECT (event_id + 1) % 5 AS k1, event_id % 3 AS k2,
         event_id % 4 AS a, event_type AS s
       FROM events WHERE event_id % 291 = 0)
SELECT * FROM (
  SELECT 'fc1' AS query_id,
    coalesce(CAST(d1.a AS VARCHAR), '<NULL>') AS grp,
    'm1' AS metric, CAST(count(*) AS DOUBLE) AS x
  FROM f JOIN d1 ON f.k1 = d1.k1 GROUP BY d1.a
  UNION ALL
  SELECT 'fc1', coalesce(CAST(d1.a AS VARCHAR), '<NULL>'), 'm2',
    CAST(count(*) FILTER (WHERE f.w >= 4.0) AS DOUBLE)
  FROM f JOIN d1 ON f.k1 = d1.k1 GROUP BY d1.a
  UNION ALL
  SELECT 'fc1', coalesce(CAST(d1.a AS VARCHAR), '<NULL>'), 'm3',
    CAST(sum(f.w) FILTER (WHERE d1.s LIKE 'c%') AS DOUBLE)
  FROM f JOIN d1 ON f.k1 = d1.k1 GROUP BY d1.a
  UNION ALL
  SELECT 'fc2', coalesce(CAST(f.k2 AS VARCHAR), '<NULL>'), 'm1',
    CAST(count(f.w) FILTER (WHERE d1.a >= 2 AND f.w <= 6.0) AS DOUBLE)
  FROM f JOIN d1 ON f.k1 = d1.k1 GROUP BY f.k2
  UNION ALL
  SELECT 'fc2', coalesce(CAST(f.k2 AS VARCHAR), '<NULL>'), 'm2',
    CAST(sum(f.w) FILTER (WHERE d1.s != 'click') AS DOUBLE) /
      count(f.w) FILTER (WHERE d1.s != 'click')
  FROM f JOIN d1 ON f.k1 = d1.k1 GROUP BY f.k2
  UNION ALL
  SELECT 'fc3', coalesce(CAST(d1.a AS VARCHAR), '<NULL>'), 'm1',
    CAST(count(*) FILTER (WHERE f.w >= 100.0) AS DOUBLE)
  FROM f JOIN d1 ON f.k1 = d1.k1 GROUP BY d1.a
  UNION ALL
  SELECT 'fc4', '', 'm1',
    CAST(sum(f.w) FILTER (WHERE d1.a >= 2) AS DOUBLE)
  FROM f JOIN d1 ON f.k1 = d1.k1
  UNION ALL
  SELECT 'fc5', '', 'm1',
    CAST(count(*) FILTER (WHERE d1.s LIKE 'c%') AS DOUBLE)
  FROM f JOIN d1 ON f.k1 = d1.k1 WHERE f.w <= 8.0
  UNION ALL
  SELECT 'fc6', coalesce(CAST(d1.a AS VARCHAR), '<NULL>'), 'm1',
    CAST(count(*) AS DOUBLE)
  FROM f LEFT JOIN d1 ON f.k1 = d1.k1 GROUP BY d1.a
  UNION ALL
  SELECT 'fc6', coalesce(CAST(d1.a AS VARCHAR), '<NULL>'), 'm2',
    CAST(count(*) FILTER (WHERE f.w >= 4.0) AS DOUBLE)
  FROM f LEFT JOIN d1 ON f.k1 = d1.k1 GROUP BY d1.a
  UNION ALL
  SELECT 'fc6', coalesce(CAST(d1.a AS VARCHAR), '<NULL>'), 'm3',
    CAST(sum(f.w) FILTER (WHERE d1.s LIKE 'c%') AS DOUBLE)
  FROM f LEFT JOIN d1 ON f.k1 = d1.k1 GROUP BY d1.a
  UNION ALL
  SELECT 'fc7', '', 'm1',
    CAST(count(*) FILTER (WHERE d1.s IS NULL) AS DOUBLE)
  FROM f LEFT JOIN d1 ON f.k1 = d1.k1)
ORDER BY query_id, grp, metric""")),
    // EXISTS-filtered sides of OUTER joins (r19, VERDICT r18 #4 — the
    // composition PLANS r18 admitted was untested): a WHERE EXISTS on
    // the PRESERVED side pushes below the outer join
    // (PushDownLeftSemiAntiJoin) and rides outerSpec's leaf resolution
    // as a semi leaf; an EXISTS INSIDE the non-preserved side's
    // subselect becomes that side's semi leaf the same way. Grouped
    // forms compose through the same aggregate grid. Exact
    // registrations → lossless; scan-free plans require()d; DuckDB
    // runs the identical texts.
    Entry("q_approx_outer_exists",
      (s, d) => {
        import s.implicits._
        graft.plans.ApproxCountRule.attachIfMissing(s)
        val savedRegistry = graft.plans.GraftRuntime.snapshot()
        val savedEnabled =
          s.conf.getOption(graft.plans.GraftRuntime.EnabledKey)
        val cust = s.read.parquet(s"$d/customer.parquet")
        val nat = s.read.parquet(s"$d/nation.parquet")
        val reg = s.read.parquet(s"$d/region.parquet")
        val leC = localExact(s"$d/customer.parquet", cust, Seq("c_custkey", "c_nationkey"))
        val leN = localExact(s"$d/nation.parquet", nat, Seq("n_nationkey", "n_regionkey"))
        val leR = localExact(s"$d/region.parquet", reg, Seq("r_regionkey", "r_name"))
        val cDoms = Seq("c_custkey", "c_nationkey")
          .map(c => c -> leC.domainOf(c)).toMap
        val nDoms = Seq("n_nationkey", "n_regionkey")
          .map(c => c -> leN.domainOf(c)).toMap
        val rDoms = Seq("r_regionkey").map(c => c -> leR.domainOf(c)).toMap
        graft.plans.GraftRuntime.register(
          s"$d/customer.parquet", Set("c_custkey", "c_nationkey"),
          preds => leC.count(preds),
          domain = n => if (n == "c_nationkey") cDoms.get(n) else None)
        graft.plans.GraftRuntime.register(
          s"$d/nation.parquet", Set("n_nationkey", "n_regionkey"),
          preds => leN.count(preds), domain = n => nDoms.get(n))
        graft.plans.GraftRuntime.register(
          s"$d/region.parquet", Set("r_regionkey", "r_name"),
          preds => leR.count(preds), domain = n => rDoms.get(n))
        s.conf.set(graft.plans.GraftRuntime.EnabledKey, "true")
        try {
          cust.createOrReplaceTempView("graft_aqp_ox_customer")
          nat.createOrReplaceTempView("graft_aqp_ox_nation")
          reg.createOrReplaceTempView("graft_aqp_ox_region")
          val texts = Seq(
            // EXISTS on the PRESERVED side of a LEFT JOIN
            "ox1_preserved" -> ("SELECT count(*) AS n FROM " +
              "graft_aqp_ox_customer c LEFT JOIN graft_aqp_ox_nation " +
              "n ON c.c_nationkey = n.n_nationkey WHERE EXISTS " +
              "(SELECT 1 FROM graft_aqp_ox_nation n2 WHERE " +
              "n2.n_nationkey = c.c_nationkey AND n2.n_regionkey <= 2)"),
            // EXISTS INSIDE the NON-preserved side's subselect
            "ox2_nonpreserved" -> ("SELECT count(*) AS n FROM " +
              "graft_aqp_ox_customer c LEFT JOIN (SELECT * FROM " +
              "graft_aqp_ox_nation n WHERE EXISTS (SELECT 1 FROM " +
              "graft_aqp_ox_region r WHERE r.r_regionkey = " +
              "n.n_regionkey AND r.r_name LIKE 'A%')) n2 " +
              "ON c.c_nationkey = n2.n_nationkey"),
            // both at once, FULL outer
            "ox3_both_full" -> ("SELECT count(*) AS n FROM " +
              "graft_aqp_ox_customer c FULL JOIN (SELECT * FROM " +
              "graft_aqp_ox_nation n WHERE EXISTS (SELECT 1 FROM " +
              "graft_aqp_ox_region r WHERE r.r_regionkey = " +
              "n.n_regionkey AND r.r_name LIKE 'A%')) n2 " +
              "ON c.c_nationkey = n2.n_nationkey WHERE EXISTS " +
              "(SELECT 1 FROM graft_aqp_ox_nation n3 WHERE " +
              "n3.n_nationkey = c.c_nationkey AND n3.n_regionkey >= 1)"))
          val rows = texts.map { case (qid, sql) =>
            val df = s.sql(sql)
            val plan = df.queryExecution.optimizedPlan.toString
            require(plan.trim.startsWith("LocalRelation"),
              s"outer+EXISTS rewrite did not fire on $qid; " +
                s"plan:\n$plan")
            (qid, df.collect()(0).getLong(0))
          }
          // grouped over the EXISTS-filtered non-preserved side: the
          // semi leaf's registration supplies the grouping domain,
          // unmatched customers land in the NULL group
          val gSql = "SELECT n2.n_regionkey AS grp, count(*) AS n " +
            "FROM graft_aqp_ox_customer c LEFT JOIN (SELECT * FROM " +
            "graft_aqp_ox_nation n WHERE EXISTS (SELECT 1 FROM " +
            "graft_aqp_ox_region r WHERE r.r_regionkey = " +
            "n.n_regionkey AND r.r_name LIKE 'A%')) n2 " +
            "ON c.c_nationkey = n2.n_nationkey GROUP BY n2.n_regionkey"
          val gDf = s.sql(gSql)
          require(gDf.queryExecution.optimizedPlan.toString.trim
            .startsWith("LocalRelation"),
            "grouped outer+EXISTS rewrite did not fire")
          val gRows = gDf.collect().map { r =>
            val g = if (r.isNullAt(0)) "<NULL>" else r.get(0).toString
            (s"ox4_grouped_$g", r.getLong(1))
          }.toSeq
          (rows ++ gRows).toDF("query_id", "n").orderBy("query_id")
        } finally {
          savedEnabled match {
            case Some(v) => s.conf.set(graft.plans.GraftRuntime.EnabledKey, v)
            case None => s.conf.unset(graft.plans.GraftRuntime.EnabledKey)
          }
          graft.plans.GraftRuntime.restore(savedRegistry)
        }
      },
      Some("""SELECT * FROM (
  SELECT 'ox1_preserved' AS query_id, CAST(count(*) AS BIGINT) AS n
  FROM customer c LEFT JOIN nation n
    ON c.c_nationkey = n.n_nationkey
  WHERE EXISTS (SELECT 1 FROM nation n2 WHERE n2.n_nationkey =
    c.c_nationkey AND n2.n_regionkey <= 2)
  UNION ALL
  SELECT 'ox2_nonpreserved', CAST(count(*) AS BIGINT)
  FROM customer c LEFT JOIN (SELECT * FROM nation n WHERE EXISTS
    (SELECT 1 FROM region r WHERE r.r_regionkey = n.n_regionkey
     AND r.r_name LIKE 'A%')) n2
    ON c.c_nationkey = n2.n_nationkey
  UNION ALL
  SELECT 'ox3_both_full', CAST(count(*) AS BIGINT)
  FROM customer c FULL JOIN (SELECT * FROM nation n WHERE EXISTS
    (SELECT 1 FROM region r WHERE r.r_regionkey = n.n_regionkey
     AND r.r_name LIKE 'A%')) n2
    ON c.c_nationkey = n2.n_nationkey
  WHERE EXISTS (SELECT 1 FROM nation n3 WHERE n3.n_nationkey =
    c.c_nationkey AND n3.n_regionkey >= 1)
  UNION ALL
  SELECT 'ox4_grouped_' ||
    coalesce(CAST(n2.n_regionkey AS VARCHAR), '<NULL>'),
    CAST(count(*) AS BIGINT)
  FROM customer c LEFT JOIN (SELECT * FROM nation n WHERE EXISTS
    (SELECT 1 FROM region r WHERE r.r_regionkey = n.n_regionkey
     AND r.r_name LIKE 'A%')) n2
    ON c.c_nationkey = n2.n_nationkey
  GROUP BY n2.n_regionkey)
ORDER BY query_id""")),
    // EXISTS *under* a join + NESTED EXISTS (r18 second pass): a LEFT
    // SEMI/ANTI join acts as a join-tree LEAF — its output is its left
    // side filtered, so it carries the left registration with the
    // semi/anti probe as its estimator. PushDownLeftSemiAntiJoin parks
    // the EXISTS at the fact leaf, so `fact JOIN dim WHERE EXISTS(…)`
    // flattens normally; stacked EXISTS compose recursively (the outer
    // semi join's left side is itself a semi join), each level
    // multiplying its (matched+1) factor into the leaf's budget cost.
    // Exact registrations → lossless; scan-free plans require()d;
    // DuckDB runs the identical texts over the identical derivation.
    Entry("q_approx_exists_nested",
      (s, d) => {
        import s.implicits._
        graft.plans.ApproxCountRule.attachIfMissing(s)
        val savedRegistry = graft.plans.GraftRuntime.snapshot()
        val savedEnabled =
          s.conf.getOption(graft.plans.GraftRuntime.EnabledKey)
        val base = "/tmp/graft_exn/" + d.replaceAll("[^A-Za-z0-9]", "_") +
          "_" + ProcessHandle.current().pid()
        deriveOnce(base) {
          val evBase = Tables.read(s, d, "events")
            .filter(pmod(col("event_id"), lit(97)) === 0)
          evBase.select(
              pmod(col("event_id"), lit(5)).as("k1"),
              pmod(col("event_id"), lit(3)).as("k2"),
              when(pmod(col("event_id"), lit(13)) === 0,
                lit(null).cast("double"))
                .otherwise(pmod(col("event_id"), lit(7)).cast("double"))
                .as("w"))
            .write.mode("overwrite").parquet(s"$base/f.parquet")
          evBase.select(
              pmod(col("event_id") + 1, lit(5)).as("k1"),
              pmod(col("event_id"), lit(4)).as("a"))
            .write.mode("overwrite").parquet(s"$base/d.parquet")
          evBase.select(
              pmod(col("event_id") + 2, lit(3)).as("k2"),
              pmod(col("event_id"), lit(6)).as("b"))
            .write.mode("overwrite").parquet(s"$base/r.parquet")
        }
        val fD = s.read.parquet(s"$base/f.parquet")
        val dD = s.read.parquet(s"$base/d.parquet")
        val rD = s.read.parquet(s"$base/r.parquet")
        val leF = localExact(s"$base/f.parquet", fD, Seq("k1", "k2", "w"))
        val leD = localExact(s"$base/d.parquet", dD, Seq("k1", "a"))
        val leR = localExact(s"$base/r.parquet", rD, Seq("k2", "b"))
        val fDoms = Seq("k1", "k2", "w").map(c => c -> leF.domainOf(c)).toMap
        val dDoms = Seq("k1", "a").map(c => c -> leD.domainOf(c)).toMap
        val rDoms = Seq("k2").map(c => c -> leR.domainOf(c)).toMap
        graft.plans.GraftRuntime.register(s"$base/f.parquet",
          Set("k1", "k2", "w"), preds => leF.count(preds),
          domain = name => fDoms.get(name))
        graft.plans.GraftRuntime.register(s"$base/d.parquet",
          Set("k1", "a"), preds => leD.count(preds),
          domain = name => dDoms.get(name))
        graft.plans.GraftRuntime.register(s"$base/r.parquet",
          Set("k2", "b"), preds => leR.count(preds),
          domain = name => rDoms.get(name))
        s.conf.set(graft.plans.GraftRuntime.EnabledKey, "true")
        try {
          fD.createOrReplaceTempView("graft_aqp_exn_f")
          dD.createOrReplaceTempView("graft_aqp_exn_d")
          rD.createOrReplaceTempView("graft_aqp_exn_r")
          val rEx = "EXISTS (SELECT 1 FROM graft_aqp_exn_r r " +
            "WHERE r.k2 = f.k2 AND r.b != 0)"
          val texts = Seq(
            "en1_exists_under_join" -> ("SELECT count(*) AS n FROM " +
              "graft_aqp_exn_f f JOIN graft_aqp_exn_d d " +
              s"ON f.k1 = d.k1 WHERE $rEx"),
            "en2_nested_exists" -> ("SELECT count(*) AS n FROM " +
              "graft_aqp_exn_f f WHERE EXISTS (SELECT 1 FROM " +
              "graft_aqp_exn_d d WHERE d.k1 = f.k1 AND d.a >= 1) " +
              s"AND $rEx"),
            "en3_grouped" -> ("SELECT d.a AS grp, count(*) AS n FROM " +
              "graft_aqp_exn_f f JOIN graft_aqp_exn_d d " +
              s"ON f.k1 = d.k1 WHERE $rEx GROUP BY d.a"),
            "en4_sum" -> ("SELECT sum(f.w) AS n FROM " +
              "graft_aqp_exn_f f JOIN graft_aqp_exn_d d " +
              s"ON f.k1 = d.k1 WHERE $rEx"))
          val rows = texts.flatMap { case (qid, sql) =>
            val df = s.sql(sql)
            val plan = df.queryExecution.optimizedPlan.toString
            require(plan.trim.startsWith("LocalRelation"),
              s"semi-leaf composition did not fire on $qid; " +
                s"plan:\n$plan")
            df.collect().map { r =>
              if (qid == "en3_grouped")
                (qid + "_" + r.getLong(0), r.getLong(1))
              else if (qid == "en4_sum") (qid, r.getDouble(0).toLong)
              else (qid, r.getLong(0))
            }
          }
          rows.toDF("query_id", "n").orderBy("query_id")
        } finally {
          savedEnabled match {
            case Some(v) => s.conf.set(graft.plans.GraftRuntime.EnabledKey, v)
            case None => s.conf.unset(graft.plans.GraftRuntime.EnabledKey)
          }
          graft.plans.GraftRuntime.restore(savedRegistry)
        }
      },
      Some("""WITH basee AS (SELECT * FROM events WHERE event_id % 97 = 0),
f AS (SELECT event_id % 5 AS k1, event_id % 3 AS k2,
             CASE WHEN event_id % 13 = 0 THEN NULL
                  ELSE CAST(event_id % 7 AS DOUBLE) END AS w
      FROM basee),
d AS (SELECT (event_id + 1) % 5 AS k1, event_id % 4 AS a FROM basee),
r AS (SELECT (event_id + 2) % 3 AS k2, event_id % 6 AS b FROM basee)
SELECT * FROM (
  SELECT 'en1_exists_under_join' AS query_id,
    CAST(count(*) AS BIGINT) AS n
  FROM f JOIN d ON f.k1 = d.k1
  WHERE EXISTS (SELECT 1 FROM r WHERE r.k2 = f.k2 AND r.b != 0)
  UNION ALL
  SELECT 'en2_nested_exists', CAST(count(*) AS BIGINT)
  FROM f WHERE EXISTS (SELECT 1 FROM d
    WHERE d.k1 = f.k1 AND d.a >= 1)
  AND EXISTS (SELECT 1 FROM r WHERE r.k2 = f.k2 AND r.b != 0)
  UNION ALL
  SELECT 'en3_grouped_' || CAST(d.a AS VARCHAR),
    CAST(count(*) AS BIGINT)
  FROM f JOIN d ON f.k1 = d.k1
  WHERE EXISTS (SELECT 1 FROM r WHERE r.k2 = f.k2 AND r.b != 0)
  GROUP BY d.a
  UNION ALL
  SELECT 'en4_sum', CAST(sum(f.w) AS BIGINT)
  FROM f JOIN d ON f.k1 = d.k1
  WHERE EXISTS (SELECT 1 FROM r WHERE r.k2 = f.k2 AND r.b != 0))
ORDER BY query_id""")),
    // EXISTS over a JOIN-TREE subquery (r18, VERDICT r17 #7): the
    // subquery itself joins — `EXISTS (SELECT 1 FROM nation JOIN
    // region …)` — so the matched-key test is the right tree's JOIN
    // COUNT (joinCountProbes with the correlation key attributed to
    // its owner leaf). Side predicates (prefix LIKE, equality) sit in
    // the subquery and ride each leaf's mask. Exact registrations →
    // lossless; scan-free plans require()d; DuckDB runs the identical
    // texts on the real TPC-H tables.
    Entry("q_approx_exists_join",
      (s, d) => {
        import s.implicits._
        graft.plans.ApproxCountRule.attachIfMissing(s)
        val savedRegistry = graft.plans.GraftRuntime.snapshot()
        val savedEnabled =
          s.conf.getOption(graft.plans.GraftRuntime.EnabledKey)
        val cust = s.read.parquet(s"$d/customer.parquet")
        val nat = s.read.parquet(s"$d/nation.parquet")
        val reg = s.read.parquet(s"$d/region.parquet")
        val leC = localExact(s"$d/customer.parquet", cust,
          Seq("c_nationkey", "c_mktsegment", "c_acctbal"))
        val leN = localExact(s"$d/nation.parquet", nat,
          Seq("n_nationkey", "n_regionkey", "n_name"))
        val leR = localExact(s"$d/region.parquet", reg, Seq("r_regionkey", "r_name"))
        val cDoms = Seq("c_nationkey", "c_mktsegment")
          .map(c => c -> leC.domainOf(c)).toMap
        val nDoms = Seq("n_nationkey", "n_regionkey")
          .map(c => c -> leN.domainOf(c)).toMap
        val rDoms = Seq("r_regionkey").map(c => c -> leR.domainOf(c)).toMap
        graft.plans.GraftRuntime.register(
          s"$d/customer.parquet",
          Set("c_nationkey", "c_mktsegment", "c_acctbal"),
          preds => leC.count(preds), domain = name => cDoms.get(name))
        graft.plans.GraftRuntime.register(
          s"$d/nation.parquet",
          Set("n_nationkey", "n_regionkey", "n_name"),
          preds => leN.count(preds), domain = name => nDoms.get(name))
        graft.plans.GraftRuntime.register(
          s"$d/region.parquet", Set("r_regionkey", "r_name"),
          preds => leR.count(preds), domain = name => rDoms.get(name))
        s.conf.set(graft.plans.GraftRuntime.EnabledKey, "true")
        try {
          cust.createOrReplaceTempView("graft_aqp_exj_customer")
          nat.createOrReplaceTempView("graft_aqp_exj_nation")
          reg.createOrReplaceTempView("graft_aqp_exj_region")
          val texts = Seq(
            "j1_exists_join" -> ("SELECT count(*) AS n FROM " +
              "graft_aqp_exj_customer c WHERE EXISTS (SELECT 1 FROM " +
              "graft_aqp_exj_nation n JOIN graft_aqp_exj_region r " +
              "ON n.n_regionkey = r.r_regionkey " +
              "WHERE n.n_nationkey = c.c_nationkey " +
              "AND r.r_name LIKE 'A%')"),
            "j2_not_exists_join" -> ("SELECT count(*) AS n FROM " +
              "graft_aqp_exj_customer c WHERE NOT EXISTS (SELECT 1 " +
              "FROM graft_aqp_exj_nation n JOIN graft_aqp_exj_region r " +
              "ON n.n_regionkey = r.r_regionkey " +
              "WHERE n.n_nationkey = c.c_nationkey " +
              "AND r.r_name = 'EUROPE')"),
            "j3_distinct_exists_join" -> ("SELECT " +
              "CAST(count(DISTINCT c.c_mktsegment) AS BIGINT) AS n " +
              "FROM graft_aqp_exj_customer c WHERE EXISTS (SELECT 1 " +
              "FROM graft_aqp_exj_nation n JOIN graft_aqp_exj_region r " +
              "ON n.n_regionkey = r.r_regionkey " +
              "WHERE n.n_nationkey = c.c_nationkey " +
              "AND r.r_name LIKE 'AM%' AND n.n_name LIKE 'B%')"))
          val rows = texts.map { case (qid, sql) =>
            val df = s.sql(sql)
            val plan = df.queryExecution.optimizedPlan.toString
            require(plan.trim.startsWith("LocalRelation"),
              s"exists-over-join rewrite did not fire on $qid; " +
                s"plan:\n$plan")
            (qid, df.collect()(0).getLong(0))
          }
          rows.toDF("query_id", "n").orderBy("query_id")
        } finally {
          savedEnabled match {
            case Some(v) => s.conf.set(graft.plans.GraftRuntime.EnabledKey, v)
            case None => s.conf.unset(graft.plans.GraftRuntime.EnabledKey)
          }
          graft.plans.GraftRuntime.restore(savedRegistry)
        }
      },
      Some("""SELECT 'j1_exists_join' AS query_id,
  CAST(count(*) AS BIGINT) AS n
FROM customer c WHERE EXISTS (SELECT 1 FROM nation n
  JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE n.n_nationkey = c.c_nationkey AND r.r_name LIKE 'A%')
UNION ALL
SELECT 'j2_not_exists_join', CAST(count(*) AS BIGINT)
FROM customer c WHERE NOT EXISTS (SELECT 1 FROM nation n
  JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE n.n_nationkey = c.c_nationkey AND r.r_name = 'EUROPE')
UNION ALL
SELECT 'j3_distinct_exists_join',
  CAST(count(DISTINCT c_mktsegment) AS BIGINT)
FROM customer c WHERE EXISTS (SELECT 1 FROM nation n
  JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE n.n_nationkey = c.c_nationkey
  AND r.r_name LIKE 'AM%' AND n.n_name LIKE 'B%')
ORDER BY query_id""")),
    // OUTER join counts (r17 third pass) — the remaining join-type
    // matrix: LEFT = inner + left-unmatched, RIGHT = inner +
    // right-unmatched, FULL = both, where inner is the factorization
    // sum and each unmatched term is n_side(ALL) − Σ matched (null
    // keys count unmatched on their own side). Side predicates sit in
    // subselects (a WHERE above an outer join would null-filter and
    // Catalyst would convert it to inner — which the inner path
    // already answers). Exact registrations → lossless; scan-free
    // plans require()d; DuckDB runs the identical texts.
    Entry("q_approx_outer_count",
      (s, d) => {
        import s.implicits._
        graft.plans.ApproxCountRule.attachIfMissing(s)
        val savedRegistry = graft.plans.GraftRuntime.snapshot()
        val savedEnabled =
          s.conf.getOption(graft.plans.GraftRuntime.EnabledKey)
        val cust = s.read.parquet(s"$d/customer.parquet")
        val nat = s.read.parquet(s"$d/nation.parquet")
        val cDom = cachedColumnMeta(s"$d/customer.parquet",
          cust.select("c_nationkey"), "c_nationkey").domain.toSeq
        val nDom = cachedColumnMeta(s"$d/nation.parquet",
          nat.select("n_nationkey"), "n_nationkey").domain.toSeq
        val leC = localExact(s"$d/customer.parquet", cust,
          Seq("c_nationkey", "c_acctbal", "c_mktsegment"))
        val leN = localExact(s"$d/nation.parquet", nat,
          Seq("n_nationkey", "n_regionkey", "n_name"))
        graft.plans.GraftRuntime.register(
          s"$d/customer.parquet",
          Set("c_nationkey", "c_acctbal", "c_mktsegment"),
          preds => leC.count(preds),
          domain = name => if (name == "c_nationkey") Some(cDom) else None)
        graft.plans.GraftRuntime.register(
          s"$d/nation.parquet",
          Set("n_nationkey", "n_regionkey", "n_name"),
          preds => leN.count(preds),
          domain = name => if (name == "n_nationkey") Some(nDom) else None)
        s.conf.set(graft.plans.GraftRuntime.EnabledKey, "true")
        try {
          cust.createOrReplaceTempView("graft_aqp_oc_customer")
          nat.createOrReplaceTempView("graft_aqp_oc_nation")
          val texts = Seq(
            "oc1_left" -> ("SELECT count(*) AS n FROM " +
              "graft_aqp_oc_customer c LEFT JOIN " +
              "(SELECT * FROM graft_aqp_oc_nation " +
              "WHERE n_regionkey <= 2) n " +
              "ON c.c_nationkey = n.n_nationkey"),
            "oc2_right" -> ("SELECT count(*) AS n FROM " +
              "(SELECT * FROM graft_aqp_oc_customer " +
              "WHERE c_acctbal <= 3000.0) c RIGHT JOIN " +
              "graft_aqp_oc_nation n " +
              "ON c.c_nationkey = n.n_nationkey"),
            "oc3_full" -> ("SELECT count(*) AS n FROM " +
              "(SELECT * FROM graft_aqp_oc_customer " +
              "WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')) c " +
              "FULL JOIN (SELECT * FROM graft_aqp_oc_nation " +
              "WHERE n_regionkey >= 3) n " +
              "ON c.c_nationkey = n.n_nationkey"))
          val rows = texts.map { case (qid, sql) =>
            val df = s.sql(sql)
            val plan = df.queryExecution.optimizedPlan.toString
            require(plan.trim.startsWith("LocalRelation"),
              s"outer-count rewrite did not fire on $qid; plan:\n$plan")
            (qid, df.collect()(0).getLong(0))
          }
          rows.toDF("query_id", "n").orderBy("query_id")
        } finally {
          savedEnabled match {
            case Some(v) => s.conf.set(graft.plans.GraftRuntime.EnabledKey, v)
            case None => s.conf.unset(graft.plans.GraftRuntime.EnabledKey)
          }
          graft.plans.GraftRuntime.restore(savedRegistry)
        }
      },
      Some("""SELECT 'oc1_left' AS query_id,
  CAST(count(*) AS BIGINT) AS n
FROM customer c LEFT JOIN
  (SELECT * FROM nation WHERE n_regionkey <= 2) n
  ON c.c_nationkey = n.n_nationkey
UNION ALL
SELECT 'oc2_right', CAST(count(*) AS BIGINT)
FROM (SELECT * FROM customer WHERE c_acctbal <= 3000.0) c
RIGHT JOIN nation n ON c.c_nationkey = n.n_nationkey
UNION ALL
SELECT 'oc3_full', CAST(count(*) AS BIGINT)
FROM (SELECT * FROM customer
      WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')) c
FULL JOIN (SELECT * FROM nation WHERE n_regionkey >= 3) n
  ON c.c_nationkey = n.n_nationkey
ORDER BY query_id""")),
    // GROUPED aggregates over OUTER joins (r18, VERDICT r17 #3):
    // `SELECT d.attr, count(*) FROM fact LEFT JOIN dim … GROUP BY
    // d.attr` — the probe grid with per-SIDE conjunct attribution. The
    // preserved side's unmatched rows null-extend the other side, so a
    // non-preserved-side grouping key gains the NULL group (synthetic
    // when its domain has no null slot) and right-column counts ignore
    // extension rows — exactly SQL's semantics, realized by the
    // outerEstimate IS NULL gate. Exact registrations → lossless;
    // scan-free plans require()d; DuckDB runs the identical texts.
    Entry("q_approx_outer_groupby",
      (s, d) => {
        import s.implicits._
        graft.plans.ApproxCountRule.attachIfMissing(s)
        val savedRegistry = graft.plans.GraftRuntime.snapshot()
        val savedEnabled =
          s.conf.getOption(graft.plans.GraftRuntime.EnabledKey)
        val cust = s.read.parquet(s"$d/customer.parquet")
        val nat = s.read.parquet(s"$d/nation.parquet")
        val leC = localExact(s"$d/customer.parquet", cust,
          Seq("c_nationkey", "c_acctbal", "c_mktsegment"))
        val leN = localExact(s"$d/nation.parquet", nat,
          Seq("n_nationkey", "n_regionkey", "n_name"))
        val cDoms = Seq("c_nationkey", "c_mktsegment")
          .map(c => c -> leC.domainOf(c)).toMap
        val nDoms = Seq("n_nationkey", "n_regionkey")
          .map(c => c -> leN.domainOf(c)).toMap
        graft.plans.GraftRuntime.register(
          s"$d/customer.parquet",
          Set("c_nationkey", "c_acctbal", "c_mktsegment"),
          preds => leC.count(preds), domain = name => cDoms.get(name))
        graft.plans.GraftRuntime.register(
          s"$d/nation.parquet",
          Set("n_nationkey", "n_regionkey", "n_name"),
          preds => leN.count(preds), domain = name => nDoms.get(name))
        s.conf.set(graft.plans.GraftRuntime.EnabledKey, "true")
        try {
          cust.createOrReplaceTempView("graft_aqp_og_customer")
          nat.createOrReplaceTempView("graft_aqp_og_nation")
          // (qid, sql, #keys, metric names)
          val texts = Seq(
            // right-side grouping over LEFT JOIN: unmatched customers
            // land in the NULL group
            ("og1_left_rgroup", "SELECT n.n_regionkey AS grp, " +
              "count(*) AS n FROM graft_aqp_og_customer c LEFT JOIN " +
              "(SELECT * FROM graft_aqp_og_nation " +
              "WHERE n_regionkey <= 2) n " +
              "ON c.c_nationkey = n.n_nationkey GROUP BY n.n_regionkey",
              1, Seq("n")),
            // left-side grouping + a right-column count (extension
            // rows carry NULL n_name and stay out of nn)
            ("og2_left_lgroup", "SELECT c.c_mktsegment AS grp, " +
              "count(*) AS n, count(n.n_name) AS nn FROM " +
              "graft_aqp_og_customer c LEFT JOIN " +
              "(SELECT * FROM graft_aqp_og_nation " +
              "WHERE n_regionkey >= 3) n " +
              "ON c.c_nationkey = n.n_nationkey GROUP BY c.c_mktsegment",
              1, Seq("n", "nn")),
            // FULL JOIN grouped on the right key: both unmatched sides
            // contribute (left-unmatched to NULL, right-unmatched to
            // their own group)
            ("og3_full_rgroup", "SELECT n.n_regionkey AS grp, " +
              "count(*) AS n FROM (SELECT * FROM " +
              "graft_aqp_og_customer WHERE c_mktsegment = 'BUILDING') " +
              "c FULL JOIN (SELECT * FROM graft_aqp_og_nation " +
              "WHERE n_regionkey IN (0, 4)) n " +
              "ON c.c_nationkey = n.n_nationkey GROUP BY n.n_regionkey",
              1, Seq("n")),
            // RIGHT JOIN grouped on the left segment: unmatched
            // nations land in the synthetic NULL group
            ("og4_right_lgroup", "SELECT c.c_mktsegment AS grp, " +
              "count(*) AS n FROM (SELECT * FROM " +
              "graft_aqp_og_customer WHERE c_acctbal <= 2000.0) c " +
              "RIGHT JOIN graft_aqp_og_nation n " +
              "ON c.c_nationkey = n.n_nationkey GROUP BY c.c_mktsegment",
              1, Seq("n")))
          val rows = texts.flatMap { case (qid, sql, nKeys, metrics) =>
            val df = s.sql(sql)
            val plan = df.queryExecution.optimizedPlan.toString
            require(plan.trim.startsWith("LocalRelation"),
              s"grouped outer rewrite did not fire on $qid; " +
                s"plan:\n$plan")
            df.collect().flatMap { r =>
              val grp = (0 until nKeys).map { k =>
                if (r.isNullAt(k)) "<NULL>" else r.get(k).toString
              }.mkString("|")
              metrics.zipWithIndex.map { case (m, j) =>
                (qid, grp, m, r.getLong(nKeys + j))
              }
            }
          }
          rows.toDF("query_id", "grp", "metric", "n")
            .orderBy("query_id", "grp", "metric")
        } finally {
          savedEnabled match {
            case Some(v) => s.conf.set(graft.plans.GraftRuntime.EnabledKey, v)
            case None => s.conf.unset(graft.plans.GraftRuntime.EnabledKey)
          }
          graft.plans.GraftRuntime.restore(savedRegistry)
        }
      },
      Some("""SELECT * FROM (
  SELECT 'og1_left_rgroup' AS query_id,
    coalesce(CAST(n.n_regionkey AS VARCHAR), '<NULL>') AS grp,
    'n' AS metric, CAST(count(*) AS BIGINT) AS n
  FROM customer c LEFT JOIN
    (SELECT * FROM nation WHERE n_regionkey <= 2) n
    ON c.c_nationkey = n.n_nationkey GROUP BY n.n_regionkey
  UNION ALL
  SELECT 'og2_left_lgroup', coalesce(c.c_mktsegment, '<NULL>'), 'n',
    CAST(count(*) AS BIGINT)
  FROM customer c LEFT JOIN
    (SELECT * FROM nation WHERE n_regionkey >= 3) n
    ON c.c_nationkey = n.n_nationkey GROUP BY c.c_mktsegment
  UNION ALL
  SELECT 'og2_left_lgroup', coalesce(c.c_mktsegment, '<NULL>'), 'nn',
    CAST(count(n.n_name) AS BIGINT)
  FROM customer c LEFT JOIN
    (SELECT * FROM nation WHERE n_regionkey >= 3) n
    ON c.c_nationkey = n.n_nationkey GROUP BY c.c_mktsegment
  UNION ALL
  SELECT 'og3_full_rgroup',
    coalesce(CAST(n.n_regionkey AS VARCHAR), '<NULL>'), 'n',
    CAST(count(*) AS BIGINT)
  FROM (SELECT * FROM customer WHERE c_mktsegment = 'BUILDING') c
  FULL JOIN (SELECT * FROM nation WHERE n_regionkey IN (0, 4)) n
    ON c.c_nationkey = n.n_nationkey GROUP BY n.n_regionkey
  UNION ALL
  SELECT 'og4_right_lgroup', coalesce(c.c_mktsegment, '<NULL>'), 'n',
    CAST(count(*) AS BIGINT)
  FROM (SELECT * FROM customer WHERE c_acctbal <= 2000.0) c
  RIGHT JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY c.c_mktsegment)
ORDER BY query_id, grp, metric""")),
    // Value/count aggregates over OUTER joins (r18, VERDICT r17 #3):
    // `SELECT sum(x) FROM fact LEFT JOIN dim …` — extension rows carry
    // NULL for the other side's columns, so SQL's null-ignoring
    // aggregates exclude them for the non-preserved side and include
    // unmatched preserved-side rows once (per the join's row
    // multiplication). Null-bearing keys AND values on both sides.
    // Exact registrations → lossless; scan-free plans require()d;
    // DuckDB recomputes the identical derivation.
    Entry("q_approx_outer_aggs",
      (s, d) => {
        import s.implicits._
        graft.plans.ApproxCountRule.attachIfMissing(s)
        val savedRegistry = graft.plans.GraftRuntime.snapshot()
        val savedEnabled =
          s.conf.getOption(graft.plans.GraftRuntime.EnabledKey)
        val base = "/tmp/graft_oag/" + d.replaceAll("[^A-Za-z0-9]", "_") +
          "_" + ProcessHandle.current().pid()
        deriveOnce(base) {
          val evBase = Tables.read(s, d, "events")
            .filter(pmod(col("event_id"), lit(97)) === 0)
          evBase.select(
              when(pmod(col("event_id"), lit(13)) === 0,
                lit(null).cast("long"))
                .otherwise(pmod(col("event_id"), lit(7))).as("k"),
              when(pmod(col("event_id"), lit(11)) === 0,
                lit(null).cast("double"))
                .otherwise(pmod(col("event_id"), lit(9)).cast("double"))
                .as("w"))
            .write.mode("overwrite").parquet(s"$base/l.parquet")
          evBase.select(
              when(pmod(col("event_id"), lit(17)) === 0,
                lit(null).cast("long"))
                .otherwise(pmod(col("event_id") + 1, lit(8))).as("k"),
              pmod(col("event_id"), lit(5)).as("b"),
              pmod(col("event_id"), lit(6)).cast("double").as("v"))
            .write.mode("overwrite").parquet(s"$base/r.parquet")
        }
        val dl = s.read.parquet(s"$base/l.parquet")
        val dr = s.read.parquet(s"$base/r.parquet")
        val leL = localExact(s"$base/l.parquet", dl, Seq("k", "w"))
        val leR = localExact(s"$base/r.parquet", dr, Seq("k", "b", "v"))
        val lDoms = Seq("k", "w").map(c => c -> leL.domainOf(c)).toMap
        val rDoms = Seq("k", "v").map(c => c -> leR.domainOf(c)).toMap
        graft.plans.GraftRuntime.register(s"$base/l.parquet",
          Set("k", "w"), preds => leL.count(preds),
          domain = name => lDoms.get(name))
        graft.plans.GraftRuntime.register(s"$base/r.parquet",
          Set("k", "b", "v"), preds => leR.count(preds),
          domain = name => rDoms.get(name))
        s.conf.set(graft.plans.GraftRuntime.EnabledKey, "true")
        try {
          dl.createOrReplaceTempView("graft_aqp_oag_l")
          dr.createOrReplaceTempView("graft_aqp_oag_r")
          val lj = "graft_aqp_oag_l l LEFT JOIN graft_aqp_oag_r r " +
            "ON l.k = r.k"
          val texts = Seq(
            // preserved-side sum: unmatched left rows contribute once
            "oa1_sum_left" -> s"SELECT sum(l.w) AS x FROM $lj",
            // non-preserved-side sum: extension NULLs excluded
            "oa2_sum_right" -> s"SELECT sum(r.v) AS x FROM $lj",
            "oa3_count_right" -> s"SELECT count(r.b) AS x FROM $lj",
            "oa4_min_full" -> ("SELECT min(l.w) AS x FROM " +
              "graft_aqp_oag_l l FULL JOIN graft_aqp_oag_r r " +
              "ON l.k = r.k"),
            "oa5_distinct_right" -> ("SELECT count(DISTINCT l.w) AS x " +
              "FROM graft_aqp_oag_l l RIGHT JOIN graft_aqp_oag_r r " +
              "ON l.k = r.k"),
            "oa6_avg_left" -> s"SELECT avg(l.w) AS x FROM $lj")
          val rows = texts.map { case (qid, sql) =>
            val df = s.sql(sql)
            val plan = df.queryExecution.optimizedPlan.toString
            require(plan.trim.startsWith("LocalRelation"),
              s"outer agg rewrite did not fire on $qid; plan:\n$plan")
            val r0 = df.collect()(0)
            val x: Option[Double] =
              if (r0.isNullAt(0)) None
              else r0.get(0) match {
                case l: java.lang.Long => Some(l.toDouble)
                case dd: java.lang.Double => Some(dd)
              }
            (qid, x)
          }
          rows.toDF("query_id", "x").orderBy("query_id")
        } finally {
          savedEnabled match {
            case Some(v) => s.conf.set(graft.plans.GraftRuntime.EnabledKey, v)
            case None => s.conf.unset(graft.plans.GraftRuntime.EnabledKey)
          }
          graft.plans.GraftRuntime.restore(savedRegistry)
        }
      },
      Some("""WITH basee AS (SELECT * FROM events WHERE event_id % 97 = 0),
l AS (SELECT CASE WHEN event_id % 13 = 0 THEN NULL
             ELSE event_id % 7 END AS k,
             CASE WHEN event_id % 11 = 0 THEN NULL
                  ELSE CAST(event_id % 9 AS DOUBLE) END AS w
      FROM basee),
r AS (SELECT CASE WHEN event_id % 17 = 0 THEN NULL
             ELSE (event_id + 1) % 8 END AS k,
             event_id % 5 AS b,
             CAST(event_id % 6 AS DOUBLE) AS v FROM basee)
SELECT * FROM (
  SELECT 'oa1_sum_left' AS query_id, CAST(sum(l.w) AS DOUBLE) AS x
  FROM l LEFT JOIN r ON l.k = r.k
  UNION ALL
  SELECT 'oa2_sum_right', CAST(sum(r.v) AS DOUBLE)
  FROM l LEFT JOIN r ON l.k = r.k
  UNION ALL
  SELECT 'oa3_count_right', CAST(count(r.b) AS DOUBLE)
  FROM l LEFT JOIN r ON l.k = r.k
  UNION ALL
  SELECT 'oa4_min_full', CAST(min(l.w) AS DOUBLE)
  FROM l FULL JOIN r ON l.k = r.k
  UNION ALL
  SELECT 'oa5_distinct_right', CAST(count(DISTINCT l.w) AS DOUBLE)
  FROM l RIGHT JOIN r ON l.k = r.k
  UNION ALL
  SELECT 'oa6_avg_left', avg(l.w)
  FROM l LEFT JOIN r ON l.k = r.k)
ORDER BY query_id""")),
    // Composite-key OUTER joins (r18): an AND of equalities in the ON
    // clause contributes one matched-grid axis per equality — the same
    // generalization the semi/anti path got, applied to LEFT/RIGHT/
    // FULL. Left key k1 is null-bearing (null-key rows are unmatched
    // on their own side); grouped and value-aggregate forms ride the
    // per-side probe. Exact registrations → lossless; scan-free plans
    // require()d; DuckDB recomputes the identical derivation.
    Entry("q_approx_outer_composite",
      (s, d) => {
        import s.implicits._
        graft.plans.ApproxCountRule.attachIfMissing(s)
        val savedRegistry = graft.plans.GraftRuntime.snapshot()
        val savedEnabled =
          s.conf.getOption(graft.plans.GraftRuntime.EnabledKey)
        val base = "/tmp/graft_ocp/" + d.replaceAll("[^A-Za-z0-9]", "_") +
          "_" + ProcessHandle.current().pid()
        deriveOnce(base) {
          val evBase = Tables.read(s, d, "events")
            .filter(pmod(col("event_id"), lit(97)) === 0)
          evBase.select(
              when(pmod(col("event_id"), lit(11)) === 0,
                lit(null).cast("long"))
                .otherwise(pmod(col("event_id"), lit(5))).as("k1"),
              pmod(col("event_id"), lit(3)).as("k2"),
              when(pmod(col("event_id"), lit(13)) === 0,
                lit(null).cast("double"))
                .otherwise(pmod(col("event_id"), lit(7)).cast("double"))
                .as("w"))
            .write.mode("overwrite").parquet(s"$base/l.parquet")
          evBase.select(
              pmod(col("event_id") + 1, lit(5)).as("k1"),
              pmod(col("event_id"), lit(3)).as("k2"),
              pmod(col("event_id"), lit(4)).as("b"))
            .write.mode("overwrite").parquet(s"$base/r.parquet")
        }
        val dl = s.read.parquet(s"$base/l.parquet")
        val dr = s.read.parquet(s"$base/r.parquet")
        val leL = localExact(s"$base/l.parquet", dl, Seq("k1", "k2", "w"))
        val leR = localExact(s"$base/r.parquet", dr, Seq("k1", "k2", "b"))
        val lDoms = Seq("k1", "k2", "w").map(c => c -> leL.domainOf(c)).toMap
        val rDoms = Seq("k1", "k2", "b").map(c => c -> leR.domainOf(c)).toMap
        graft.plans.GraftRuntime.register(s"$base/l.parquet",
          Set("k1", "k2", "w"), preds => leL.count(preds),
          domain = name => lDoms.get(name))
        graft.plans.GraftRuntime.register(s"$base/r.parquet",
          Set("k1", "k2", "b"), preds => leR.count(preds),
          domain = name => rDoms.get(name))
        s.conf.set(graft.plans.GraftRuntime.EnabledKey, "true")
        try {
          dl.createOrReplaceTempView("graft_aqp_ocp_l")
          dr.createOrReplaceTempView("graft_aqp_ocp_r")
          val on = "l.k1 = r.k1 AND l.k2 = r.k2"
          val texts = Seq(
            "ocp1_left_count" -> ("SELECT count(*) AS n FROM " +
              s"graft_aqp_ocp_l l LEFT JOIN graft_aqp_ocp_r r ON $on"),
            "ocp2_full_filtered" -> ("SELECT count(*) AS n FROM " +
              "graft_aqp_ocp_l l FULL JOIN (SELECT * FROM " +
              "graft_aqp_ocp_r WHERE b != 0) r ON " +
              "l.k1 = r.k1 AND l.k2 = r.k2"),
            "ocp3_grouped" -> ("SELECT l.k2 AS grp, count(*) AS n " +
              s"FROM graft_aqp_ocp_l l LEFT JOIN graft_aqp_ocp_r r " +
              s"ON $on GROUP BY l.k2"),
            "ocp4_sum" -> ("SELECT sum(l.w) AS n FROM " +
              s"graft_aqp_ocp_l l LEFT JOIN graft_aqp_ocp_r r ON $on"))
          val rows = texts.flatMap { case (qid, sql) =>
            val df = s.sql(sql)
            val plan = df.queryExecution.optimizedPlan.toString
            require(plan.trim.startsWith("LocalRelation"),
              s"composite outer rewrite did not fire on $qid; " +
                s"plan:\n$plan")
            df.collect().map { r =>
              if (qid == "ocp3_grouped")
                (qid + "_" + r.getLong(0), r.getLong(1))
              else if (qid == "ocp4_sum")
                (qid, r.getDouble(0).toLong)
              else (qid, r.getLong(0))
            }
          }
          rows.toDF("query_id", "n").orderBy("query_id")
        } finally {
          savedEnabled match {
            case Some(v) => s.conf.set(graft.plans.GraftRuntime.EnabledKey, v)
            case None => s.conf.unset(graft.plans.GraftRuntime.EnabledKey)
          }
          graft.plans.GraftRuntime.restore(savedRegistry)
        }
      },
      Some("""WITH basee AS (SELECT * FROM events WHERE event_id % 97 = 0),
l AS (SELECT CASE WHEN event_id % 11 = 0 THEN NULL
             ELSE event_id % 5 END AS k1,
             event_id % 3 AS k2,
             CASE WHEN event_id % 13 = 0 THEN NULL
                  ELSE CAST(event_id % 7 AS DOUBLE) END AS w
      FROM basee),
r AS (SELECT (event_id + 1) % 5 AS k1, event_id % 3 AS k2,
             event_id % 4 AS b FROM basee)
SELECT * FROM (
  SELECT 'ocp1_left_count' AS query_id, CAST(count(*) AS BIGINT) AS n
  FROM l LEFT JOIN r ON l.k1 = r.k1 AND l.k2 = r.k2
  UNION ALL
  SELECT 'ocp2_full_filtered', CAST(count(*) AS BIGINT)
  FROM l FULL JOIN (SELECT * FROM r WHERE b != 0) r2
    ON l.k1 = r2.k1 AND l.k2 = r2.k2
  UNION ALL
  SELECT 'ocp3_grouped_' || CAST(l.k2 AS VARCHAR),
    CAST(count(*) AS BIGINT)
  FROM l LEFT JOIN r ON l.k1 = r.k1 AND l.k2 = r.k2 GROUP BY l.k2
  UNION ALL
  SELECT 'ocp4_sum', CAST(sum(l.w) AS BIGINT)
  FROM l LEFT JOIN r ON l.k1 = r.k1 AND l.k2 = r.k2)
ORDER BY query_id""")),
    // GROUPED aggregates over EXISTS / NOT EXISTS (r17 third pass):
    // semi/anti join output carries only left columns, so the whole
    // scan-path cell vocabulary rides the matched-key probe — `SELECT
    // segment, count(*) FROM customers WHERE EXISTS(orders…) GROUP BY
    // segment` is the retention-report shape. xg1 groups an EXISTS;
    // xg2 groups a NOT EXISTS (the null/unmatched complement per
    // group). Exact registrations → lossless; scan-free plans
    // require()d; DuckDB runs the identical texts.
    Entry("q_approx_exists_groupby",
      (s, d) => {
        import s.implicits._
        graft.plans.ApproxCountRule.attachIfMissing(s)
        val savedRegistry = graft.plans.GraftRuntime.snapshot()
        val savedEnabled =
          s.conf.getOption(graft.plans.GraftRuntime.EnabledKey)
        val cust = s.read.parquet(s"$d/customer.parquet")
        val nat = s.read.parquet(s"$d/nation.parquet")
        val cDom = cachedColumnMeta(s"$d/customer.parquet",
          cust.select("c_nationkey"), "c_nationkey").domain.toSeq
        val cmDom = cachedColumnMeta(s"$d/customer.parquet",
          cust.select("c_mktsegment"), "c_mktsegment").domain.toSeq
        val nDom = cachedColumnMeta(s"$d/nation.parquet",
          nat.select("n_nationkey"), "n_nationkey").domain.toSeq
        val leC = localExact(s"$d/customer.parquet", cust,
          Seq("c_nationkey", "c_acctbal", "c_mktsegment"))
        val leN = localExact(s"$d/nation.parquet", nat,
          Seq("n_nationkey", "n_regionkey", "n_name"))
        graft.plans.GraftRuntime.register(
          s"$d/customer.parquet",
          Set("c_nationkey", "c_acctbal", "c_mktsegment"),
          preds => leC.count(preds),
          domain = name => if (name == "c_nationkey") Some(cDom)
            else if (name == "c_mktsegment") Some(cmDom) else None)
        graft.plans.GraftRuntime.register(
          s"$d/nation.parquet",
          Set("n_nationkey", "n_regionkey", "n_name"),
          preds => leN.count(preds),
          domain = name => if (name == "n_nationkey") Some(nDom) else None)
        s.conf.set(graft.plans.GraftRuntime.EnabledKey, "true")
        try {
          cust.createOrReplaceTempView("graft_aqp_exg_customer")
          nat.createOrReplaceTempView("graft_aqp_exg_nation")
          val texts = Seq(
            "xg1_exists_grouped" -> ("SELECT c.c_mktsegment AS grp, " +
              "count(*) AS n FROM graft_aqp_exg_customer c " +
              "WHERE EXISTS (SELECT 1 FROM graft_aqp_exg_nation n " +
              "WHERE n.n_nationkey = c.c_nationkey " +
              "AND n.n_regionkey <= 1) GROUP BY c.c_mktsegment"),
            "xg2_not_exists_grouped" -> ("SELECT c.c_mktsegment AS grp, " +
              "count(*) AS n FROM graft_aqp_exg_customer c " +
              "WHERE NOT EXISTS (SELECT 1 FROM graft_aqp_exg_nation n " +
              "WHERE n.n_nationkey = c.c_nationkey " +
              "AND n.n_name LIKE 'UNITED%') GROUP BY c.c_mktsegment"))
          val rows = texts.flatMap { case (qid, sql) =>
            val df = s.sql(sql)
            val plan = df.queryExecution.optimizedPlan.toString
            require(plan.trim.startsWith("LocalRelation"),
              s"grouped semi/anti rewrite did not fire on $qid; " +
                s"plan:\n$plan")
            df.collect().map(r => (qid, r.getString(0), r.getLong(1)))
          }
          rows.toDF("query_id", "grp", "n").orderBy("query_id", "grp")
        } finally {
          savedEnabled match {
            case Some(v) => s.conf.set(graft.plans.GraftRuntime.EnabledKey, v)
            case None => s.conf.unset(graft.plans.GraftRuntime.EnabledKey)
          }
          graft.plans.GraftRuntime.restore(savedRegistry)
        }
      },
      Some("""SELECT 'xg1_exists_grouped' AS query_id,
  c.c_mktsegment AS grp, CAST(count(*) AS BIGINT) AS n
FROM customer c
WHERE EXISTS (SELECT 1 FROM nation n
  WHERE n.n_nationkey = c.c_nationkey AND n.n_regionkey <= 1)
GROUP BY c.c_mktsegment
UNION ALL
SELECT 'xg2_not_exists_grouped', c.c_mktsegment,
  CAST(count(*) AS BIGINT)
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM nation n
  WHERE n.n_nationkey = c.c_nationkey AND n.n_name LIKE 'UNITED%')
GROUP BY c.c_mktsegment
ORDER BY query_id, grp""")),
    // Guarantee-gate twin of q_approx_join_count: the join count
    // answered with a LEARNED model on the fact side — a MADE trained
    // on customer (c_mktsegment, c_nationkey) composes with an exact
    // nation registration through the same Σ_v n_C(v)·n_N(v) rewrite,
    // i.e. learned join-cardinality AQP end to end through Catalyst.
    // The exact references are computed BEFORE the rewrite is enabled
    // (the q_approx_count_bounds discipline); the gate is per-query
    // q-error ≤ 2.0, and the DuckDB oracle recomputes the exact counts
    // from the identical texts.
    Entry("q_approx_join_count_bounds",
      (s, d) => {
        import s.implicits._
        val cust = s.read.parquet(s"$d/customer.parquet")
        val (model, meta) = customerModel(s, d)
        val ps = new ProgressiveSampling(model, meta, numSamples = 1000,
          shortcircuit = true)
        graft.plans.ApproxCountRule.attachIfMissing(s)
        val savedRegistry = graft.plans.GraftRuntime.snapshot()
        val savedEnabled =
          s.conf.getOption(graft.plans.GraftRuntime.EnabledKey)
        val nat = s.read.parquet(s"$d/nation.parquet")
        val leN = localExact(s"$d/nation.parquet", nat, Seq("n_nationkey", "n_regionkey"))
        val nDom = cachedColumnMeta(s"$d/nation.parquet",
          nat.select("n_nationkey"), "n_nationkey").domain.toSeq
        cust.createOrReplaceTempView("graft_aqp_jcb_customer")
        nat.createOrReplaceTempView("graft_aqp_jcb_nation")
        val texts = Seq(
          "b1_filtered" -> ("SELECT count(*) AS n FROM " +
            "graft_aqp_jcb_customer c JOIN graft_aqp_jcb_nation n " +
            "ON c.c_nationkey = n.n_nationkey " +
            "WHERE c.c_mktsegment = 'BUILDING' AND n.n_regionkey <= 2"),
          "b2_bare" -> ("SELECT count(*) AS n FROM " +
            "graft_aqp_jcb_customer c JOIN graft_aqp_jcb_nation n " +
            "ON c.c_nationkey = n.n_nationkey"))
        val exact = texts.map { case (qid, sql) =>
          qid -> s.sql(sql).collect()(0).getLong(0)
        }.toMap
        graft.plans.GraftRuntime.register(
          s"$d/customer.parquet", Set("c_mktsegment", "c_nationkey"),
          ps.query,
          domain = name => if (name == "c_nationkey")
            Some(meta.column("c_nationkey").domain.toSeq) else None)
        graft.plans.GraftRuntime.register(
          s"$d/nation.parquet", Set("n_nationkey", "n_regionkey"),
          preds => leN.count(preds),
          domain = name => if (name == "n_nationkey") Some(nDom) else None)
        s.conf.set(graft.plans.GraftRuntime.EnabledKey, "true")
        try {
          val rows = texts.map { case (qid, sql) =>
            val df = s.sql(sql)
            val plan = df.queryExecution.optimizedPlan.toString
            require(plan.trim.startsWith("LocalRelation"),
              s"learned join-count rewrite did not fire on $qid; " +
                s"plan:\n$plan")
            val est = math.max(df.collect()(0).getLong(0), 1L)
            val ex = exact(qid)
            val qerr = math.max(est.toDouble / ex, ex.toDouble / est)
            (qid, ex, qerr <= 2.0)
          }
          rows.toDF("query_id", "exact_n", "ok").orderBy("query_id")
        } finally {
          savedEnabled match {
            case Some(v) => s.conf.set(graft.plans.GraftRuntime.EnabledKey, v)
            case None => s.conf.unset(graft.plans.GraftRuntime.EnabledKey)
          }
          graft.plans.GraftRuntime.restore(savedRegistry)
        }
      },
      Some("""SELECT 'b1_filtered' AS query_id,
  CAST(count(*) AS BIGINT) AS exact_n, true AS ok
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE c.c_mktsegment = 'BUILDING' AND n.n_regionkey <= 2
UNION ALL
SELECT 'b2_bare', CAST(count(*) AS BIGINT), true
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
ORDER BY query_id""")),
    // N-table join chains and stars from single-table registrations
    // (r17; VERDICT r16 #2): the join count generalized from exactly
    // two tables to flattened inner equi-join trees — the per-key
    // factorization composes as Σ over edge-value assignments of
    // ∏ per-leaf estimates (each leaf probed with its incident edge
    // keys; per-leaf probes memoized, so a chain costs per-edge-value
    // probes, not per-grid-cell). s1 is a 3-table CHAIN
    // (region–nation–customer: 5×25 grid) with side predicates from
    // the extended vocabulary; s2 is a 3-table STAR sharing the nation
    // key (the two edges' equality masks AND on nation, so only the
    // diagonal survives — 625 combos, exact); s3 pins the
    // inferred-column-equality fall-through (a shared-column composite
    // makes InferFiltersFromConstraints push a col=col conjunct into
    // one side — outside the vocabulary, fails closed; the
    // distinct-column composite gate is q_approx_join_composite);
    // s3b pins the NON-EQUI residual fall-through (its scan answer
    // still hash-matches); s4 pins the edge-grid budget fall-through
    // (a 4-table chain whose grid exceeds maxGroupProbes).
    Entry("q_approx_star_count",
      (s, d) => {
        import s.implicits._
        graft.plans.ApproxCountRule.attachIfMissing(s)
        val savedRegistry = graft.plans.GraftRuntime.snapshot()
        val savedEnabled =
          s.conf.getOption(graft.plans.GraftRuntime.EnabledKey)
        val reg = s.read.parquet(s"$d/region.parquet")
        val nat = s.read.parquet(s"$d/nation.parquet")
        val cust = s.read.parquet(s"$d/customer.parquet")
        val supp = s.read.parquet(s"$d/supplier.parquet")
        val rDom = cachedColumnMeta(s"$d/region.parquet",
          reg.select("r_regionkey"), "r_regionkey").domain.toSeq
        val nkDom = cachedColumnMeta(s"$d/nation.parquet",
          nat.select("n_nationkey"), "n_nationkey").domain.toSeq
        val nrDom = cachedColumnMeta(s"$d/nation.parquet",
          nat.select("n_regionkey"), "n_regionkey").domain.toSeq
        val cDom = cachedColumnMeta(s"$d/customer.parquet",
          cust.select("c_nationkey"), "c_nationkey").domain.toSeq
        val sDom = cachedColumnMeta(s"$d/supplier.parquet",
          supp.select("s_nationkey"), "s_nationkey").domain.toSeq
        val leR = localExact(s"$d/region.parquet", reg, Seq("r_regionkey", "r_name"))
        val leN = localExact(s"$d/nation.parquet", nat,
          Seq("n_nationkey", "n_regionkey", "n_name"))
        val leC = localExact(s"$d/customer.parquet", cust,
          Seq("c_nationkey", "c_acctbal", "c_mktsegment", "c_custkey"))
        val leS = localExact(s"$d/supplier.parquet", supp, Seq("s_nationkey", "s_suppkey"))
        graft.plans.GraftRuntime.register(
          s"$d/region.parquet", Set("r_regionkey", "r_name"),
          preds => leR.count(preds),
          domain = name => if (name == "r_regionkey") Some(rDom) else None)
        graft.plans.GraftRuntime.register(
          s"$d/nation.parquet",
          Set("n_nationkey", "n_regionkey", "n_name"),
          preds => leN.count(preds),
          domain = name => if (name == "n_nationkey") Some(nkDom)
            else if (name == "n_regionkey") Some(nrDom) else None)
        graft.plans.GraftRuntime.register(
          s"$d/customer.parquet",
          Set("c_nationkey", "c_acctbal", "c_mktsegment", "c_custkey"),
          preds => leC.count(preds),
          domain = name => if (name == "c_nationkey") Some(cDom) else None)
        graft.plans.GraftRuntime.register(
          s"$d/supplier.parquet", Set("s_nationkey", "s_suppkey"),
          preds => leS.count(preds),
          domain = name => if (name == "s_nationkey") Some(sDom) else None)
        s.conf.set(graft.plans.GraftRuntime.EnabledKey, "true")
        try {
          reg.createOrReplaceTempView("graft_aqp_star_region")
          nat.createOrReplaceTempView("graft_aqp_star_nation")
          cust.createOrReplaceTempView("graft_aqp_star_customer")
          supp.createOrReplaceTempView("graft_aqp_star_supplier")
          val texts = Seq(
            ("s1_chain", "SELECT count(*) AS n FROM " +
              "graft_aqp_star_region r " +
              "JOIN graft_aqp_star_nation n " +
              "ON r.r_regionkey = n.n_regionkey " +
              "JOIN graft_aqp_star_customer c " +
              "ON n.n_nationkey = c.c_nationkey " +
              "WHERE r.r_name != 'ASIA' AND c.c_acctbal <= 5000.0", true),
            ("s2_star", "SELECT count(*) AS n FROM " +
              "graft_aqp_star_supplier s " +
              "JOIN graft_aqp_star_nation n " +
              "ON s.s_nationkey = n.n_nationkey " +
              "JOIN graft_aqp_star_customer c " +
              "ON c.c_nationkey = n.n_nationkey " +
              "WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')", true),
            // composite keys over DISTINCT columns rewrite since the
            // r17 edge generalization (q_approx_join_composite); this
            // SHARED-column composite stays a fall-through for a
            // subtler reason: InferFiltersFromConstraints derives the
            // transitive n_nationkey = n_regionkey and pushes it into
            // the nation side as a column-to-COLUMN conjunct, which
            // the mask vocabulary cannot express — the leaf parse
            // fails closed (the scan answer still hash-matches).
            ("s3_inferred_coleq_falls_through", "SELECT count(*) AS n " +
              "FROM graft_aqp_star_customer c " +
              "JOIN graft_aqp_star_nation n " +
              "ON c.c_nationkey = n.n_nationkey " +
              "AND c.c_nationkey = n.n_regionkey", false),
            ("s3b_nonequi_falls_through", "SELECT count(*) AS n FROM " +
              "graft_aqp_star_customer c JOIN graft_aqp_star_nation n " +
              "ON c.c_nationkey = n.n_nationkey " +
              "AND c.c_acctbal > n.n_regionkey", false),
            ("s4_grid_cap_falls_through", "SELECT count(*) AS n FROM " +
              "graft_aqp_star_supplier s " +
              "JOIN graft_aqp_star_nation n " +
              "ON s.s_nationkey = n.n_nationkey " +
              "JOIN graft_aqp_star_customer c " +
              "ON c.c_nationkey = n.n_nationkey " +
              "JOIN graft_aqp_star_region r " +
              "ON r.r_regionkey = n.n_regionkey", false))
          val rows = texts.map { case (qid, sql, mustRewrite) =>
            val df = s.sql(sql)
            val plan = df.queryExecution.optimizedPlan.toString
            if (mustRewrite)
              require(plan.trim.startsWith("LocalRelation"),
                s"star/chain rewrite did not fire on $qid; plan:\n$plan")
            else
              require(!plan.trim.startsWith("LocalRelation"),
                s"$qid must fall through; plan:\n$plan")
            (qid, df.collect()(0).getLong(0))
          }
          rows.toDF("query_id", "n").orderBy("query_id")
        } finally {
          savedEnabled match {
            case Some(v) => s.conf.set(graft.plans.GraftRuntime.EnabledKey, v)
            case None => s.conf.unset(graft.plans.GraftRuntime.EnabledKey)
          }
          graft.plans.GraftRuntime.restore(savedRegistry)
        }
      },
      Some("""SELECT 's1_chain' AS query_id, CAST(count(*) AS BIGINT) AS n
FROM region r
JOIN nation n ON r.r_regionkey = n.n_regionkey
JOIN customer c ON n.n_nationkey = c.c_nationkey
WHERE r.r_name <> 'ASIA' AND c.c_acctbal <= 5000.0
UNION ALL
SELECT 's2_star', CAST(count(*) AS BIGINT)
FROM supplier s
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN customer c ON c.c_nationkey = n.n_nationkey
WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
UNION ALL
SELECT 's3_inferred_coleq_falls_through', CAST(count(*) AS BIGINT)
FROM customer c JOIN nation n
ON c.c_nationkey = n.n_nationkey AND c.c_nationkey = n.n_regionkey
UNION ALL
SELECT 's3b_nonequi_falls_through', CAST(count(*) AS BIGINT)
FROM customer c JOIN nation n
ON c.c_nationkey = n.n_nationkey AND c.c_acctbal > n.n_regionkey
UNION ALL
SELECT 's4_grid_cap_falls_through', CAST(count(*) AS BIGINT)
FROM supplier s
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN customer c ON c.c_nationkey = n.n_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey
ORDER BY query_id""")),
    // COMPOSITE-key join counts (r17): an AND of equalities in one
    // join condition contributes one edge PER equality — the
    // factorization grid runs over both key domains and a probe
    // carries both Eq conjuncts, so absent (k1,k2) combinations count
    // 0 and the sum is exact. Both sides here carry genuinely distinct
    // two-column keys (derived from events with shifted residues, so
    // the pair distribution is non-trivial); DuckDB recomputes the
    // identical derivation. c1 is the bare composite count; c2 pushes
    // side predicates through. Grid 5×7 = 35 combos × 2 leaves = 70
    // driver probes replacing a two-sided shuffle join.
    Entry("q_approx_join_composite",
      (s, d) => {
        import s.implicits._
        graft.plans.ApproxCountRule.attachIfMissing(s)
        val savedRegistry = graft.plans.GraftRuntime.snapshot()
        val savedEnabled =
          s.conf.getOption(graft.plans.GraftRuntime.EnabledKey)
        val base = "/tmp/graft_jcomp/" + d.replaceAll("[^A-Za-z0-9]", "_") +
          "_" + ProcessHandle.current().pid()
        deriveOnce(base) {
          val evBase = Tables.read(s, d, "events")
            .filter(pmod(col("event_id"), lit(97)) === 0)
          evBase.select(
              pmod(col("event_id"), lit(5)).as("k1"),
              pmod(col("event_id"), lit(7)).as("k2"),
              col("value").as("a"))
            .write.mode("overwrite").parquet(s"$base/l.parquet")
          evBase.select(
              pmod(col("event_id") + 1, lit(5)).as("k1"),
              pmod(col("event_id") + 2, lit(7)).as("k2"),
              col("value").as("b"))
            .write.mode("overwrite").parquet(s"$base/r.parquet")
        }
        val dl = s.read.parquet(s"$base/l.parquet")
        val dr = s.read.parquet(s"$base/r.parquet")
        val leL = localExact(s"$base/l.parquet", dl, Seq("k1", "k2", "a"))
        val leR = localExact(s"$base/r.parquet", dr, Seq("k1", "k2", "b"))
        val dlDoms = Seq("k1", "k2").map(c => c -> leL.domainOf(c)).toMap
        val drDoms = Seq("k1", "k2").map(c => c -> leR.domainOf(c)).toMap
        graft.plans.GraftRuntime.register(s"$base/l.parquet",
          Set("k1", "k2", "a"), preds => leL.count(preds),
          domain = name => dlDoms.get(name))
        graft.plans.GraftRuntime.register(s"$base/r.parquet",
          Set("k1", "k2", "b"), preds => leR.count(preds),
          domain = name => drDoms.get(name))
        s.conf.set(graft.plans.GraftRuntime.EnabledKey, "true")
        try {
          dl.createOrReplaceTempView("graft_aqp_jcomp_l")
          dr.createOrReplaceTempView("graft_aqp_jcomp_r")
          val texts = Seq(
            "c1_bare" -> ("SELECT count(*) AS n FROM graft_aqp_jcomp_l l " +
              "JOIN graft_aqp_jcomp_r r " +
              "ON l.k1 = r.k1 AND l.k2 = r.k2"),
            "c2_filtered" -> ("SELECT count(*) AS n FROM " +
              "graft_aqp_jcomp_l l JOIN graft_aqp_jcomp_r r " +
              "ON l.k1 = r.k1 AND l.k2 = r.k2 " +
              "WHERE l.a <= 250.0 AND r.b >= 50.0"))
          val rows = texts.map { case (qid, sql) =>
            val df = s.sql(sql)
            val plan = df.queryExecution.optimizedPlan.toString
            require(plan.trim.startsWith("LocalRelation"),
              s"composite-key rewrite did not fire on $qid; plan:\n$plan")
            (qid, df.collect()(0).getLong(0))
          }
          rows.toDF("query_id", "n").orderBy("query_id")
        } finally {
          savedEnabled match {
            case Some(v) => s.conf.set(graft.plans.GraftRuntime.EnabledKey, v)
            case None => s.conf.unset(graft.plans.GraftRuntime.EnabledKey)
          }
          graft.plans.GraftRuntime.restore(savedRegistry)
        }
      },
      Some("""WITH base AS (SELECT * FROM events WHERE event_id % 97 = 0),
l AS (SELECT event_id % 5 AS k1, event_id % 7 AS k2, value AS a
      FROM base),
r AS (SELECT (event_id + 1) % 5 AS k1, (event_id + 2) % 7 AS k2,
             value AS b FROM base)
SELECT 'c1_bare' AS query_id, CAST(count(*) AS BIGINT) AS n
FROM l JOIN r ON l.k1 = r.k1 AND l.k2 = r.k2
UNION ALL
SELECT 'c2_filtered', CAST(count(*) AS BIGINT)
FROM l JOIN r ON l.k1 = r.k1 AND l.k2 = r.k2
WHERE l.a <= 250.0 AND r.b >= 50.0
ORDER BY query_id""")),
    // Value aggregates over a JOIN (r17 second pass): sum/avg/min/max/
    // count(c)/count(DISTINCT c) where c lives on one side — the
    // probe-vector functional with the join factorization supplying
    // each n_v (`SELECT sum(x) FROM fact JOIN dim` — the most common
    // analytics shape there is). The value column is NULL-BEARING so
    // ignore-nulls semantics are load-bearing; integral-valued w keeps
    // sums/avgs bit-exact cross-engine. Exact registrations →
    // lossless; every query require()s the scan-free plan; DuckDB
    // recomputes the identical derivation.
    Entry("q_approx_join_value_aggs",
      (s, d) => {
        import s.implicits._
        graft.plans.ApproxCountRule.attachIfMissing(s)
        val savedRegistry = graft.plans.GraftRuntime.snapshot()
        val savedEnabled =
          s.conf.getOption(graft.plans.GraftRuntime.EnabledKey)
        val base = "/tmp/graft_jvagg/" + d.replaceAll("[^A-Za-z0-9]", "_") +
          "_" + ProcessHandle.current().pid()
        deriveOnce(base) {
          val evBase = Tables.read(s, d, "events")
            .filter(pmod(col("event_id"), lit(97)) === 0)
          evBase.select(
              pmod(col("event_id"), lit(5)).as("k1"),
              when(pmod(col("event_id"), lit(11)) === 0,
                lit(null).cast("double"))
                .otherwise(pmod(col("event_id"), lit(13)).cast("double"))
                .as("w"))
            .write.mode("overwrite").parquet(s"$base/l.parquet")
          evBase.select(
              pmod(col("event_id") + 1, lit(5)).as("k1"),
              pmod(col("event_id"), lit(3)).as("b"))
            .write.mode("overwrite").parquet(s"$base/r.parquet")
        }
        val dl = s.read.parquet(s"$base/l.parquet")
        val dr = s.read.parquet(s"$base/r.parquet")
        val leL = localExact(s"$base/l.parquet", dl, Seq("k1", "w"))
        val leR = localExact(s"$base/r.parquet", dr, Seq("k1", "b"))
        val lDoms = Seq("k1", "w").map(c => c -> leL.domainOf(c)).toMap
        val rDoms = Seq("k1").map(c => c -> leR.domainOf(c)).toMap
        graft.plans.GraftRuntime.register(s"$base/l.parquet",
          Set("k1", "w"), preds => leL.count(preds),
          domain = name => lDoms.get(name))
        graft.plans.GraftRuntime.register(s"$base/r.parquet",
          Set("k1", "b"), preds => leR.count(preds),
          domain = name => rDoms.get(name))
        s.conf.set(graft.plans.GraftRuntime.EnabledKey, "true")
        try {
          dl.createOrReplaceTempView("graft_aqp_jva_l")
          dr.createOrReplaceTempView("graft_aqp_jva_r")
          val join = "FROM graft_aqp_jva_l l JOIN graft_aqp_jva_r r " +
            "ON l.k1 = r.k1"
          val texts = Seq(
            "v1_sum" -> s"SELECT sum(l.w) AS x $join",
            "v2_avg" -> s"SELECT avg(l.w) AS x $join",
            "v3_min" -> s"SELECT min(l.w) AS x $join",
            "v4_max" -> s"SELECT max(l.w) AS x $join",
            "v5_count_col" -> s"SELECT count(l.w) AS x $join",
            "v6_count_distinct" ->
              s"SELECT count(DISTINCT l.w) AS x $join",
            "v7_sum_distinct" -> s"SELECT sum(DISTINCT l.w) AS x $join",
            "v8_side_filtered" -> (s"SELECT sum(l.w) AS x $join " +
              "WHERE r.b != 1"))
          val rows = texts.map { case (qid, sql) =>
            val df = s.sql(sql)
            val plan = df.queryExecution.optimizedPlan.toString
            require(plan.trim.startsWith("LocalRelation"),
              s"join value-agg rewrite did not fire on $qid; " +
                s"plan:\n$plan")
            val r0 = df.collect()(0)
            val x: Option[Double] =
              if (r0.isNullAt(0)) None
              else r0.get(0) match {
                case l: java.lang.Long => Some(l.toDouble)
                case dd: java.lang.Double => Some(dd)
              }
            (qid, x)
          }
          rows.toDF("query_id", "x").orderBy("query_id")
        } finally {
          savedEnabled match {
            case Some(v) => s.conf.set(graft.plans.GraftRuntime.EnabledKey, v)
            case None => s.conf.unset(graft.plans.GraftRuntime.EnabledKey)
          }
          graft.plans.GraftRuntime.restore(savedRegistry)
        }
      },
      Some("""WITH basee AS (SELECT * FROM events WHERE event_id % 97 = 0),
l AS (SELECT event_id % 5 AS k1,
             CASE WHEN event_id % 11 = 0 THEN NULL
                  ELSE CAST(event_id % 13 AS DOUBLE) END AS w
      FROM basee),
r AS (SELECT (event_id + 1) % 5 AS k1, event_id % 3 AS b FROM basee),
jn AS (SELECT l.w, r.b FROM l JOIN r ON l.k1 = r.k1)
SELECT * FROM (
  SELECT 'v1_sum' AS query_id, CAST(sum(w) AS DOUBLE) AS x FROM jn
  UNION ALL SELECT 'v2_avg', CAST(sum(w) AS DOUBLE) / count(w) FROM jn
  UNION ALL SELECT 'v3_min', CAST(min(w) AS DOUBLE) FROM jn
  UNION ALL SELECT 'v4_max', CAST(max(w) AS DOUBLE) FROM jn
  UNION ALL SELECT 'v5_count_col', CAST(count(w) AS DOUBLE) FROM jn
  UNION ALL SELECT 'v6_count_distinct',
    CAST(count(DISTINCT w) AS DOUBLE) FROM jn
  UNION ALL SELECT 'v7_sum_distinct',
    CAST(sum(DISTINCT w) AS DOUBLE) FROM jn
  UNION ALL SELECT 'v8_side_filtered', CAST(sum(w) AS DOUBLE)
    FROM jn WHERE b != 1)
ORDER BY query_id""")),
    // GROUPED value aggregates over a JOIN (r17 second pass) — the
    // canonical star-schema report: `SELECT d.attr, sum(f.x) FROM
    // fact JOIN dim GROUP BY d.attr`. Group conjuncts go to their
    // owner leaves, cell conjuncts (NotNull / per-value Eq) to the
    // value column's leaf, and the edge grid supplies each n_v. ga1
    // groups on the NON-value side; ga2 groups and aggregates on the
    // SAME side (incl. a NULL group via the IsNull combo and
    // count(DISTINCT)); ga3 groups on BOTH sides with a min cell. The
    // value column is null-bearing and integral-valued (bit-exact
    // sums); exact registrations → lossless; every query require()s
    // the scan-free plan; DuckDB recomputes the identical derivation.
    Entry("q_approx_join_groupby_aggs",
      (s, d) => {
        import s.implicits._
        graft.plans.ApproxCountRule.attachIfMissing(s)
        val savedRegistry = graft.plans.GraftRuntime.snapshot()
        val savedEnabled =
          s.conf.getOption(graft.plans.GraftRuntime.EnabledKey)
        val base = "/tmp/graft_jga/" + d.replaceAll("[^A-Za-z0-9]", "_") +
          "_" + ProcessHandle.current().pid()
        deriveOnce(base) {
          val evBase = Tables.read(s, d, "events")
            .filter(pmod(col("event_id"), lit(97)) === 0)
          evBase.select(
              pmod(col("event_id"), lit(5)).as("k1"),
              when(pmod(col("event_id"), lit(7)) === 0,
                lit(null).cast("string"))
                .otherwise(col("event_type")).as("g"),
              when(pmod(col("event_id"), lit(11)) === 0,
                lit(null).cast("double"))
                .otherwise(pmod(col("event_id"), lit(13)).cast("double"))
                .as("w"))
            .write.mode("overwrite").parquet(s"$base/l.parquet")
          evBase.select(
              pmod(col("event_id") + 1, lit(5)).as("k1"),
              pmod(col("event_id"), lit(3)).as("b"))
            .write.mode("overwrite").parquet(s"$base/r.parquet")
        }
        val dl = s.read.parquet(s"$base/l.parquet")
        val dr = s.read.parquet(s"$base/r.parquet")
        val leL = localExact(s"$base/l.parquet", dl, Seq("k1", "g", "w"))
        val leR = localExact(s"$base/r.parquet", dr, Seq("k1", "b"))
        val lDoms = Seq("k1", "g", "w").map(c => c -> leL.domainOf(c)).toMap
        val rDoms = Seq("k1", "b").map(c => c -> leR.domainOf(c)).toMap
        graft.plans.GraftRuntime.register(s"$base/l.parquet",
          Set("k1", "g", "w"), preds => leL.count(preds),
          domain = name => lDoms.get(name))
        graft.plans.GraftRuntime.register(s"$base/r.parquet",
          Set("k1", "b"), preds => leR.count(preds),
          domain = name => rDoms.get(name))
        s.conf.set(graft.plans.GraftRuntime.EnabledKey, "true")
        try {
          dl.createOrReplaceTempView("graft_aqp_jga_l")
          dr.createOrReplaceTempView("graft_aqp_jga_r")
          val join = "FROM graft_aqp_jga_l l JOIN graft_aqp_jga_r r " +
            "ON l.k1 = r.k1"
          // (qid, sql, n group cols, metric names)
          val texts = Seq(
            ("ga1_dim_group", s"SELECT r.b AS grp, sum(l.w) AS sw, " +
              s"count(*) AS n $join GROUP BY r.b", 1, Seq("sw", "n")),
            ("ga2_same_side", s"SELECT l.g AS grp, " +
              s"count(DISTINCT l.w) AS dw, avg(l.w) AS aw $join " +
              "GROUP BY l.g", 1, Seq("dw", "aw")),
            ("ga3_both_sides", s"SELECT l.g AS grp, r.b AS grp2, " +
              s"min(l.w) AS mn $join GROUP BY l.g, r.b", 2, Seq("mn")))
          val rows = texts.flatMap { case (qid, sql, nKeys, metrics) =>
            val df = s.sql(sql)
            val plan = df.queryExecution.optimizedPlan.toString
            require(plan.trim.startsWith("LocalRelation"),
              s"grouped join-agg rewrite did not fire on $qid; " +
                s"plan:\n$plan")
            df.collect().flatMap { r =>
              val grp = (0 until nKeys).map(k =>
                if (r.isNullAt(k)) "<NULL>" else r.get(k).toString)
                .mkString("|")
              metrics.zipWithIndex.map { case (m, j) =>
                val idx = nKeys + j
                val x: Option[Double] =
                  if (r.isNullAt(idx)) None
                  else r.get(idx) match {
                    case l: java.lang.Long => Some(l.toDouble)
                    case dd: java.lang.Double => Some(dd)
                  }
                (qid, grp, m, x)
              }
            }
          }
          rows.toDF("query_id", "grp", "metric", "x")
            .orderBy("query_id", "grp", "metric")
        } finally {
          savedEnabled match {
            case Some(v) => s.conf.set(graft.plans.GraftRuntime.EnabledKey, v)
            case None => s.conf.unset(graft.plans.GraftRuntime.EnabledKey)
          }
          graft.plans.GraftRuntime.restore(savedRegistry)
        }
      },
      Some("""WITH basee AS (SELECT * FROM events WHERE event_id % 97 = 0),
l AS (SELECT event_id % 5 AS k1,
             CASE WHEN event_id % 7 = 0 THEN NULL
                  ELSE event_type END AS g,
             CASE WHEN event_id % 11 = 0 THEN NULL
                  ELSE CAST(event_id % 13 AS DOUBLE) END AS w
      FROM basee),
r AS (SELECT (event_id + 1) % 5 AS k1, event_id % 3 AS b FROM basee),
jn AS (SELECT l.g, l.w, r.b FROM l JOIN r ON l.k1 = r.k1),
ga1 AS (SELECT b, sum(w) AS sw, count(*) AS n FROM jn GROUP BY b),
ga2 AS (SELECT g, count(DISTINCT w) AS dw,
          CASE WHEN count(w) = 0 THEN NULL
               ELSE CAST(sum(w) AS DOUBLE) / count(w) END AS aw
        FROM jn GROUP BY g),
ga3 AS (SELECT g, b, min(w) AS mn FROM jn GROUP BY g, b)
SELECT * FROM (
  SELECT 'ga1_dim_group' AS query_id, CAST(b AS VARCHAR) AS grp,
    'sw' AS metric, CAST(sw AS DOUBLE) AS x FROM ga1
  UNION ALL SELECT 'ga1_dim_group', CAST(b AS VARCHAR), 'n',
    CAST(n AS DOUBLE) FROM ga1
  UNION ALL SELECT 'ga2_same_side', coalesce(g, '<NULL>'), 'dw',
    CAST(dw AS DOUBLE) FROM ga2
  UNION ALL SELECT 'ga2_same_side', coalesce(g, '<NULL>'), 'aw',
    CAST(aw AS DOUBLE) FROM ga2
  UNION ALL SELECT 'ga3_both_sides',
    concat(coalesce(g, '<NULL>'), '|', CAST(b AS VARCHAR)), 'mn',
    CAST(mn AS DOUBLE) FROM ga3)
ORDER BY query_id, grp, metric""")),
    // Grouped join counts (r17; VERDICT r16 #3): `SELECT d.attr,
    // count(*) FROM fact JOIN dim GROUP BY d.attr` — the join
    // factorization restricted per group. The probe grid over the
    // grouping domains composes with the edge grid by adding each
    // group's Eq conjunct to its OWNING leaf; zero-count groups drop
    // (inner-join SQL). jg1 groups by a DIM attribute (n_name) under a
    // fact-side WHERE; jg2 groups by a FACT attribute (c_mktsegment)
    // under a dim-side WHERE; jg3 groups by attributes from BOTH
    // sides. All require() the scan-free plan; exact registrations →
    // lossless, hash-gated against DuckDB running the identical texts.
    Entry("q_approx_join_groupby",
      (s, d) => {
        import s.implicits._
        graft.plans.ApproxCountRule.attachIfMissing(s)
        val savedRegistry = graft.plans.GraftRuntime.snapshot()
        val savedEnabled =
          s.conf.getOption(graft.plans.GraftRuntime.EnabledKey)
        val nat = s.read.parquet(s"$d/nation.parquet")
        val cust = s.read.parquet(s"$d/customer.parquet")
        val nkDom = cachedColumnMeta(s"$d/nation.parquet",
          nat.select("n_nationkey"), "n_nationkey").domain.toSeq
        val nnDom = cachedColumnMeta(s"$d/nation.parquet",
          nat.select("n_name"), "n_name").domain.toSeq
        val nrDomJg = cachedColumnMeta(s"$d/nation.parquet",
          nat.select("n_regionkey"), "n_regionkey").domain.toSeq
        val cDom = cachedColumnMeta(s"$d/customer.parquet",
          cust.select("c_nationkey"), "c_nationkey").domain.toSeq
        val cmDom = cachedColumnMeta(s"$d/customer.parquet",
          cust.select("c_mktsegment"), "c_mktsegment").domain.toSeq
        val leN = localExact(s"$d/nation.parquet", nat,
          Seq("n_nationkey", "n_regionkey", "n_name"))
        val leC = localExact(s"$d/customer.parquet", cust,
          Seq("c_nationkey", "c_acctbal", "c_mktsegment"))
        graft.plans.GraftRuntime.register(
          s"$d/nation.parquet",
          Set("n_nationkey", "n_regionkey", "n_name"),
          preds => leN.count(preds),
          domain = name => if (name == "n_nationkey") Some(nkDom)
            else if (name == "n_name") Some(nnDom)
            else if (name == "n_regionkey") Some(nrDomJg) else None)
        graft.plans.GraftRuntime.register(
          s"$d/customer.parquet",
          Set("c_nationkey", "c_acctbal", "c_mktsegment"),
          preds => leC.count(preds),
          domain = name => if (name == "c_nationkey") Some(cDom)
            else if (name == "c_mktsegment") Some(cmDom) else None)
        s.conf.set(graft.plans.GraftRuntime.EnabledKey, "true")
        try {
          nat.createOrReplaceTempView("graft_aqp_jg_nation")
          cust.createOrReplaceTempView("graft_aqp_jg_customer")
          val texts = Seq(
            "jg1_dim_attr" -> ("SELECT n.n_name AS grp, count(*) AS n " +
              "FROM graft_aqp_jg_customer c JOIN graft_aqp_jg_nation n " +
              "ON c.c_nationkey = n.n_nationkey " +
              "WHERE c.c_acctbal <= 5000.0 GROUP BY n.n_name"),
            "jg2_fact_attr" -> ("SELECT c.c_mktsegment AS grp, " +
              "count(*) AS n " +
              "FROM graft_aqp_jg_customer c JOIN graft_aqp_jg_nation n " +
              "ON c.c_nationkey = n.n_nationkey " +
              "WHERE n.n_regionkey <= 2 GROUP BY c.c_mktsegment"),
            // n_regionkey (5) x c_mktsegment (5): 25 group combos x
            // 25 edge pairs x 2 leaves = 1250, inside the probe budget
            // (n_name's 25-value domain would exceed it — by design:
            // the budget is the scale contract)
            "jg3_both_sides" -> ("SELECT n.n_regionkey AS grp, " +
              "c.c_mktsegment AS grp2, count(*) AS n " +
              "FROM graft_aqp_jg_customer c JOIN graft_aqp_jg_nation n " +
              "ON c.c_nationkey = n.n_nationkey " +
              "GROUP BY n.n_regionkey, c.c_mktsegment"),
            // SELECT DISTINCT over a join: Catalyst's Distinct →
            // grouped Aggregate makes the live group combos the
            // distinct rows — the all-GroupCell shape of the same grid
            "jg4_distinct" -> ("SELECT DISTINCT c.c_mktsegment AS grp " +
              "FROM graft_aqp_jg_customer c JOIN graft_aqp_jg_nation n " +
              "ON c.c_nationkey = n.n_nationkey " +
              "WHERE n.n_regionkey >= 3"))
          val rows = texts.flatMap { case (qid, sql) =>
            val df = s.sql(sql)
            val plan = df.queryExecution.optimizedPlan.toString
            require(plan.trim.startsWith("LocalRelation"),
              s"grouped join rewrite did not fire on $qid; plan:\n$plan")
            df.collect().map { r =>
              val isBoth = qid == "jg3_both_sides"
              val grp = if (isBoth) r.get(0).toString else r.getString(0)
              val grp2 = if (isBoth) r.getString(1) else ""
              val n: Option[Long] =
                if (qid == "jg4_distinct") None
                else Some(r.getLong(if (isBoth) 2 else 1))
              (qid, grp, grp2, n)
            }
          }
          rows.toDF("query_id", "grp", "grp2", "n")
            .orderBy("query_id", "grp", "grp2")
        } finally {
          savedEnabled match {
            case Some(v) => s.conf.set(graft.plans.GraftRuntime.EnabledKey, v)
            case None => s.conf.unset(graft.plans.GraftRuntime.EnabledKey)
          }
          graft.plans.GraftRuntime.restore(savedRegistry)
        }
      },
      Some("""SELECT 'jg1_dim_attr' AS query_id, n.n_name AS grp,
  '' AS grp2, CAST(count(*) AS BIGINT) AS n
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE c.c_acctbal <= 5000.0 GROUP BY n.n_name
UNION ALL
SELECT 'jg2_fact_attr', c.c_mktsegment, '', CAST(count(*) AS BIGINT)
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE n.n_regionkey <= 2 GROUP BY c.c_mktsegment
UNION ALL
SELECT 'jg3_both_sides', CAST(n.n_regionkey AS VARCHAR),
  c.c_mktsegment, CAST(count(*) AS BIGINT)
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_regionkey, c.c_mktsegment
UNION ALL
SELECT DISTINCT 'jg4_distinct', c.c_mktsegment, '', CAST(NULL AS BIGINT)
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE n.n_regionkey >= 3
ORDER BY query_id, grp, grp2""")),
    // Derived-expression grouping through the probe grid (r17; VERDICT
    // r16 #4): `GROUP BY year(ts)` — the most common reporting shape
    // there is — previously fell through because the grid required
    // bare attributes. The analyzer extracts such groupings into a
    // `_groupingexpression` Project; the rule resolves them back and
    // maps the registered BASE domain through a whitelist of
    // domain-mappable functions (year/month over the ts→date Cast in
    // the session zone, prefix substring, integral DIV), merging
    // preimage slots — each derived group's probe is ONE In mask over
    // its preimage. e1/e2 are year/month over orders (the month grid
    // merges ~2.4k order dates into 12 groups); e3 merges nation names
    // by first letter (a real merge: UNITED K/UNITED S share 'U');
    // e4 buckets supplier keys by DIV 10; e5 pins the whitelist
    // fall-through (upper() must NOT rewrite; its scan answer still
    // hash-matches). Exact registrations → lossless, DuckDB recomputes
    // equivalent texts (`//` is DuckDB's integral division — identical
    // on the non-negative key domain).
    Entry("q_approx_groupby_expr",
      (s, d) => {
        import s.implicits._
        graft.plans.ApproxCountRule.attachIfMissing(s)
        val savedRegistry = graft.plans.GraftRuntime.snapshot()
        val savedEnabled =
          s.conf.getOption(graft.plans.GraftRuntime.EnabledKey)
        val ord = s.read.parquet(s"$d/orders.parquet")
        val sup = s.read.parquet(s"$d/supplier.parquet")
        val nat = s.read.parquet(s"$d/nation.parquet")
        val odDom = cachedColumnMeta(s"$d/orders.parquet",
          ord.select("o_orderdate"), "o_orderdate").domain.toSeq
        val osDom = cachedColumnMeta(s"$d/orders.parquet",
          ord.select("o_orderstatus"), "o_orderstatus").domain.toSeq
        val skDom = cachedColumnMeta(s"$d/supplier.parquet",
          sup.select("s_suppkey"), "s_suppkey").domain.toSeq
        val nnDom = cachedColumnMeta(s"$d/nation.parquet",
          nat.select("n_name"), "n_name").domain.toSeq
        val leO = localExact(s"$d/orders.parquet", ord, Seq("o_orderdate", "o_orderstatus"))
        val leS = localExact(s"$d/supplier.parquet", sup, Seq("s_suppkey"))
        val leN = localExact(s"$d/nation.parquet", nat, Seq("n_name"))
        graft.plans.GraftRuntime.register(
          s"$d/orders.parquet", Set("o_orderdate", "o_orderstatus"),
          preds => leO.count(preds),
          domain = name => if (name == "o_orderdate") Some(odDom)
            else if (name == "o_orderstatus") Some(osDom) else None)
        graft.plans.GraftRuntime.register(
          s"$d/supplier.parquet", Set("s_suppkey"),
          preds => leS.count(preds),
          domain = name => if (name == "s_suppkey") Some(skDom) else None)
        graft.plans.GraftRuntime.register(
          s"$d/nation.parquet", Set("n_name"),
          preds => leN.count(preds),
          domain = name => if (name == "n_name") Some(nnDom) else None)
        s.conf.set(graft.plans.GraftRuntime.EnabledKey, "true")
        try {
          ord.createOrReplaceTempView("graft_aqp_ge_orders")
          sup.createOrReplaceTempView("graft_aqp_ge_supplier")
          nat.createOrReplaceTempView("graft_aqp_ge_nation")
          val texts = Seq(
            ("e1_year", "SELECT year(o_orderdate) AS grp, " +
              "count(*) AS n FROM graft_aqp_ge_orders " +
              "GROUP BY year(o_orderdate)", true),
            ("e2_month_where", "SELECT month(o_orderdate) AS grp, " +
              "count(*) AS n FROM graft_aqp_ge_orders " +
              "WHERE o_orderstatus = 'F' " +
              "GROUP BY month(o_orderdate)", true),
            ("e3_substr", "SELECT substring(n_name, 1, 1) AS grp, " +
              "count(*) AS n FROM graft_aqp_ge_nation " +
              "GROUP BY substring(n_name, 1, 1)", true),
            ("e4_div", "SELECT s_suppkey DIV 10 AS grp, " +
              "count(*) AS n FROM graft_aqp_ge_supplier " +
              "GROUP BY s_suppkey DIV 10", true),
            ("e5_whitelist_falls_through",
              "SELECT upper(o_orderstatus) AS grp, count(*) AS n " +
                "FROM graft_aqp_ge_orders " +
                "GROUP BY upper(o_orderstatus)", false),
            // r17 second pass: date_trunc and CAST(ts AS DATE) keys
            ("e6_date_trunc_month", "SELECT date_trunc('month', " +
              "o_orderdate) AS grp, count(*) AS n " +
              "FROM graft_aqp_ge_orders " +
              "GROUP BY date_trunc('month', o_orderdate)", true),
            // (CAST(ts AS DATE) keys are spec-pinned on a small-domain
            // fixture: orders' ~2.4k distinct dates exceed the combo
            // cap by design — the cap IS the scale contract)
            ("e7_trunc_week", "SELECT date_trunc('week', " +
              "o_orderdate) AS grp, count(*) AS n " +
              "FROM graft_aqp_ge_orders WHERE o_orderstatus = 'P' " +
              "GROUP BY date_trunc('week', o_orderdate)", true),
            ("e8_trunc_hour_falls_through", "SELECT date_trunc('hour', " +
              "o_orderdate) AS grp, count(*) AS n " +
              "FROM graft_aqp_ge_orders " +
              "GROUP BY date_trunc('hour', o_orderdate)", false))
          val rows = texts.flatMap { case (qid, sql, mustRewrite) =>
            val df = s.sql(sql)
            val plan = df.queryExecution.optimizedPlan.toString
            if (mustRewrite)
              require(plan.trim.startsWith("LocalRelation"),
                s"derived-grouping rewrite did not fire on $qid; " +
                  s"plan:\n$plan")
            else
              require(!plan.trim.startsWith("LocalRelation"),
                s"$qid must fall through; plan:\n$plan")
            df.collect().map { r =>
              // timestamps format through an explicit UTC pattern (the
              // DuckDB side strftime's the identical shape — raw
              // Timestamp.toString carries a trailing ".0")
              val grp = r.get(0) match {
                case t: java.sql.Timestamp =>
                  java.time.LocalDateTime.ofInstant(t.toInstant,
                    java.time.ZoneOffset.UTC).format(java.time.format
                    .DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
                case other => other.toString
              }
              (qid, grp, r.getLong(1))
            }
          }
          rows.toDF("query_id", "grp", "n").orderBy("query_id", "grp")
        } finally {
          savedEnabled match {
            case Some(v) => s.conf.set(graft.plans.GraftRuntime.EnabledKey, v)
            case None => s.conf.unset(graft.plans.GraftRuntime.EnabledKey)
          }
          graft.plans.GraftRuntime.restore(savedRegistry)
        }
      },
      Some("""SELECT 'e1_year' AS query_id,
  CAST(year(o_orderdate) AS VARCHAR) AS grp,
  CAST(count(*) AS BIGINT) AS n
FROM orders GROUP BY year(o_orderdate)
UNION ALL
SELECT 'e2_month_where', CAST(month(o_orderdate) AS VARCHAR),
  CAST(count(*) AS BIGINT)
FROM orders WHERE o_orderstatus = 'F' GROUP BY month(o_orderdate)
UNION ALL
SELECT 'e3_substr', substring(n_name, 1, 1), CAST(count(*) AS BIGINT)
FROM nation GROUP BY substring(n_name, 1, 1)
UNION ALL
SELECT 'e4_div', CAST(s_suppkey // 10 AS VARCHAR),
  CAST(count(*) AS BIGINT)
FROM supplier GROUP BY s_suppkey // 10
UNION ALL
SELECT 'e5_whitelist_falls_through', upper(o_orderstatus),
  CAST(count(*) AS BIGINT)
FROM orders GROUP BY upper(o_orderstatus)
UNION ALL
SELECT 'e6_date_trunc_month',
  strftime(date_trunc('month', o_orderdate), '%Y-%m-%d %H:%M:%S'),
  CAST(count(*) AS BIGINT)
FROM orders GROUP BY date_trunc('month', o_orderdate)
UNION ALL
SELECT 'e7_trunc_week',
  strftime(date_trunc('week', o_orderdate), '%Y-%m-%d %H:%M:%S'),
  CAST(count(*) AS BIGINT)
FROM orders WHERE o_orderstatus = 'P'
GROUP BY date_trunc('week', o_orderdate)
UNION ALL
SELECT 'e8_trunc_hour_falls_through',
  strftime(date_trunc('hour', o_orderdate), '%Y-%m-%d %H:%M:%S'),
  CAST(count(*) AS BIGINT)
FROM orders GROUP BY date_trunc('hour', o_orderdate)
ORDER BY query_id, grp""")),
    // Guarantee-gate twin of q_approx_join_groupby (r17): the grouped
    // join factorization with a LEARNED model on the fact side — the
    // shared customer MADE composes with an exact nation registration
    // through the same per-group Σ n_C(k=v ∧ …)·n_N(k=v ∧ grp) engine.
    // Exact per-group references computed BEFORE the rewrite is
    // enabled; gate = per-group q-error ≤ 2.0 inside the oracle hash.
    // Unfiltered on purpose: region groups are ~30 customers even at
    // sf0.001, where the band is meaningful — a segment-filtered
    // grouping there is ~6 rows/group, inside a 1000-sample
    // estimator's noise floor (the FILTERED learned composition is
    // q_approx_join_count_bounds' b1).
    Entry("q_approx_join_groupby_bounds",
      (s, d) => {
        import s.implicits._
        val (model, meta) = customerModel(s, d)
        val ps = new ProgressiveSampling(model, meta, numSamples = 1000,
          shortcircuit = true)
        graft.plans.ApproxCountRule.attachIfMissing(s)
        val savedRegistry = graft.plans.GraftRuntime.snapshot()
        val savedEnabled =
          s.conf.getOption(graft.plans.GraftRuntime.EnabledKey)
        val cust = s.read.parquet(s"$d/customer.parquet")
        val nat = s.read.parquet(s"$d/nation.parquet")
        val leN = localExact(s"$d/nation.parquet", nat,
          Seq("n_nationkey", "n_regionkey"))
        val nkDom = cachedColumnMeta(s"$d/nation.parquet",
          nat.select("n_nationkey"), "n_nationkey").domain.toSeq
        val nrDom = cachedColumnMeta(s"$d/nation.parquet",
          nat.select("n_regionkey"), "n_regionkey").domain.toSeq
        cust.createOrReplaceTempView("graft_aqp_jgb_customer")
        nat.createOrReplaceTempView("graft_aqp_jgb_nation")
        val sqlTxt = "SELECT n.n_regionkey AS grp, count(*) AS n FROM " +
          "graft_aqp_jgb_customer c JOIN graft_aqp_jgb_nation n " +
          "ON c.c_nationkey = n.n_nationkey GROUP BY n.n_regionkey"
        val exact: Map[Any, Long] = s.sql(sqlTxt).collect()
          .map(r => r.get(0) -> r.getLong(1)).toMap
        graft.plans.GraftRuntime.register(
          s"$d/customer.parquet", Set("c_mktsegment", "c_nationkey"),
          ps.query,
          domain = name => if (name == "c_nationkey")
            Some(meta.column("c_nationkey").domain.toSeq) else None)
        graft.plans.GraftRuntime.register(
          s"$d/nation.parquet", Set("n_nationkey", "n_regionkey"),
          preds => leN.count(preds),
          domain = name => if (name == "n_nationkey") Some(nkDom)
            else if (name == "n_regionkey") Some(nrDom) else None)
        s.conf.set(graft.plans.GraftRuntime.EnabledKey, "true")
        try {
          val df = s.sql(sqlTxt)
          val plan = df.queryExecution.optimizedPlan.toString
          require(plan.trim.startsWith("LocalRelation"),
            s"learned grouped-join rewrite did not fire; plan:\n$plan")
          val rows = df.collect().map { r =>
            val grp = r.get(0)
            val est = math.max(r.getLong(1), 1L)
            val ex = exact.getOrElse(grp, 0L)
            val qerr =
              if (ex <= 0L) Double.MaxValue
              else math.max(est.toDouble / ex, ex.toDouble / est)
            (grp.toString, ex, qerr <= 2.0)
          }.toSeq
          // every exact group must be present (a learned zero would
          // silently drop a group — that is a failure, not a miss)
          require(rows.size == exact.size,
            s"group census mismatch: got ${rows.size}, want ${exact.size}")
          rows.toDF("grp", "exact_n", "ok").orderBy("grp")
        } finally {
          savedEnabled match {
            case Some(v) => s.conf.set(graft.plans.GraftRuntime.EnabledKey, v)
            case None => s.conf.unset(graft.plans.GraftRuntime.EnabledKey)
          }
          graft.plans.GraftRuntime.restore(savedRegistry)
        }
      },
      Some("""SELECT CAST(n.n_regionkey AS VARCHAR) AS grp,
  CAST(count(*) AS BIGINT) AS exact_n, true AS ok
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_regionkey
ORDER BY grp""")),
    // Learned twins for the join-type MATRIX (r18, VERDICT r17 #6):
    // the semi/anti factorization with the shared customer MADE on the
    // left and an exact nation registration on the right — semi =
    // Σ learned n_L(k=v) over right-matched keys, anti = learned
    // n_L(ALL) − semi. Exact references computed BEFORE the rewrite is
    // enabled; gate = q-error ≤ 2.0 inside the oracle hash (the
    // q_approx_join_groupby_bounds pattern).
    Entry("q_approx_exists_bounds",
      (s, d) => {
        import s.implicits._
        val (model, meta) = customerModel(s, d)
        val ps = new ProgressiveSampling(model, meta, numSamples = 1000,
          shortcircuit = true)
        graft.plans.ApproxCountRule.attachIfMissing(s)
        val savedRegistry = graft.plans.GraftRuntime.snapshot()
        val savedEnabled =
          s.conf.getOption(graft.plans.GraftRuntime.EnabledKey)
        val cust = s.read.parquet(s"$d/customer.parquet")
        val nat = s.read.parquet(s"$d/nation.parquet")
        val leN = localExact(s"$d/nation.parquet", nat,
          Seq("n_nationkey", "n_regionkey"))
        val nkDom = cachedColumnMeta(s"$d/nation.parquet",
          nat.select("n_nationkey"), "n_nationkey").domain.toSeq
        cust.createOrReplaceTempView("graft_aqp_xb_customer")
        nat.createOrReplaceTempView("graft_aqp_xb_nation")
        val texts = Seq(
          "xb1_exists" -> ("SELECT count(*) AS n FROM " +
            "graft_aqp_xb_customer c WHERE EXISTS (SELECT 1 FROM " +
            "graft_aqp_xb_nation n WHERE n.n_nationkey = " +
            "c.c_nationkey AND n.n_regionkey <= 2)"),
          "xb2_not_exists" -> ("SELECT count(*) AS n FROM " +
            "graft_aqp_xb_customer c WHERE NOT EXISTS (SELECT 1 FROM " +
            "graft_aqp_xb_nation n WHERE n.n_nationkey = " +
            "c.c_nationkey AND n.n_regionkey >= 3)"))
        val exact: Map[String, Long] = texts.map { case (qid, sql) =>
          qid -> s.sql(sql).collect()(0).getLong(0) }.toMap
        graft.plans.GraftRuntime.register(
          s"$d/customer.parquet", Set("c_mktsegment", "c_nationkey"),
          ps.query,
          domain = name => if (name == "c_nationkey")
            Some(meta.column("c_nationkey").domain.toSeq) else None)
        graft.plans.GraftRuntime.register(
          s"$d/nation.parquet", Set("n_nationkey", "n_regionkey"),
          preds => leN.count(preds),
          domain = name => if (name == "n_nationkey") Some(nkDom) else None)
        s.conf.set(graft.plans.GraftRuntime.EnabledKey, "true")
        try {
          val rows = texts.map { case (qid, sql) =>
            val df = s.sql(sql)
            val plan = df.queryExecution.optimizedPlan.toString
            require(plan.trim.startsWith("LocalRelation"),
              s"learned semi/anti rewrite did not fire on $qid; " +
                s"plan:\n$plan")
            val est = math.max(df.collect()(0).getLong(0), 1L)
            val ex = exact(qid)
            val qerr =
              if (ex <= 0L) Double.MaxValue
              else math.max(est.toDouble / ex, ex.toDouble / est)
            (qid, ex, qerr <= 2.0)
          }
          rows.toDF("query_id", "exact_n", "ok").orderBy("query_id")
        } finally {
          savedEnabled match {
            case Some(v) => s.conf.set(graft.plans.GraftRuntime.EnabledKey, v)
            case None => s.conf.unset(graft.plans.GraftRuntime.EnabledKey)
          }
          graft.plans.GraftRuntime.restore(savedRegistry)
        }
      },
      Some("""SELECT 'xb1_exists' AS query_id,
  CAST(count(*) AS BIGINT) AS exact_n, true AS ok
FROM customer c WHERE EXISTS (SELECT 1 FROM nation n
  WHERE n.n_nationkey = c.c_nationkey AND n.n_regionkey <= 2)
UNION ALL
SELECT 'xb2_not_exists', CAST(count(*) AS BIGINT), true
FROM customer c WHERE NOT EXISTS (SELECT 1 FROM nation n
  WHERE n.n_nationkey = c.c_nationkey AND n.n_regionkey >= 3)
ORDER BY query_id""")),
    // Learned OUTER-count twin (r18, VERDICT r17 #6): LEFT and FULL
    // outer counts with the learned customer side — inner term from
    // learned per-key counts, unmatched-left from the model's
    // normalization minus the matched sum. Same band discipline.
    Entry("q_approx_outer_bounds",
      (s, d) => {
        import s.implicits._
        val (model, meta) = customerModel(s, d)
        val ps = new ProgressiveSampling(model, meta, numSamples = 1000,
          shortcircuit = true)
        graft.plans.ApproxCountRule.attachIfMissing(s)
        val savedRegistry = graft.plans.GraftRuntime.snapshot()
        val savedEnabled =
          s.conf.getOption(graft.plans.GraftRuntime.EnabledKey)
        val cust = s.read.parquet(s"$d/customer.parquet")
        val nat = s.read.parquet(s"$d/nation.parquet")
        val leN = localExact(s"$d/nation.parquet", nat,
          Seq("n_nationkey", "n_regionkey"))
        val nkDom = cachedColumnMeta(s"$d/nation.parquet",
          nat.select("n_nationkey"), "n_nationkey").domain.toSeq
        cust.createOrReplaceTempView("graft_aqp_ob_customer")
        nat.createOrReplaceTempView("graft_aqp_ob_nation")
        val texts = Seq(
          "ob1_left" -> ("SELECT count(*) AS n FROM " +
            "graft_aqp_ob_customer c LEFT JOIN " +
            "(SELECT * FROM graft_aqp_ob_nation " +
            "WHERE n_regionkey <= 1) n " +
            "ON c.c_nationkey = n.n_nationkey"),
          "ob2_full" -> ("SELECT count(*) AS n FROM " +
            "graft_aqp_ob_customer c FULL JOIN " +
            "(SELECT * FROM graft_aqp_ob_nation " +
            "WHERE n_regionkey >= 2) n " +
            "ON c.c_nationkey = n.n_nationkey"))
        val exact: Map[String, Long] = texts.map { case (qid, sql) =>
          qid -> s.sql(sql).collect()(0).getLong(0) }.toMap
        graft.plans.GraftRuntime.register(
          s"$d/customer.parquet", Set("c_mktsegment", "c_nationkey"),
          ps.query,
          domain = name => if (name == "c_nationkey")
            Some(meta.column("c_nationkey").domain.toSeq) else None)
        graft.plans.GraftRuntime.register(
          s"$d/nation.parquet", Set("n_nationkey", "n_regionkey"),
          preds => leN.count(preds),
          domain = name => if (name == "n_nationkey") Some(nkDom) else None)
        s.conf.set(graft.plans.GraftRuntime.EnabledKey, "true")
        try {
          val rows = texts.map { case (qid, sql) =>
            val df = s.sql(sql)
            val plan = df.queryExecution.optimizedPlan.toString
            require(plan.trim.startsWith("LocalRelation"),
              s"learned outer rewrite did not fire on $qid; " +
                s"plan:\n$plan")
            val est = math.max(df.collect()(0).getLong(0), 1L)
            val ex = exact(qid)
            val qerr =
              if (ex <= 0L) Double.MaxValue
              else math.max(est.toDouble / ex, ex.toDouble / est)
            (qid, ex, qerr <= 2.0)
          }
          rows.toDF("query_id", "exact_n", "ok").orderBy("query_id")
        } finally {
          savedEnabled match {
            case Some(v) => s.conf.set(graft.plans.GraftRuntime.EnabledKey, v)
            case None => s.conf.unset(graft.plans.GraftRuntime.EnabledKey)
          }
          graft.plans.GraftRuntime.restore(savedRegistry)
        }
      },
      Some("""SELECT 'ob1_left' AS query_id,
  CAST(count(*) AS BIGINT) AS exact_n, true AS ok
FROM customer c LEFT JOIN
  (SELECT * FROM nation WHERE n_regionkey <= 1) n
  ON c.c_nationkey = n.n_nationkey
UNION ALL
SELECT 'ob2_full', CAST(count(*) AS BIGINT), true
FROM customer c FULL JOIN
  (SELECT * FROM nation WHERE n_regionkey >= 2) n
  ON c.c_nationkey = n.n_nationkey
ORDER BY query_id""")),
    // Learned UNION ALL twin (r19, VERDICT r18 #6): counts over a
    // UNION ALL whose branches carry the LEARNED customer estimator —
    // each branch's pushed WHERE estimated by the model, the union
    // answering as the sum of per-branch learned estimates
    // (the union source), with the exact count inside the oracle hash
    // and a q-error ≤ 2 band — the q_approx_exists_bounds discipline.
    // The grouped leg sums the per-group learned rows back to a total
    // (per-group bands would gate model variance, not the rewrite).
    Entry("q_approx_union_bounds",
      (s, d) => {
        import s.implicits._
        val (model, meta) = customerModel(s, d)
        val ps = new ProgressiveSampling(model, meta, numSamples = 1000,
          shortcircuit = true)
        graft.plans.ApproxCountRule.attachIfMissing(s)
        val savedRegistry = graft.plans.GraftRuntime.snapshot()
        val savedEnabled =
          s.conf.getOption(graft.plans.GraftRuntime.EnabledKey)
        val cust = s.read.parquet(s"$d/customer.parquet")
        cust.createOrReplaceTempView("graft_aqp_ub_customer")
        val union = "SELECT * FROM graft_aqp_ub_customer " +
          "WHERE c_mktsegment = 'BUILDING' UNION ALL " +
          "SELECT * FROM graft_aqp_ub_customer WHERE c_nationkey <= 10"
        val texts = Seq(
          "ub1_count" -> s"SELECT count(*) AS n FROM ($union)",
          "ub2_count_col" ->
            s"SELECT count(c_nationkey) AS n FROM ($union)")
        val gSql = s"SELECT c_nationkey, count(*) AS n FROM ($union) " +
          "GROUP BY c_nationkey"
        val exact: Map[String, Long] = (texts.map { case (qid, sql) =>
          qid -> s.sql(sql).collect()(0).getLong(0) } :+
          ("ub3_grouped_total" ->
            s.sql(gSql).collect().map(_.getLong(1)).sum)).toMap
        graft.plans.GraftRuntime.register(
          s"$d/customer.parquet", Set("c_mktsegment", "c_nationkey"),
          ps.query,
          domain = name => if (name == "c_nationkey")
            Some(meta.column("c_nationkey").domain.toSeq) else None)
        s.conf.set(graft.plans.GraftRuntime.EnabledKey, "true")
        try {
          val singles = texts.map { case (qid, sql) =>
            val df = s.sql(sql)
            val plan = df.queryExecution.optimizedPlan.toString
            require(plan.trim.startsWith("LocalRelation"),
              s"learned union rewrite did not fire on $qid; " +
                s"plan:\n$plan")
            (qid, df.collect()(0).getLong(0))
          }
          val gDf = s.sql(gSql)
          require(gDf.queryExecution.optimizedPlan.toString.trim
            .startsWith("LocalRelation"),
            "learned grouped union rewrite did not fire")
          val rows = (singles :+
            ("ub3_grouped_total",
              gDf.collect().map(_.getLong(1)).sum)).map {
            case (qid, est0) =>
              val est = math.max(est0, 1L)
              val ex = exact(qid)
              val qerr =
                if (ex <= 0L) Double.MaxValue
                else math.max(est.toDouble / ex, ex.toDouble / est)
              (qid, ex, qerr <= 2.0)
          }
          rows.toDF("query_id", "exact_n", "ok").orderBy("query_id")
        } finally {
          savedEnabled match {
            case Some(v) => s.conf.set(graft.plans.GraftRuntime.EnabledKey, v)
            case None => s.conf.unset(graft.plans.GraftRuntime.EnabledKey)
          }
          graft.plans.GraftRuntime.restore(savedRegistry)
        }
      },
      Some("""WITH u AS (SELECT * FROM customer
  WHERE c_mktsegment = 'BUILDING'
  UNION ALL SELECT * FROM customer WHERE c_nationkey <= 10)
SELECT * FROM (
  SELECT 'ub1_count' AS query_id, CAST(count(*) AS BIGINT) AS exact_n,
    true AS ok FROM u
  UNION ALL
  SELECT 'ub2_count_col', CAST(count(c_nationkey) AS BIGINT), true
  FROM u
  UNION ALL
  SELECT 'ub3_grouped_total', CAST(count(*) AS BIGINT), true FROM u)
ORDER BY query_id""")),
    // Derived grouping keys over JOINS (r18, VERDICT r17 #2): `SELECT
    // year(f.dt), count(*) FROM fact JOIN dim … GROUP BY 1` — the
    // canonical date-dimension report. The groupKeyOf whitelist
    // (year/month/substring, via the analyzer's _groupingexpression
    // Project) composes with the join factorization: each derived
    // group's probe is the In mask over its preimage in the OWNING
    // leaf's domain. Mixed derived+attribute grids, value aggregates,
    // count(DISTINCT), and side predicates all ride. Exact
    // registrations → lossless; scan-free plans require()d; DuckDB
    // runs the identical texts over the identical derivation.
    Entry("q_approx_join_groupby_expr",
      (s, d) => {
        import s.implicits._
        graft.plans.ApproxCountRule.attachIfMissing(s)
        val savedRegistry = graft.plans.GraftRuntime.snapshot()
        val savedEnabled =
          s.conf.getOption(graft.plans.GraftRuntime.EnabledKey)
        val base = "/tmp/graft_jge/" + d.replaceAll("[^A-Za-z0-9]", "_") +
          "_" + ProcessHandle.current().pid()
        deriveOnce(base) {
          val evBase = Tables.read(s, d, "events")
            .filter(pmod(col("event_id"), lit(97)) === 0)
          evBase.select(
              date_add(to_date(lit("2023-12-01")),
                pmod(col("event_id"), lit(300)).cast("int")).as("dt"),
              pmod(col("event_id"), lit(5)).as("k1"),
              when(pmod(col("event_id"), lit(13)) === 0,
                lit(null).cast("double"))
                .otherwise(pmod(col("event_id"), lit(7)).cast("double"))
                .as("w"))
            .write.mode("overwrite").parquet(s"$base/l.parquet")
          evBase.select(
              pmod(col("event_id") + 1, lit(5)).as("k1"),
              pmod(col("event_id"), lit(4)).as("a"),
              col("event_type").as("s"))
            .write.mode("overwrite").parquet(s"$base/r.parquet")
        }
        val dl = s.read.parquet(s"$base/l.parquet")
        val dr = s.read.parquet(s"$base/r.parquet")
        val leL = localExact(s"$base/l.parquet", dl, Seq("dt", "k1", "w"))
        val leR = localExact(s"$base/r.parquet", dr, Seq("k1", "a", "s"))
        val lDoms = Seq("dt", "k1", "w").map(c => c -> leL.domainOf(c)).toMap
        val rDoms = Seq("k1", "a", "s").map(c => c -> leR.domainOf(c)).toMap
        graft.plans.GraftRuntime.register(s"$base/l.parquet",
          Set("dt", "k1", "w"), preds => leL.count(preds),
          domain = name => lDoms.get(name))
        graft.plans.GraftRuntime.register(s"$base/r.parquet",
          Set("k1", "a", "s"), preds => leR.count(preds),
          domain = name => rDoms.get(name))
        s.conf.set(graft.plans.GraftRuntime.EnabledKey, "true")
        try {
          dl.createOrReplaceTempView("graft_aqp_jge_l")
          dr.createOrReplaceTempView("graft_aqp_jge_r")
          val join = "graft_aqp_jge_l l JOIN graft_aqp_jge_r r " +
            "ON l.k1 = r.k1"
          // (qid, sql, #keys, metric names)
          val texts = Seq(
            ("ge1_year", "SELECT year(l.dt) AS y, count(*) AS n " +
              s"FROM $join GROUP BY year(l.dt)", 1, Seq("n")),
            ("ge2_month_sum", "SELECT month(l.dt) AS m, " +
              "count(*) AS n, sum(l.w) AS sw " +
              s"FROM $join WHERE r.a >= 1 GROUP BY month(l.dt)",
              1, Seq("n", "sw")),
            ("ge3_year_attr", "SELECT year(l.dt) AS y, r.a, " +
              s"count(*) AS n FROM $join GROUP BY year(l.dt), r.a",
              2, Seq("n")),
            ("ge4_substr_distinct", "SELECT substring(r.s, 1, 2) AS p, " +
              "count(DISTINCT l.w) AS dw " +
              s"FROM $join GROUP BY substring(r.s, 1, 2)",
              1, Seq("dw")))
          val rows = texts.flatMap { case (qid, sql, nKeys, metrics) =>
            val df = s.sql(sql)
            val plan = df.queryExecution.optimizedPlan.toString
            require(plan.trim.startsWith("LocalRelation"),
              s"derived-key grouped join did not rewrite on $qid; " +
                s"plan:\n$plan")
            df.collect().flatMap { r =>
              val grp = (0 until nKeys).map { k =>
                if (r.isNullAt(k)) "<NULL>" else r.get(k).toString
              }.mkString("|")
              metrics.zipWithIndex.map { case (m, j) =>
                val idx = nKeys + j
                val x: Option[Double] =
                  if (r.isNullAt(idx)) None
                  else r.get(idx) match {
                    case l: java.lang.Long => Some(l.toDouble)
                    case dd: java.lang.Double => Some(dd)
                  }
                (qid, grp, m, x)
              }
            }
          }
          rows.toDF("query_id", "grp", "metric", "x")
            .orderBy("query_id", "grp", "metric")
        } finally {
          savedEnabled match {
            case Some(v) => s.conf.set(graft.plans.GraftRuntime.EnabledKey, v)
            case None => s.conf.unset(graft.plans.GraftRuntime.EnabledKey)
          }
          graft.plans.GraftRuntime.restore(savedRegistry)
        }
      },
      Some("""WITH basee AS (SELECT * FROM events WHERE event_id % 97 = 0),
l AS (SELECT DATE '2023-12-01' + CAST(event_id % 300 AS INTEGER) AS dt,
             event_id % 5 AS k1,
             CASE WHEN event_id % 13 = 0 THEN NULL
                  ELSE CAST(event_id % 7 AS DOUBLE) END AS w
      FROM basee),
r AS (SELECT (event_id + 1) % 5 AS k1, event_id % 4 AS a,
             event_type AS s FROM basee)
SELECT * FROM (
  SELECT 'ge1_year' AS query_id, CAST(year(dt) AS VARCHAR) AS grp,
    'n' AS metric, CAST(count(*) AS DOUBLE) AS x
  FROM l JOIN r ON l.k1 = r.k1 GROUP BY year(dt)
  UNION ALL
  SELECT 'ge2_month_sum', CAST(month(dt) AS VARCHAR), 'n',
    CAST(count(*) AS DOUBLE)
  FROM l JOIN r ON l.k1 = r.k1 WHERE r.a >= 1 GROUP BY month(dt)
  UNION ALL
  SELECT 'ge2_month_sum', CAST(month(dt) AS VARCHAR), 'sw',
    CAST(sum(w) AS DOUBLE)
  FROM l JOIN r ON l.k1 = r.k1 WHERE r.a >= 1 GROUP BY month(dt)
  UNION ALL
  SELECT 'ge3_year_attr',
    concat(CAST(year(dt) AS VARCHAR), '|', CAST(a AS VARCHAR)), 'n',
    CAST(count(*) AS DOUBLE)
  FROM l JOIN r ON l.k1 = r.k1 GROUP BY year(dt), a
  UNION ALL
  SELECT 'ge4_substr_distinct', substring(s, 1, 2), 'dw',
    CAST(count(DISTINCT w) AS DOUBLE)
  FROM l JOIN r ON l.k1 = r.k1 GROUP BY substring(s, 1, 2))
ORDER BY query_id, grp, metric""")),
    // HAVING through the probe grid (r16 session 4): zero new rule
    // code — the analyzer plans HAVING as a Filter over the Aggregate
    // (plus a Project when the HAVING references aggregates not in the
    // SELECT list), so once the Aggregate rewrites to the probe-grid
    // LocalRelation the HAVING is a driver-side filter over
    // |combos| rows. h1 pins the count-in-select shape (the threshold
    // demonstrably bites at sf0.001); h2 pins aggregates that appear
    // ONLY in the HAVING clause (min + count as hidden aggregate
    // expressions). Both require() the scan-free plan; DuckDB runs the
    // identical texts. (Contrast: the ESTIMATOR-side SQL seam rejects
    // HAVING by name — SqlFront maps SQL to a predicate vocabulary
    // that has no aggregates; the optimizer path is where grouped
    // queries belong.)
    Entry("q_approx_having",
      (s, d) => {
        import s.implicits._
        graft.plans.ApproxCountRule.attachIfMissing(s)
        val savedRegistry = graft.plans.GraftRuntime.snapshot()
        val savedEnabled =
          s.conf.getOption(graft.plans.GraftRuntime.EnabledKey)
        val liDf = s.read.parquet(s"$d/lineitem.parquet")
        val domains: Map[String, Seq[Any]] = Seq("l_returnflag",
          "l_linestatus", "l_quantity").map(c => c ->
          cachedColumnMeta(s"$d/lineitem.parquet", liDf.select(c), c).domain.toSeq).toMap
        val le = localExact(s"$d/lineitem.parquet", liDf, modelCols)
        graft.plans.GraftRuntime.register(
          s"$d/lineitem.parquet", modelCols.toSet,
          preds => le.count(preds),
          domain = name => domains.get(name))
        s.conf.set(graft.plans.GraftRuntime.EnabledKey, "true")
        try {
          liDf.createOrReplaceTempView("graft_aqp_hav_lineitem")
          val texts = Seq(
            "h1_count_in_select" -> ("SELECT l_returnflag AS grp, " +
              "count(*) AS n FROM graft_aqp_hav_lineitem " +
              "WHERE l_quantity <= 2.0 GROUP BY l_returnflag " +
              "HAVING count(*) > 80"),
            "h2_having_only_aggs" -> ("SELECT l_linestatus AS grp " +
              "FROM graft_aqp_hav_lineitem GROUP BY l_linestatus " +
              "HAVING min(l_quantity) <= 1.0 AND count(*) > 5"))
          val rows = texts.flatMap { case (qid, sql) =>
            val df = s.sql(sql)
            val plan = df.queryExecution.optimizedPlan.toString
            require(!plan.contains("Aggregate") &&
              !plan.contains("parquet") &&
              plan.contains("LocalRelation"),
              s"HAVING rewrite did not fire on $qid; plan:\n$plan")
            df.collect().map { r =>
              val n = if (qid.startsWith("h2")) None else Some(r.getLong(1))
              (qid, r.getString(0), n)
            }
          }
          rows.toDF("query_id", "grp", "n").orderBy("query_id", "grp")
        } finally {
          savedEnabled match {
            case Some(v) => s.conf.set(graft.plans.GraftRuntime.EnabledKey, v)
            case None => s.conf.unset(graft.plans.GraftRuntime.EnabledKey)
          }
          graft.plans.GraftRuntime.restore(savedRegistry)
        }
      },
      Some("""SELECT 'h1_count_in_select' AS query_id,
  l_returnflag AS grp, CAST(count(*) AS BIGINT) AS n
FROM lineitem WHERE l_quantity <= 2.0 GROUP BY 2
HAVING count(*) > 80
UNION ALL
SELECT 'h2_having_only_aggs', l_linestatus, CAST(NULL AS BIGINT)
FROM lineitem GROUP BY 2
HAVING min(l_quantity) <= 1.0 AND count(*) > 5
ORDER BY query_id, grp""")),
    // Seeded grouped-aggregate workload through the probe grid (r16
    // session 4) — the q_sql_front_workload discipline applied to the
    // GRID rewrite: 30 seed-derived queries drawing group keys (g1
    // nullable string / g2 long / both), 1-2 aggregate cells from the
    // full vocabulary (count(*) / count / count DISTINCT / sum / avg /
    // min / max / sum DISTINCT, each with a 25% FILTER clause), and
    // 0-2 WHERE conjuncts from the extended mask vocabulary (<=, >=,
    // IN, !=, NOT IN, IS [NOT] NULL). EVERY query must rewrite
    // scan-free (require()d per query), and DuckDB executes the
    // IDENTICAL texts — exact registration makes the whole corpus
    // lossless, so one hash gate covers every key/cell/filter/where
    // interaction the hand-written entries cannot enumerate.
    Entry("q_approx_grid_workload",
      (s, d) => {
        import s.implicits._
        graft.plans.ApproxCountRule.attachIfMissing(s)
        val savedRegistry = graft.plans.GraftRuntime.snapshot()
        val savedEnabled =
          s.conf.getOption(graft.plans.GraftRuntime.EnabledKey)
        // derivation + driver-side counter cached per sfDir (r17,
        // VERDICT r16 #7): the gate's honest cost is the 30 Catalyst
        // optimizations + capped probes; rebuilding the identical
        // derived parquet and LocalExact every bench repeat was ~3/4
        // of the entry's time. Semantics unchanged — the cached value
        // is a pure function of the sfDir.
        val (dir, ev, doms, le) = gridWorkloadData(s, d)
        graft.plans.GraftRuntime.register(dir,
          Set("g1", "g2", "w", "v"),
          preds => le.count(preds),
          domain = name => doms.get(name))
        s.conf.set(graft.plans.GraftRuntime.EnabledKey, "true")
        try {
          ev.createOrReplaceTempView("graft_aqp_grid_events")
          val rows = gridWorkload.flatMap { q =>
            val df = s.sql(
              q.inner.replace("GRID_TBL", "graft_aqp_grid_events"))
            val plan = df.queryExecution.optimizedPlan.toString
            require(plan.trim.startsWith("LocalRelation"),
              s"grid workload ${q.qid} did not rewrite; " +
                s"query: ${q.inner}\nplan:\n$plan")
            df.collect().flatMap { r =>
              val grp = q.keys.indices.map { k =>
                if (r.isNullAt(k)) "<NULL>"
                else r.get(k) match {
                  case str: String => str
                  case l: java.lang.Long => l.toString
                }
              }.mkString("|")
              q.metrics.zipWithIndex.map { case (m, j) =>
                val idx = q.keys.size + j
                val x: Option[Double] =
                  if (r.isNullAt(idx)) None
                  else r.get(idx) match {
                    case l: java.lang.Long => Some(l.toDouble)
                    case dd: java.lang.Double => Some(dd)
                  }
                (q.qid, grp, m, x)
              }
            }
          }
          rows.toDF("query_id", "grp", "metric", "x")
            .orderBy("query_id", "grp", "metric")
        } finally {
          savedEnabled match {
            case Some(v) => s.conf.set(graft.plans.GraftRuntime.EnabledKey, v)
            case None => s.conf.unset(graft.plans.GraftRuntime.EnabledKey)
          }
          graft.plans.GraftRuntime.restore(savedRegistry)
        }
      },
      Some(gridWorkloadOracleSql)),
    // Seeded JOIN-MATRIX workload through the rewrite family (r18,
    // VERDICT r17 #1 — the single highest-leverage ask): 30
    // seed-derived queries fuzzing ACROSS the r17/r18 join surface —
    // inner chains and stars, composite keys, EXISTS / NOT EXISTS /
    // IN / NOT IN, LEFT/RIGHT/FULL outer joins, attribute AND derived
    // (year/month) groupings, the full value-aggregate vocabulary,
    // cross-column OR and prefix-LIKE side predicates. EVERY query
    // must rewrite scan-free (require()d per query) and DuckDB
    // executes the IDENTICAL texts over the identical derivation —
    // exact registrations make the whole corpus lossless, so one hash
    // gate regression-arms every shape interaction the hand-written
    // entries cannot enumerate (the q_approx_grid_workload move,
    // applied to joins).
    Entry("q_approx_join_workload",
      (s, d) => {
        import s.implicits._
        graft.plans.ApproxCountRule.attachIfMissing(s)
        val savedRegistry = graft.plans.GraftRuntime.snapshot()
        val savedEnabled =
          s.conf.getOption(graft.plans.GraftRuntime.EnabledKey)
        val (dir, dfs, doms, les) = joinWorkloadData(s, d)
        Seq(
          "f" -> Set("k1", "k2", "g", "w", "dt"),
          "d1" -> Set("k1", "k2", "a", "s"),
          "d2" -> Set("k2", "b"),
          "d3" -> Set("m1", "c")).foreach { case (t, cols) =>
          graft.plans.GraftRuntime.register(
            s"$dir/$t.parquet", cols,
            preds => les(t).count(preds), domain = name => doms.get((t, name)))
        }
        s.conf.set(graft.plans.GraftRuntime.EnabledKey, "true")
        try {
          dfs("f").createOrReplaceTempView("graft_aqp_jw_f")
          dfs("d1").createOrReplaceTempView("graft_aqp_jw_d1")
          dfs("d2").createOrReplaceTempView("graft_aqp_jw_d2")
          dfs("d3").createOrReplaceTempView("graft_aqp_jw_d3")
          val rows = joinWorkload.flatMap { q =>
            val sql = q.inner
              .replace("F_TBL", "graft_aqp_jw_f")
              .replace("D1_TBL", "graft_aqp_jw_d1")
              .replace("D2_TBL", "graft_aqp_jw_d2")
              .replace("D3_TBL", "graft_aqp_jw_d3")
            val df = s.sql(sql)
            val plan = df.queryExecution.optimizedPlan.toString
            require(plan.trim.startsWith("LocalRelation"),
              s"join workload ${q.qid} did not rewrite; " +
                s"query: ${q.inner}\nplan:\n$plan")
            df.collect().flatMap { r =>
              val grp = (0 until q.nKeys).map { k =>
                if (r.isNullAt(k)) "<NULL>" else r.get(k).toString
              }.mkString("|")
              q.metrics.zipWithIndex.map { case (m, j) =>
                val idx = q.nKeys + j
                val x: Option[Double] =
                  if (r.isNullAt(idx)) None
                  else r.get(idx) match {
                    case l: java.lang.Long => Some(l.toDouble)
                    case dd: java.lang.Double => Some(dd)
                  }
                (q.qid, grp, m, x)
              }
            }
          }
          rows.toDF("query_id", "grp", "metric", "x")
            .orderBy("query_id", "grp", "metric")
        } finally {
          savedEnabled match {
            case Some(v) => s.conf.set(graft.plans.GraftRuntime.EnabledKey, v)
            case None => s.conf.unset(graft.plans.GraftRuntime.EnabledKey)
          }
          graft.plans.GraftRuntime.restore(savedRegistry)
        }
      },
      Some(joinWorkloadOracleSql)),
    Entry("q_heuristic_card",
      (s, d) => Exact.heuristic(li(s, d), W1),
      Some(Exact.heuristicSql("lineitem", W1))),
    Entry("q_sample_card",
      (s, d) => Exact.systematicSampling(li(s, d),
        col("l_orderkey") * 7 + col("l_linenumber"), 97, W1),
      Some(Exact.systematicSamplingSql("lineitem",
        "l_orderkey * 7 + l_linenumber", 97, W1))),
    Entry("q_region_size",
      (s, d) => Exact.queryRegionSize(li(s, d), W1),
      Some(Exact.queryRegionSizeSql("lineitem", W1))),
    Entry("q_const",
      (s, d) => Exact.const(li(s, d), 42L),
      Some("SELECT CAST(42 AS BIGINT) AS est_card")),
    // Seeded uniform Bernoulli sampling (the reference's Sampling
    // proper); Spark's sample RNG is engine-specific -> rows-only.
    Entry("q_uniform_sample_card",
      (s, d) => Exact.uniformSampling(li(s, d), 0.01, 1234L, W1),
      None),
    // Engine-portable seeded-Bernoulli twin of the entry above: sample
    // membership = md5(row key + seed), not an RNG stream — the
    // coordination-free way to sample at 100 TB (any worker, any
    // engine, any partition layout recomputes the same sample), and it
    // puts the whole sampling ESTIMATE under the hash-equality gate
    // (the RNG-stream variant stays rows-only: Spark's sample() stream
    // is engine-specific). ~10% sample via bucket < 100 of 1000.
    // Row key as a string concat, NOT orderkey*1e6+linenumber: the key
    // only feeds md5, and the arithmetic form overflows Long once
    // derived-dir key shifts push orderkeys past ~9e12 (ANSI mode
    // fails the whole entry — caught by the 30× audit).
    Entry("q_uniform_sample_md5",
      (s, d) => Exact.hashSampling(li(s, d),
        concat_ws("_", col("l_orderkey"), col("l_linenumber")),
        100, 1234L, W1),
      Some(Exact.hashSamplingSql("lineitem",
        "CAST(l_orderkey AS VARCHAR) || '_' || CAST(l_linenumber AS VARCHAR)",
        100, 1234L, W1))),
    // Guarantee-gate twin of q_uniform_sample_card (the q_sketch_bounds
    // precedent): the RNG-stream estimate itself stays rows-only, but
    // its STATISTICAL CONTRACT — |est − exact| within 6σ of the
    // Bernoulli-sampling error (σ ≈ √(exact·(1−f)/f)), plus a small
    // absolute slack for the ceil and the ns-denominator variance — is
    // deterministic for the fixed seed and hash-checked against the
    // DuckDB-exact count. This is the number that says a 1% sample is
    // trustworthy before anyone scales it to 100 TB.
    Entry("q_uniform_sample_bounds",
      (s, d) => {
        import s.implicits._
        val df = li(s, d)
        val f = 0.01
        val exact = df.filter(Pred.conj(W1)).count()
        val est = Exact.uniformSampling(df, f, 1234L, W1).head().getLong(0)
        val slack = 6.0 * math.sqrt(exact.toDouble * (1 - f) / f) + 50
        Seq(("uniform_f001_w1", exact, math.abs(est - exact) <= slack))
          .toDF("metric", "exact_ref", "ok")
      },
      Some("SELECT 'uniform_f001_w1' AS metric, " +
        "count(*) AS exact_ref, true AS ok FROM lineitem " +
        s"WHERE ${Pred.whereSql(W1)}"))
  )

  val dictionaryEntries: Seq[Entry] = Seq(
    // Per-column DistributionSize incl. the null slot (common.py:52-57).
    Entry("q_domain_sizes",
      (s, d) => {
        val cols = dictCols.map { c =>
          (countDistinct(col(c)) +
            max(when(col(c).isNull, 1L).otherwise(0L))).as(s"ds_$c")
        }
        li(s, d).agg(cols.head, cols.tail: _*)
      },
      Some {
        val cols = dictCols.map { c =>
          s"count(DISTINCT $c) + max(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS ds_$c"
        }.mkString(", ")
        s"SELECT $cols FROM lineitem"
      }),
    // The sorted dictionary of one column with its bin ids
    // (common.py:67-85): null-first sort order == dense_rank - 1.
    Entry("q_vocab_quantity",
      (s, d) => {
        val df = li(s, d)
        val meta = Dictionary.columnMeta(df, "l_quantity")
        Dictionary.vocabDf(s, meta).orderBy("value")
      },
      Some("SELECT l_quantity AS value, CAST(dense_rank() OVER " +
        "(ORDER BY l_quantity ASC NULLS FIRST) - 1 AS INTEGER) AS bin " +
        "FROM (SELECT DISTINCT l_quantity FROM lineitem) ORDER BY value")),
    // Bulk discretize (common.py:273-312) via broadcast vocab joins.
    // Bins are computed over the FULL table; the correctness artifact is
    // bounded to a deterministic 1/997 key slice so the verification path
    // never materializes + globally sorts the whole fact table at scale.
    Entry("q_discretize",
      (s, d) => {
        val df = li(s, d)
        val metas = Seq("l_returnflag", "l_linestatus", "l_quantity")
          .map(Dictionary.columnMeta(df, _))
        Dictionary.discretize(df, metas)
          .filter(pmod(col("l_orderkey"), lit(997)) === 0)
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_returnflag_bin"), col("l_linestatus_bin"),
            col("l_quantity_bin"))
          .orderBy("l_orderkey", "l_linenumber")
      },
      Some("SELECT * FROM (SELECT l_orderkey, l_linenumber, " +
        "CAST(dense_rank() OVER (ORDER BY l_returnflag ASC NULLS FIRST) - 1 AS INTEGER) AS l_returnflag_bin, " +
        "CAST(dense_rank() OVER (ORDER BY l_linestatus ASC NULLS FIRST) - 1 AS INTEGER) AS l_linestatus_bin, " +
        "CAST(dense_rank() OVER (ORDER BY l_quantity ASC NULLS FIRST) - 1 AS INTEGER) AS l_quantity_bin " +
        "FROM lineitem) WHERE l_orderkey % 997 = 0 " +
        "ORDER BY l_orderkey, l_linenumber"))
  )

  val aggEntries: Seq[Entry] = Seq(
    // Shuffle-aggregation workhorse (TPC-H Q1 shape), hash-safe aggregates
    // only: counts, sums of integral doubles, min/max.
    Entry("q1_agg",
      (s, d) => li(s, d)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("cnt"),
          sum(col("l_quantity")).as("sum_qty"),
          countDistinct(col("l_orderkey")).as("n_orders"),
          min(col("l_extendedprice")).as("min_price"),
          max(col("l_extendedprice")).as("max_price"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some("SELECT l_returnflag, l_linestatus, count(*) AS cnt, " +
        "sum(l_quantity) AS sum_qty, " +
        "count(DISTINCT l_orderkey) AS n_orders, " +
        "min(l_extendedprice) AS min_price, " +
        "max(l_extendedprice) AS max_price FROM lineitem " +
        "GROUP BY l_returnflag, l_linestatus " +
        "ORDER BY l_returnflag, l_linestatus")),
    // Entropy ingredients: histogram of full-width group sizes
    // (train_model.py:340-343 uses groupby(all cols).size()).
    Entry("q_group_size_hist",
      (s, d) => li(s, d)
        .groupBy(dictCols.map(col): _*)
        .agg(count(lit(1)).as("group_size"))
        .groupBy(col("group_size"))
        .agg(count(lit(1)).as("n_groups"))
        .orderBy("group_size"),
      Some("SELECT group_size, count(*) AS n_groups FROM (" +
        s"SELECT count(*) AS group_size FROM lineitem GROUP BY " +
        dictCols.mkString(", ") +
        ") GROUP BY group_size ORDER BY group_size")),
    // Exact discrete quantiles (SURVEY §2.7) via an identical
    // rank-window formulation on both engines: value at 0-based index
    // floor(p*(n-1)) of the sorted column — percentile_disc semantics,
    // integer indexing, no interpolation arithmetic to diverge on.
    Entry("q_quantiles",
      (s, d) => {
        li(s, d).createOrReplaceTempView("lineitem")
        s.sql(Queries.quantilesSql)
      },
      Some(quantilesSql)),
    // The sketch path beside the exact path: percentile_approx (GK
    // summaries, relativeError = 1/1000) is THE 100 TB quantile
    // operator — one pass, mergeable per-partition sketches, no value
    // shuffle — and this entry makes its guarantee CHECKABLE: for each
    // p it computes the true ranks bracketing the sketch's answer
    // (rank_lt, rank_le against the distinct-value cumulative
    // histogram) and gates floor((p−ε)N) ≤ rank ≤ ceil((p+ε)N) as an
    // EXACT INTEGER comparison — rank·1000 vs N·(1000p ± 1), with
    // 1000p an integer for the chosen probs, so no float crosses the
    // gate. The artifact is (p, exact value, N, gate): the sketch's
    // value itself never crosses engines (it is Spark-internal), but
    // its bound does, which is the property a pipeline relies on. The
    // cumulative window runs over DISTINCT values (the q_quantiles
    // caveat, fine for banded columns; the sketch needs no such
    // window — that asymmetry is the point).
    Entry("q_approx_quantiles",
      (s, d) => {
        val probs = Seq(0.25, 0.5, 0.75, 0.95)
        val pks = Seq(250, 500, 750, 950)
        val acc = 1000
        val lid = li(s, d).select(col("l_quantity").as("v"))
        val f = lid.groupBy("v").agg(count(lit(1)).as("c"))
        val cum = f.withColumn("cum", sum(col("c")).over(Window.orderBy("v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val tot = lid.agg(count(lit(1)).as("n"))
        val ap = lid
          .agg(percentile_approx(col("v"),
            array(probs.map(lit(_)): _*), lit(acc)).as("aps"))
          .select(posexplode(col("aps")).as(Seq("i", "a")))
          .withColumn("pk",
            element_at(array(pks.map(lit(_)): _*), col("i") + 1))
        def rank(cmp: (org.apache.spark.sql.Column,
            org.apache.spark.sql.Column) => org.apache.spark.sql.Column,
            name: String) =
          ap.crossJoin(broadcast(tot))
            .join(cum, cmp(cum("v"), col("a")), "left")
            .groupBy("i", "pk", "n")
            .agg(coalesce(max(col("cum")), lit(0L)).as(name))
        val rLt = rank(_ < _, "rank_lt")
        val rLe = rank(_ <= _, "rank_le").select(col("i").as("i2"),
          col("rank_le"))
        val probsDf = probs.zip(pks).map { case (p, k) =>
          s"SELECT CAST($p AS DOUBLE) AS p, $k AS pk2"
        }.mkString(" UNION ALL ")
        val exact = s.sql(probsDf).crossJoin(broadcast(tot))
          .join(cum,
            cum("cum") >= floor(col("p") * (col("n") - 1)).cast("long") + 1)
          .groupBy("p", "pk2").agg(min(col("v")).as("exact_value"))
        rLt.join(rLe, col("i") === col("i2"))
          .join(exact, col("pk") === col("pk2"))
          .select(col("p"), col("exact_value"), col("n"),
            (col("rank_lt") * acc <= col("n") * (col("pk") + 1) &&
              col("rank_le") * acc >= col("n") * (col("pk") - 1))
              .as("within_bound"))
          .orderBy("p")
      },
      Some("""WITH f AS (
  SELECT l_quantity AS v, count(*) AS c FROM lineitem GROUP BY 1),
cum AS (
  SELECT v, sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum
  FROM f),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM f),
probs(p) AS (VALUES (0.25), (0.5), (0.75), (0.95))
SELECT CAST(p AS DOUBLE) AS p,
  (SELECT min(v) FROM cum, tot
   WHERE cum >= CAST(floor(CAST(p AS DOUBLE) * (n - 1)) AS BIGINT) + 1)
    AS exact_value,
  (SELECT n FROM tot) AS n, TRUE AS within_bound
FROM probs ORDER BY p""")),
    // PER-GROUP approx-quantile gate — the partitioned twin of
    // q_approx_quantiles and the shape production actually runs:
    // percentile_approx's GK summaries are built per group map-side
    // and MERGED in the aggregate (the mergeability that makes sketch
    // quantiles a one-shuffle operator at any group count), and each
    // group's sketch answer is bracketed by that group's exact ranks
    // with the same all-integer ±ε gate. Windows run over per-group
    // DISTINCT values (banded column — the q_quantiles discipline).
    Entry("q_group_approx_quantiles",
      (s, d) => {
        val probs = Seq(0.5, 0.9)
        val pks = Seq(500, 900)
        val acc = 1000
        val lid = li(s, d).select(col("l_returnflag").as("g"),
          col("l_quantity").as("v"))
        val f = lid.groupBy("g", "v").agg(count(lit(1)).as("c"))
        val cum = f.withColumn("cum",
          sum(col("c")).over(Window.partitionBy("g").orderBy("v")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val tot = lid.groupBy("g").agg(count(lit(1)).as("n"))
        val ap = lid.groupBy("g")
          .agg(percentile_approx(col("v"),
            array(probs.map(lit(_)): _*), lit(acc)).as("aps"))
          .select(col("g"), posexplode(col("aps")).as(Seq("i", "a")))
          .withColumn("pk",
            element_at(array(pks.map(lit(_)): _*), col("i") + 1))
        def rank(cmp: (org.apache.spark.sql.Column,
            org.apache.spark.sql.Column) => org.apache.spark.sql.Column,
            name: String) =
          ap.join(broadcast(tot), "g")
            .join(cum.select(col("g").as("cg"), col("v"), col("cum")),
              col("g") === col("cg") && cmp(col("v"), col("a")), "left")
            .groupBy("g", "i", "pk", "n")
            .agg(coalesce(max(col("cum")), lit(0L)).as(name))
        val rLt = rank(_ < _, "rank_lt")
        val rLe = rank(_ <= _, "rank_le")
          .select(col("g").as("g2"), col("i").as("i2"), col("rank_le"))
        // Exact per-group percentile_disc value at integer threshold
        // rank (pk·(n−1)) div 1000 + 1 — integer arithmetic end to end.
        val probsDf = lid.sparkSession.range(0, 2)
          .select(element_at(array(pks.map(lit(_)): _*),
            col("id").cast("int") + 1).as("pk3"))
        val exact = cum.join(broadcast(tot), "g").crossJoin(broadcast(probsDf))
          .filter(col("cum") >= expr("(pk3 * (n - 1)) div 1000") + 1)
          .groupBy(col("g").as("ge"), col("pk3"))
          .agg(min(col("v")).as("exact_value"))
        rLt.join(rLe, col("g") === col("g2") && col("i") === col("i2"))
          .join(exact, col("g") === col("ge") && col("pk") === col("pk3"))
          .select(col("g"), (col("pk").cast("double") / 1000).as("p"),
            col("exact_value"), col("n"),
            (col("rank_lt") * acc <= col("n") * (col("pk") + 1) &&
              col("rank_le") * acc >= col("n") * (col("pk") - 1))
              .as("within_bound"))
          .orderBy("g", "p")
      },
      Some("""WITH probs(pk) AS (VALUES (500), (900)),
f AS (SELECT l_returnflag AS g, l_quantity AS v, count(*) AS c
  FROM lineitem GROUP BY 1, 2),
cum AS (
  SELECT g, v, CAST(sum(c) OVER (PARTITION BY g ORDER BY v
    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
  FROM f),
tot AS (SELECT g, CAST(sum(c) AS BIGINT) AS n FROM f GROUP BY g),
exact AS (
  SELECT cum.g, probs.pk, min(v) AS exact_value
  FROM cum JOIN tot ON cum.g = tot.g CROSS JOIN probs
  WHERE cum >= (pk * (n - 1)) // 1000 + 1
  GROUP BY cum.g, probs.pk)
SELECT exact.g, CAST(pk AS DOUBLE) / 1000 AS p, exact_value, n,
  TRUE AS within_bound
FROM exact JOIN tot ON exact.g = tot.g ORDER BY exact.g, p""")),
    // One-pass dataset profile (rows/nulls/distincts/min-max per
    // column): the ingest-time quality report. One Expand-fused shuffle
    // for all exact distincts; numeric min/max as DOUBLE so no
    // engine-specific string formatting enters the hash.
    Entry("q_profile",
      (s, d) => graft.ops.Profile.profile(li(s, d),
        Seq("l_orderkey", "l_quantity", "l_discount",
          "l_returnflag", "l_linestatus", "l_shipdate")),
      Some(graft.ops.Profile.profileSql("lineitem",
        Seq("l_orderkey" -> true, "l_quantity" -> true,
          "l_discount" -> true, "l_returnflag" -> false,
          "l_linestatus" -> false, "l_shipdate" -> false)))),
    // Write path through the custom DataSource V2 sink: the committed
    // row count comes from the driver-side aggregation of the task
    // writers' commit messages (the two-phase protocol), checked
    // against DuckDB's count over the same table — the SINK is in the
    // oracle gate, not just spec-covered. (The checksum is JVM-hash
    // specific, so only the count is surfaced.)
    Entry("q_audit_write",
      (s, d) => {
        val id = s"gate-${d.hashCode}"
        graft.sources.AuditSink.clear(id)
        docs(s, d).select(col("doc_id"), col("lang"), col("source"))
          .write.format("graft-audit").option("id", id)
          .mode("append").save()
        val (n, _) = graft.sources.AuditSink.result(id).get
        import s.implicits._
        Seq(n).toDF("n_rows")
      },
      Some("SELECT count(*) AS n_rows FROM documents")),
    // Pipeline observability for FREE: `observe()` attaches aggregate
    // metrics to the SAME execution as the main job (here the corpus
    // write) — no second scan, no extra job; at 100 TB a data-quality
    // gate (row counts, null/lang ratios, size extrema) rides along on
    // the ingest pass instead of re-reading the corpus. The Observation
    // API blocks until the action completes and hands back the exact
    // metric row, which the oracle recomputes declaratively — the
    // check is that piggybacked metrics equal a dedicated pass's.
    Entry("q_observe_metrics",
      (s, d) => {
        val obs = new org.apache.spark.sql.Observation("ingest_quality")
        docs(s, d).observe(obs,
          count(lit(1)).as("n_rows"),
          count_if(col("lang") === "en").as("n_en"),
          sum(col("n_chars")).cast("long").as("total_chars"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
          .write.format("noop").mode("overwrite").save()
        val m = obs.get
        import s.implicits._
        Seq((m("n_rows").asInstanceOf[Long], m("n_en").asInstanceOf[Long],
          m("total_chars").asInstanceOf[Long],
          m("min_chars").asInstanceOf[Long],
          m("max_chars").asInstanceOf[Long]))
          .toDF("n_rows", "n_en", "total_chars", "min_chars", "max_chars")
      },
      Some("SELECT count(*) AS n_rows, " +
        "count(*) FILTER (WHERE lang = 'en') AS n_en, " +
        "CAST(sum(n_chars) AS BIGINT) AS total_chars, " +
        "min(n_chars) AS min_chars, max(n_chars) AS max_chars " +
        "FROM documents")),
    // Custom DataSource V2 read (`graft-synth`): deterministic
    // synthetic corpus metadata generated in parallel InputPartitions
    // with column pruning pushed into the reader. The generator step is
    // portable integer arithmetic, so the DuckDB generate_series twin
    // reproduces every field and the whole connector is hash-checked.
    Entry("q_synth_source",
      (s, d) => s.read.format("graft-synth")
        .option("rows", 100000).option("partitions", 8).load()
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens").cast("long")).as("total_tokens"),
          countDistinct(col("source")).as("n_sources"))
        .orderBy("lang"),
      Some("SELECT lang, count(*) AS n_docs, " +
        "CAST(sum(n_tokens) AS BIGINT) AS total_tokens, " +
        "count(DISTINCT source) AS n_sources FROM (" +
        graft.sources.SynthSource.synthSql(100000) +
        ") GROUP BY lang ORDER BY lang")),
    // TOP-N pushdown INTO the DSv2 source (the last pushdown leg:
    // columns, filters, aggregates are gated above): ORDER BY doc_id
    // LIMIT k over the ascending-id generator is answered by a
    // truncated single-partition range — COMPLETE pushdown, so the
    // optimized plan must contain NEITHER a Sort NOR a Limit
    // (hard-asserted here, the agg-pushdown convention; a silent
    // fallback would still be row-correct but plan-wrong). The 100 TB
    // analog: ORDER BY key LIMIT k over a key-sorted layout reads one
    // file tail instead of sorting the table.
    Entry("q_topn_pushdown",
      (s, d) => {
        val df = s.read.format("graft-synth")
          .option("rows", 100000).option("partitions", 8).load()
          .filter(col("doc_id") >= 90000L)
          .select(col("doc_id"), col("lang"), col("n_tokens"))
          .orderBy(col("doc_id"))
          .limit(7)
        val opt = df.queryExecution.optimizedPlan
        val leftovers = opt.collect {
          case _: org.apache.spark.sql.catalyst.plans.logical.Sort => "Sort"
          case _: org.apache.spark.sql.catalyst.plans.logical
              .LocalLimit => "LocalLimit"
          case _: org.apache.spark.sql.catalyst.plans.logical
              .GlobalLimit => "GlobalLimit"
        }
        require(leftovers.isEmpty, "q_topn_pushdown: top-n did not reach " +
          s"the source — plan still contains ${leftovers.mkString(",")}")
        df
      },
      Some("SELECT doc_id, lang, n_tokens FROM (" +
        graft.sources.SynthSource.synthSql(100000) +
        ") WHERE doc_id >= 90000 ORDER BY doc_id LIMIT 7")),
    // Aggregate pushdown INTO the DSv2 source: count/min/max over a
    // doc_id range are closed-form for a generative source (count =
    // hi−lo, min = lo, max = hi−1), so the pushed scan emits ONE
    // precomputed row and zero generator work runs — the 100 TB analog
    // of answering aggregates from catalog stats / parquet footers /
    // Iceberg manifests instead of data. The entry HARD-FAILS unless
    // the optimized plan's scan is the closed-form one-row scan, so
    // the oracle gate checks both the plan shape and (via DuckDB's
    // actually-generated twin) that the closed form tells the truth.
    Entry("q_synth_agg_pushdown",
      (s, d) => {
        val df = s.read.format("graft-synth")
          .option("rows", 100000).option("partitions", 8).load()
          .filter(col("doc_id") >= 25000L && col("doc_id") < 75000L)
          .agg(count(lit(1)).as("n_docs"),
            min(col("doc_id")).as("first_id"),
            max(col("doc_id")).as("last_id"))
        val pushed = df.queryExecution.optimizedPlan.collect {
          case r: org.apache.spark.sql.execution.datasources.v2
              .DataSourceV2ScanRelation => r.scan
        }.exists(_.isInstanceOf[graft.sources.SynthAggScan])
        require(pushed, "q_synth_agg_pushdown: aggregate pushdown did " +
          "not reach the source (expected SynthAggScan)")
        df
      },
      Some("SELECT count(*) AS n_docs, min(doc_id) AS first_id, " +
        "max(doc_id) AS last_id FROM (" +
        graft.sources.SynthSource.synthSql(100000) +
        ") WHERE doc_id >= 25000 AND doc_id < 75000")),
    // Runtime (join-key) filtering into the DSv2 source — dynamic
    // pruning for a NON-partitioned scan: the selective dim side
    // (documents matching a predicate no optimizer can transfer
    // statically) is evaluated first, its observed doc_ids arrive at
    // the scan as an IN predicate, and input partitions are planned
    // over exact id runs — ~2 rows generated instead of 1,000,000.
    // Hard-fails unless the DynamicPruningSubquery was planted; the
    // oracle joins DuckDB's fully-generated twin against the same dim,
    // checking runtime pruning changes work done, never answers.
    Entry("q_runtime_filter_join",
      (s, d) => {
        val fact = s.read.format("graft-synth")
          .option("rows", 1000000).option("partitions", 8).load()
        val dim = docs(s, d)
          .filter(col("lang") === "en" &&
            pmod(length(col("text")), lit(101)) === 0)
          .select(col("doc_id").as("dim_id"))
        val joined = fact.join(dim, col("doc_id") === col("dim_id"))
          .select(col("doc_id"), col("lang"), col("source"),
            col("n_tokens"))
          .orderBy("doc_id")
        val planted = joined.queryExecution.optimizedPlan.exists(
          _.expressions.exists(_.exists {
            case _: org.apache.spark.sql.catalyst.expressions
                .DynamicPruningSubquery => true
            case _ => false
          }))
        require(planted, "q_runtime_filter_join: no runtime filter " +
          "planted on the DSv2 scan")
        joined
      },
      Some("SELECT s.doc_id, s.lang, s.source, s.n_tokens FROM (" +
        graft.sources.SynthSource.synthSql(1000000) + ") s JOIN " +
        "(SELECT doc_id FROM documents WHERE lang = 'en' " +
        "AND length(text) % 101 = 0) d ON s.doc_id = d.doc_id " +
        "ORDER BY s.doc_id")),
    // Storage-partitioned execution (SPARK-37375): the source reports
    // KeyGroupedPartitioning(lang) with per-partition keys, so the
    // lang aggregation runs with ZERO shuffles — the layout IS the
    // exchange, the contract Iceberg/Delta bucket layouts use at
    // 100 TB to skip the exchange in every query after ingest. The
    // entry executes the aggregation and HARD-FAILS if any
    // ShuffleExchange appears in the executed plan; the oracle
    // recomputes the same rollup over DuckDB's generated twin.
    Entry("q_spj_agg",
      (s, d) => {
        s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
        val agg = s.read.format("graft-synth")
          .option("rows", 200000).option("partitionBy", "lang").load()
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens").cast("long")).as("total_tokens"))
        agg.collect() // finalize the (possibly adaptive) plan
        val helper = new org.apache.spark.sql.execution.adaptive
          .AdaptiveSparkPlanHelper {}
        val shuffles = helper.collect(agg.queryExecution.executedPlan) {
          case e: org.apache.spark.sql.execution.exchange
              .ShuffleExchangeExec => e
        }
        require(shuffles.isEmpty, "q_spj_agg: key-grouped aggregation " +
          s"planned ${shuffles.length} shuffle(s)")
        agg.orderBy("lang")
      },
      Some("SELECT lang, count(*) AS n_docs, " +
        "CAST(sum(n_tokens) AS BIGINT) AS total_tokens FROM (" +
        graft.sources.SynthSource.synthSql(200000) +
        ") GROUP BY lang ORDER BY lang")),
    // Per-group exact quantiles: the same rank-walk over the
    // distinct-value histogram as q_quantiles, partitioned by group —
    // the windows and joins all move |group|·|domain| rows, never the
    // table. Verbatim-identical SQL on both engines.
    Entry("q_group_quantiles",
      (s, d) => {
        li(s, d).createOrReplaceTempView("lineitem")
        s.sql(Queries.groupQuantilesSql)
      },
      Some(groupQuantilesSql)),
    // Multi-level aggregation (ROLLUP) with grouping() markers —
    // subtotal + grand-total rows in one pass (Spark plans it as a
    // single Expand + hash aggregate, still one shuffle). Identical SQL
    // on both engines; explicit NULLS FIRST because the engines'
    // default null sort order differs.
    Entry("q_rollup_agg",
      (s, d) => {
        li(s, d).createOrReplaceTempView("lineitem")
        s.sql(Queries.rollupSql)
      },
      Some(rollupSql)),
    // The ranking-window suite in one entry: rank / dense_rank / ntile
    // / percent_rank / cume_dist / lag / lead over one (partition,
    // order) spec — identical SQL on both engines (the rollup/cube
    // precedent). percent_rank and cume_dist are divisions of exact
    // ints (bit-exact); ranks CAST to BIGINT because Spark returns INT
    // where DuckDB returns BIGINT. One exchange + one sort; every
    // function shares the single window.
    Entry("q_window_suite",
      (s, d) => {
        Tables.read(s, d, "orders").createOrReplaceTempView("orders")
        s.sql(windowSuiteSql)
      },
      Some(windowSuiteSql)),
    // Set operations (INTERSECT / EXCEPT): repeat-buyer and churn
    // cohorts between two order-years, reduced to counts. Spark plans
    // both as hash aggregates + a single shuffle per branch.
    Entry("q_set_ops",
      (s, d) => {
        Tables.read(s, d, "orders").createOrReplaceTempView("orders")
        s.sql(setOpsSql)
      },
      Some(setOpsSql)),
    // MERGE/upsert (SCD Type 1): an update batch wins per key, base
    // rows without an update survive — updates ∪ (base ANTI JOIN
    // updates). One shuffle on the key (or a broadcast when the batch
    // is small — the planner's call); this is the storage-merge shape
    // every warehouse MERGE INTO lowers to. The update batch is
    // derived deterministically from the base so both engines build
    // the same one.
    Entry("q_merge_upsert",
      (s, d) => {
        val base = Tables.read(s, d, "customer")
          .select(col("c_custkey").as("k"), col("c_mktsegment").as("seg"))
        val upd = Tables.read(s, d, "customer")
          .filter(pmod(col("c_custkey"), lit(11)) === 0)
          // Negated keys can never collide with real (positive) base
          // keys at ANY scale factor — a fixed offset would.
          .select((-col("c_custkey")).as("k"), lit("NEW").as("seg"))
          .unionAll(Tables.read(s, d, "customer")
            .filter(pmod(col("c_custkey"), lit(7)) === 0)
            .select(col("c_custkey").as("k"), lit("UPDATED").as("seg")))
        upd.unionAll(base.join(upd.select("k"), Seq("k"), "left_anti"))
          .groupBy("seg")
          // abs before the modular checksum: NEW keys are negated, and
          // Spark pmod / DuckDB % disagree on negative dividends. A raw
          // sum(k) overflows Long at derived 100x key strides.
          .agg(count(lit(1)).as("n"),
            sum(pmod(abs(col("k")), lit(1000003L))).as("key_sum"))
          .orderBy("seg")
      },
      Some("""WITH upd AS (
  SELECT -c_custkey AS k, 'NEW' AS seg FROM customer
  WHERE c_custkey % 11 = 0
  UNION ALL
  SELECT c_custkey, 'UPDATED' FROM customer WHERE c_custkey % 7 = 0
), merged AS (
  SELECT k, seg FROM upd
  UNION ALL
  SELECT c_custkey, c_mktsegment FROM customer
  WHERE c_custkey NOT IN (SELECT k FROM upd)
)
SELECT seg, CAST(count(*) AS BIGINT) AS n,
  CAST(sum(abs(k) % 1000003) AS BIGINT) AS key_sum
FROM merged GROUP BY seg ORDER BY seg""")),
    // Ranked top-k per group. The Spark side is the two-phase operator
    // (per-input-partition bounded heaps, then a rank window over the
    // k·partitions-bounded pruned set) because the group key has 3
    // values — a plain PARTITION BY window would sort 3 data-sized
    // partitions. The oracle is the declarative row_number twin.
    Entry("q_topk_per_group",
      (s, d) => graft.ops.Relational.topKPerGroup(li(s, d),
        "l_returnflag", "l_quantity",
        Seq("l_orderkey", "l_linenumber"), k = 3)
        .select(col("l_returnflag"), col("l_orderkey"),
          col("l_linenumber"), col("l_quantity")),
      Some(topkPerGroupSql)),
    // Full CUBE over two dimensions (all 2² grouping sets in one Expand
    // + hash aggregate — one shuffle, like ROLLUP but with the
    // column-marginal rows too). DataFrame-API side (.cube + grouping())
    // against a verbatim GROUP BY CUBE oracle.
    Entry("q_cube_agg",
      (s, d) => li(s, d)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("l_quantity")).as("sum_qty"),
          grouping(col("l_returnflag")).cast("int").as("g_rf"),
          grouping(col("l_linestatus")).cast("int").as("g_ls"))
        .orderBy(col("g_rf"), col("g_ls"),
          col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first),
      Some("SELECT l_returnflag, l_linestatus, count(*) AS cnt, " +
        "sum(l_quantity) AS sum_qty, " +
        "CAST(grouping(l_returnflag) AS INTEGER) AS g_rf, " +
        "CAST(grouping(l_linestatus) AS INTEGER) AS g_ls " +
        "FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus) " +
        "ORDER BY g_rf, g_ls, l_returnflag NULLS FIRST, " +
        "l_linestatus NULLS FIRST")),
    // Wide-to-long pivot with explicit value list (required at scale:
    // without it Spark runs a distinct-values job first AND the output
    // schema becomes data-dependent). Plans as one hash aggregate with
    // conditional sums — the same CASE-sum shape as the portable oracle.
    Entry("q_pivot",
      (s, d) => li(s, d)
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(sum(col("l_quantity")))
        .orderBy("l_returnflag"),
      Some("SELECT l_returnflag, " +
        "sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END) AS \"F\", " +
        "sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END) AS \"O\" " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag")),
    // UNPIVOT (melt) — the wide→long reshape inverse of q_pivot,
    // through Spark's native Dataset.unpivot (plans as one Expand,
    // map-side: rows fan out 3x with no shuffle beyond the input
    // aggregate). All measures pre-cast to BIGINT so the value column
    // has one type on both engines; oracle is the dialect-free
    // UNION ALL expansion.
    Entry("q_unpivot",
      (s, d) => {
        val wide = li(s, d)
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n_items"),
            sum(col("l_quantity").cast("long")).as("sum_qty"),
            countDistinct(col("l_orderkey")).as("n_orders"))
        wide.unpivot(Array(col("l_returnflag")),
            Array(col("n_items"), col("sum_qty"), col("n_orders")),
            "metric", "value")
          .orderBy("l_returnflag", "metric")
      },
      Some("""WITH wide AS (
  SELECT l_returnflag, count(*) AS n_items,
    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
    count(DISTINCT l_orderkey) AS n_orders
  FROM lineitem GROUP BY 1)
SELECT l_returnflag, metric, value FROM (
  SELECT l_returnflag, 'n_items' AS metric, n_items AS value FROM wide
  UNION ALL
  SELECT l_returnflag, 'sum_qty', sum_qty FROM wide
  UNION ALL
  SELECT l_returnflag, 'n_orders', n_orders FROM wide)
ORDER BY l_returnflag, metric""")),
    // Arbitrary GROUPING SETS — the marginals-only set list
    // ((l_returnflag), (l_linestatus)), which neither ROLLUP nor CUBE
    // expresses. Plans as one Expand + hash aggregate (one shuffle for
    // both marginals); identical SQL on both engines.
    Entry("q_grouping_sets",
      (s, d) => {
        li(s, d).createOrReplaceTempView("lineitem")
        s.sql(groupingSetsSql)
      },
      Some(groupingSetsSql)),
    // Window-function suite (lag/lead/row_number/running sum) over a
    // deterministic customer slice. The running sum is over exact
    // integer cents (round(price·100) is integral) so accumulation
    // order — sequential in Spark, segment-tree in DuckDB — cannot
    // change the value; the timestamp only orders (never surfaces), with
    // the order key as tiebreak.
    Entry("q_window_funcs",
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        Tables.read(s, d, "orders")
          .filter(pmod(col("o_custkey"), lit(199)) === 0)
          .select(col("o_custkey"), col("o_orderkey"),
            row_number().over(w).cast("long").as("rn"),
            lag(col("o_orderkey"), 1).over(w).as("prev_order"),
            lead(col("o_orderkey"), 1).over(w).as("next_order"),
            sum(round(col("o_totalprice") * 100).cast("long"))
              .over(w.rowsBetween(Window.unboundedPreceding,
                Window.currentRow))
              .as("run_spend_cents"))
          .orderBy("o_custkey", "rn")
      },
      Some("""SELECT o_custkey, o_orderkey,
  CAST(row_number() OVER w AS BIGINT) AS rn,
  lag(o_orderkey, 1) OVER w AS prev_order,
  lead(o_orderkey, 1) OVER w AS next_order,
  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER
    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
    AS run_spend_cents
FROM orders WHERE o_custkey % 199 = 0
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
ORDER BY o_custkey, rn""")),
    // Existence joins: LEFT SEMI (customers with ≥1 order) and LEFT
    // ANTI (without) — each shuffles only the join keys and never
    // duplicates the left side the way an inner-join + distinct would.
    Entry("q_semi_anti_join",
      (s, d) => {
        val cust = Tables.read(s, d, "customer")
        val ord = Tables.read(s, d, "orders").select(col("o_custkey"))
        val semi = cust.join(ord, cust("c_custkey") === ord("o_custkey"),
            "left_semi")
          .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_active"))
        val anti = cust.join(ord, cust("c_custkey") === ord("o_custkey"),
            "left_anti")
          .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_inactive"))
        semi.join(anti, Seq("c_nationkey"), "full_outer")
          .na.fill(0L, Seq("n_active", "n_inactive"))
          .orderBy("c_nationkey")
      },
      Some("""WITH actives AS (
  SELECT c_nationkey, count(*) AS n_active FROM customer
  WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
  GROUP BY 1
), inactives AS (
  SELECT c_nationkey, count(*) AS n_inactive FROM customer
  WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
  GROUP BY 1
)
SELECT c_nationkey, coalesce(n_active, 0) AS n_active,
       coalesce(n_inactive, 0) AS n_inactive
FROM actives FULL JOIN inactives USING (c_nationkey)
ORDER BY c_nationkey""")),
    // Event range join (right events in [leftTs − 1h, leftTs) per key):
    // the Spark side is the BUCKETED equi-join rewrite — the naive
    // range-predicate join has no equi-key and degenerates to a per-key
    // cartesian; the oracle is that naive declarative form, which is
    // exactly the semantics-preservation claim under check.
    Entry("q_range_join",
      (s, d) => graft.ops.Relational.rangeJoinBucketed(
        Tables.read(s, d, "events"), "user_id", "ts",
        leftType = "purchase", rightType = "click",
        typeCol = "event_type", idCol = "event_id", windowSec = 3600L),
      Some(graft.ops.Relational.rangeJoinBucketedSql("events", "user_id",
        "ts", "purchase", "click", "event_type", "event_id", 3600L))),
    // Set operators over yearly active-customer sets: INTERSECT
    // (retained 1995→1996) and EXCEPT (churned). Both plan as
    // existence joins over distinct keys — the shuffle carries only
    // o_custkey and neither side can duplicate rows.
    Entry("q_intersect_except",
      (s, d) => {
        val ord = Tables.read(s, d, "orders")
        def custsIn(y: Int) = ord
          .filter(year(col("o_orderdate")) === y)
          .select(col("o_custkey")).distinct()
        val retained = custsIn(1995).intersect(custsIn(1996))
          .agg(count(lit(1)).as("n_cust"))
          .withColumn("set_op", lit("intersect_95_96"))
        val churned = custsIn(1995).except(custsIn(1996))
          .agg(count(lit(1)).as("n_cust"))
          .withColumn("set_op", lit("except_95_not_96"))
        retained.unionByName(churned)
          .select(col("set_op"), col("n_cust"))
          .orderBy("set_op")
      },
      Some("""SELECT 'intersect_95_96' AS set_op, count(*) AS n_cust FROM (
  SELECT o_custkey FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) = 1995
  INTERSECT
  SELECT o_custkey FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) = 1996)
UNION ALL
SELECT 'except_95_not_96' AS set_op, count(*) AS n_cust FROM (
  SELECT o_custkey FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) = 1995
  EXCEPT
  SELECT o_custkey FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) = 1996)
ORDER BY set_op""")),
    // Three-stage event funnel (view → first click after the first
    // view → first purchase after that click) — the product-analytics
    // staple. Each stage's min-timestamp is conditioned on the PREVIOUS
    // stage's, which one-pass groupBy aggregation cannot express; the
    // three conditional-min windows share one exchange on user_id (same
    // partitioning, no extra shuffle), and the per-user collapse plus
    // the single-row rollup move only user-count rows.
    Entry("q_event_funnel",
      (s, d) => graft.ops.Relational.funnel(Tables.read(s, d, "events"),
        "user_id", "ts", "event_type", Seq("view", "click", "purchase")),
      Some(funnelSql)),
    // STREAMING debounce as catalog-grade evidence (round-6 ask #7):
    // the events table replayed through a real file-source micro-batch
    // stream (watermark + flatMapGroupsWithState + checkpoint +
    // foreachBatch→parquet), final table hash-checked against a
    // recursive-CTE oracle implementing the same LAST-KEPT semantics
    // (throttle debounce: keep iff > gap after the last KEPT event —
    // sequential per group, hence recursion bounded by the max group
    // size, ~30 events; distinct from q_debounce's lag-based quiet-
    // period variant). µs-precise on both sides.
    Entry("q_debounce_stream",
      (s, d) => graft.streaming.Replay.debounceReplay(s, d)
        .groupBy(col("event_type"))
        // modular checksum: raw sum(event_id) overflows Long at
        // derived 100x key strides (see asofStrategyAgg note)
        .agg(count(lit(1)).as("n_kept"),
          sum(pmod(col("event_id"), lit(1000003L))).as("id_sum"))
        .orderBy("event_type"),
      Some("""WITH RECURSIVE ev AS (
  SELECT user_id, event_type, ts, event_id,
    row_number() OVER (PARTITION BY user_id, event_type
      ORDER BY ts, event_id) AS rn
  FROM events
), keep AS (
  SELECT user_id, event_type, rn, ts AS kept_ts, TRUE AS is_kept, event_id
  FROM ev WHERE rn = 1
  UNION ALL
  SELECT e.user_id, e.event_type, e.rn,
    CASE WHEN e.ts > k.kept_ts + INTERVAL 60 SECOND
         THEN e.ts ELSE k.kept_ts END,
    e.ts > k.kept_ts + INTERVAL 60 SECOND,
    e.event_id
  FROM keep k JOIN ev e ON e.user_id = k.user_id
    AND e.event_type = k.event_type AND e.rn = k.rn + 1
)
SELECT event_type, count(*) AS n_kept,
  CAST(sum(event_id % 1000003) AS BIGINT) AS id_sum
FROM keep WHERE is_kept GROUP BY event_type ORDER BY event_type""")),
    // STREAMING exact dedup, same harness: dropDuplicates over the
    // (user_id, event_type) key through the file-source replay — the
    // streaming twin of the corpus keep-first dedup. Append mode makes
    // the materialized table the emitted key set, so one row per key
    // iff the dedup state store neither lost nor re-emitted a key
    // across micro-batches and checkpoints; the oracle is the batch
    // SELECT DISTINCT over the same input.
    Entry("q_dedup_stream",
      (s, d) => graft.streaming.Replay.dedupReplay(s, d),
      Some("SELECT DISTINCT user_id, event_type FROM events " +
        "ORDER BY user_id, event_type")),
    // STREAMING near-dup: an online MinHash/LSH banded index in
    // flatMapGroupsWithState — docs arrive in id-ordered segments,
    // band keys are computed map-side, and a candidate pair is emitted
    // the moment a doc lands in a non-empty bucket. First-K-by-id
    // bucket cap makes the streamed pair set EQUAL to the rank-capped
    // batch formulation, so the full state machinery sits inside the
    // hash gate (oracle = DuckDB over the same md5 signatures).
    Entry("q_neardup_stream",
      (s, d) => graft.streaming.Replay.neardupReplay(s, d),
      Some(graft.streaming.DocStream.neardupStreamSql(
        "documents", "doc_id", "text"))),
    // STREAMING gap-episode detection via transformWithState (Spark
    // 4's arbitrary-state API: typed ValueState handles on RocksDB +
    // first-class event-time timers), same replay harness. An event
    // starts an episode iff it arrives > 120 s after the previous
    // event of its (user, type) key; the eviction timer drops key
    // state once the watermark passes the gap edge — provably lossless
    // (see EpisodeProcessor), so bounded state is INSIDE the hash
    // gate: the oracle is the plain batch lag() comparison over the
    // same input.
    Entry("q_episode_stream",
      (s, d) => graft.streaming.Replay.episodeReplay(s, d)
        .groupBy(col("eventType").as("event_type"))
        // modular checksum: raw sum(event_id) overflows Long at
        // derived 100x key strides (see asofStrategyAgg note)
        .agg(count(lit(1)).as("n_episodes"),
          sum(pmod(col("eventId"), lit(1000003L))).cast("long").as("id_sum"))
        .orderBy("event_type"),
      Some("""SELECT event_type, count(*) AS n_episodes,
  CAST(sum(event_id % 1000003) AS BIGINT) AS id_sum
FROM (SELECT event_type, event_id, ts,
        lag(ts) OVER (PARTITION BY user_id, event_type
          ORDER BY ts, event_id) AS prev
      FROM events)
WHERE prev IS NULL OR ts > prev + INTERVAL 120 SECOND
GROUP BY event_type ORDER BY event_type""")),
    // STREAMING windowed aggregation, same harness: watermarked 1-hour
    // tumbling counts in APPEND mode — the materialized table holds
    // exactly the windows the final watermark (max event time − 2 h
    // delay) closed, so the state-store EVICTION boundary itself is
    // under the hash gate: the oracle computes the same counts over
    // the whole table and applies the same cutoff.
    Entry("q_events_hourly_stream",
      (s, d) => graft.streaming.Replay.hourlyReplay(s, d),
      Some("""WITH m AS (SELECT max(ts) AS mx FROM events)
SELECT date_trunc('hour', ts) AS hour, event_type,
  count(*) AS cnt
FROM events, m
GROUP BY 1, 2, m.mx
HAVING date_trunc('hour', min(ts)) + INTERVAL 1 HOUR <= mx - INTERVAL 2 HOUR
ORDER BY hour, event_type""")),
    // LATE-DATA drop semantics under the gate (15th replay): the same
    // hourly aggregation replayed OUT OF ORDER (round-robin slices by
    // event_id), so the watermark jumps near max−delay after the first
    // batches and later batches carry genuinely late rows. The
    // empirically-pinned Spark mechanics (checkpoint offsets + slice-
    // cumulative count forensics at sf0.01): the late filter for batch
    // c uses the LAGGED watermark W(c−1) = max event time over batches
    // 0..c−2 − delay (a batch's wm is fixed when it is planned, from
    // the previous batch's recorded stats), while EVICTION at batch
    // c's end uses W(c) — so a row survives iff its hour-window end >
    // W(c−1), and the final table holds the survivors of windows the
    // final watermark closed. The oracle replays exactly that lagged
    // progression from the deterministic slice rule (batch =
    // event_id mod 6) — the drop set itself is hash-gated, not just
    // the happy path.
    Entry("q_late_data_stream",
      (s, d) => graft.streaming.Replay.lateDataReplay(s, d),
      Some("""WITH e AS (
  SELECT ts, event_type, CAST(event_id % 6 AS INT) AS b FROM events),
bm AS (SELECT b, max(ts) AS bmax FROM e GROUP BY b),
wm AS (
  SELECT b, max(bmax) OVER (ORDER BY b
    ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)
    - INTERVAL 2 HOUR AS wmb
  FROM bm),
kept AS (
  SELECT e.ts, e.event_type FROM e JOIN wm ON e.b = wm.b
  WHERE wm.wmb IS NULL
    OR date_trunc('hour', e.ts) + INTERVAL 1 HOUR > wm.wmb),
fin AS (SELECT max(ts) - INTERVAL 2 HOUR AS fwm FROM events)
SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS cnt
FROM kept, fin
GROUP BY 1, 2, fin.fwm
HAVING date_trunc('hour', min(ts)) + INTERVAL 1 HOUR <= fwm
ORDER BY hour, event_type""")),
    // STREAM-STATIC ANTI join decontamination: streamed docs pass iff
    // their md5 is absent from the static benchmark fingerprint set
    // (broadcast). Oracle = the batch NOT IN over the same slice.
    Entry("q_decontam_stream",
      (s, d) => graft.streaming.Replay.decontamReplay(s, d),
      Some("SELECT doc_id FROM documents WHERE md5(text) NOT IN " +
        "(SELECT md5(text) FROM documents WHERE doc_id % 101 = 0) " +
        "ORDER BY doc_id")),
    // STREAM-STREAM interval join (click→purchase attribution), same
    // harness: both sides branch from one replayed stream; watermark
    // delay (2h) > join window (1h) means state cleanup can never
    // evict a needed click, so the rolled-up result equals the batch
    // interval join — the oracle.
    Entry("q_interval_join_stream",
      (s, d) => graft.streaming.Replay.intervalJoinReplay(s, d)
        .groupBy(col("p_user").as("user_id"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("p_id")).as("n_purchases"))
        .orderBy("user_id"),
      Some("SELECT p.user_id AS user_id, " +
        "CAST(count(*) AS BIGINT) AS n_pairs, " +
        "count(DISTINCT p.event_id) AS n_purchases " +
        "FROM events p JOIN events c ON p.event_type = 'purchase' " +
        "AND c.event_type = 'click' AND c.user_id = p.user_id " +
        "AND c.ts BETWEEN p.ts - INTERVAL '1 hour' AND p.ts " +
        "GROUP BY p.user_id ORDER BY p.user_id")),
    // STREAM-STREAM LEFT OUTER interval join (14th replay): matched
    // pairs emit inner-style; a clickless purchase emits null-extended
    // ONLY once the watermark proves no future click can match —
    // purchases younger than the final watermark stay open and
    // unemitted, and the oracle reproduces that cutoff (the hourly/
    // session convention). The watermark is per Spark's default MIN
    // multi-watermark policy: min(max purchase ts, max click ts) − 2 h
    // — each side advances its own watermark node and the global one
    // is the minimum (empirically pinned: one boundary purchase at
    // sf0.01 separates this from the global-max reading). This is the
    // semantic that separates streaming outer joins from batch: the
    // null row is an EVICTION artifact, not a scan artifact.
    Entry("q_left_outer_stream",
      (s, d) => graft.streaming.Replay.leftOuterJoinReplay(s, d)
        .groupBy(col("p_user").as("user_id"))
        .agg(count(lit(1)).as("n_rows"),
          count(col("c_id")).as("n_matched"),
          sum(when(col("c_id").isNull, 1L).otherwise(0L)).as("n_unmatched"))
        .orderBy("user_id"),
      Some("""WITH mx AS (
  SELECT least(
    (SELECT max(ts) FROM events WHERE event_type = 'purchase'),
    (SELECT max(ts) FROM events WHERE event_type = 'click'))
    - INTERVAL '2 hours' AS wm),
p AS (SELECT user_id, ts, event_id FROM events
  WHERE event_type = 'purchase'),
c AS (SELECT user_id, ts, event_id FROM events
  WHERE event_type = 'click'),
matched AS (
  SELECT p.user_id, 1 AS m
  FROM p JOIN c ON c.user_id = p.user_id
    AND c.ts BETWEEN p.ts - INTERVAL '1 hour' AND p.ts),
unmatched AS (
  SELECT p.user_id, 0 AS m
  FROM p, mx
  WHERE p.ts < mx.wm AND NOT EXISTS (
    SELECT 1 FROM c WHERE c.user_id = p.user_id
      AND c.ts BETWEEN p.ts - INTERVAL '1 hour' AND p.ts))
SELECT user_id, CAST(count(*) AS BIGINT) AS n_rows,
  CAST(sum(m) AS BIGINT) AS n_matched,
  CAST(count(*) - sum(m) AS BIGINT) AS n_unmatched
FROM (SELECT * FROM matched UNION ALL SELECT * FROM unmatched)
GROUP BY user_id ORDER BY user_id""")),
    // STREAM-STATIC broadcast enrichment join, same harness: events
    // stream against the static customer dimension, rolled up per
    // (segment, type). No row is lost or duplicated across micro-batch
    // joins iff the rollup equals the batch join — which IS the oracle.
    Entry("q_enrich_stream",
      (s, d) => graft.streaming.Replay.enrichReplay(s, d)
        .groupBy(col("c_mktsegment"), col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy("c_mktsegment", "event_type"),
      Some("SELECT c_mktsegment, event_type, count(*) AS cnt, " +
        "count(DISTINCT user_id) AS n_users " +
        "FROM events JOIN customer ON user_id = c_custkey " +
        "GROUP BY 1, 2 ORDER BY c_mktsegment, event_type")),
    // STREAMING native session_window (append mode), same harness: the
    // replayed table holds exactly the sessions the final watermark
    // closed (window end = last event + gap; non-strict cutoff like
    // the hourly entry). Oracle = the batch lag-gap sessionization
    // with the same cutoff reproduced from max(ts).
    Entry("q_session_stream",
      (s, d) => graft.streaming.Replay.sessionReplay(s, d),
      Some("""WITH mx AS (SELECT max(ts) AS m FROM events),
m AS (
  SELECT user_id, ts,
    CASE WHEN lag(ts) OVER w IS NULL
      OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
    THEN 1 ELSE 0 END AS new_s
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), s AS (
  SELECT user_id, ts, sum(new_s) OVER
    (PARTITION BY user_id ORDER BY ts RANGE UNBOUNDED PRECEDING) AS sid
  FROM m
), sess AS (
  SELECT user_id, min(ts) AS s_start, max(ts) AS s_end,
    CAST(count(*) AS BIGINT) AS n_events
  FROM s GROUP BY user_id, sid)
SELECT user_id, s_start, s_end, n_events FROM sess, mx
WHERE s_end + INTERVAL '30 minutes' <= mx.m - INTERVAL '2 hours'
ORDER BY user_id, s_start""")),
    // STREAMING funnel, same harness: per-user monotone state machine
    // (mapGroupsWithState, update mode), final per-user stage = the
    // last emission across batches; in-order replay makes it exactly
    // equal to the batch funnel chain, which IS the oracle (funnelSql's
    // conditional-min windows, histogrammed by deepest stage).
    Entry("q_funnel_stream",
      (s, d) => graft.streaming.Replay.funnelReplay(s, d,
          Seq("view", "click", "purchase"))
        .select(col("userId").as("user_id"),
          col("stageReached").as("stage_reached"))
        .orderBy("user_id"),
      Some("""WITH s1 AS (SELECT user_id, ts, event_type,
  min(CASE WHEN event_type = 'view' THEN ts END) OVER w AS t_view
  FROM events WINDOW w AS (PARTITION BY user_id)),
s2 AS (SELECT user_id, ts, event_type, t_view,
  min(CASE WHEN event_type = 'click' AND ts > t_view THEN ts END)
  OVER w AS t_click FROM s1 WINDOW w AS (PARTITION BY user_id)),
s3 AS (SELECT user_id, t_view, t_click,
  min(CASE WHEN event_type = 'purchase' AND ts > t_click THEN ts END)
  OVER w AS t_purchase FROM s2 WINDOW w AS (PARTITION BY user_id)),
pu AS (SELECT DISTINCT user_id, t_view, t_click, t_purchase FROM s3)
SELECT user_id, CAST(CASE WHEN t_purchase IS NOT NULL THEN 3
            WHEN t_click IS NOT NULL THEN 2
            WHEN t_view IS NOT NULL THEN 1 ELSE 0 END AS INTEGER)
  AS stage_reached
FROM pu ORDER BY user_id""")),
    // STREAMING last-touch attribution, same harness: per-user
    // 8-byte state (latest click micros — the running max the batch
    // window computes), purchases emit their credited click exactly
    // once in Append mode; in-order replay makes the rollup equal to
    // the batch q_attribution window, which IS the oracle.
    Entry("q_attribution_stream",
      (s, d) => graft.streaming.Replay.attributionReplay(s, d)
        .groupBy(to_date(timestamp_micros(col("clickUs")))
          .as("click_day"))
        .agg(count(lit(1)).as("n_purchases"),
          sum(col("cents")).as("cents_attributed"))
        .orderBy("click_day"),
      Some("""WITH e AS (
  SELECT user_id, event_type, ts, value,
    max(CASE WHEN event_type = 'click' THEN ts END) OVER
      (PARTITION BY user_id ORDER BY ts, event_id
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS last_click_ts
  FROM events)
SELECT CAST(last_click_ts AS DATE) AS click_day,
  count(*) AS n_purchases,
  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
    AS cents_attributed
FROM e
WHERE event_type = 'purchase' AND last_click_ts IS NOT NULL
GROUP BY 1 ORDER BY click_day""")),
    // STREAMING CDC materialized view, same harness (12th replay):
    // per-user state is the key's current latest row by (ts, event_id)
    // — what a CDC consumer holds — re-emitted in Update mode each
    // micro-batch the key changes in; the materialized table is each
    // key's last emission. In-order replay makes it equal to the batch
    // argmax window, which IS the oracle (event_id identifies the
    // winning row exactly — integer artifact, no float or timestamp
    // crosses engines).
    Entry("q_cdc_stream",
      (s, d) => graft.streaming.Replay.cdcReplay(s, d)
        .select(col("userId").as("user_id"),
          col("eventId").as("last_event_id"), col("cents").as("last_cents"))
        .orderBy("user_id"),
      Some("""WITH r AS (
  SELECT user_id, event_id,
    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
    row_number() OVER (PARTITION BY user_id
      ORDER BY ts DESC, event_id DESC) AS rn
  FROM events)
SELECT user_id, event_id AS last_event_id, cents AS last_cents
FROM r WHERE rn = 1 ORDER BY user_id""")),
    // Skew-salted two-stage distinct aggregation: the oracle is the
    // UNsalted declarative form — the check is precisely that the
    // physical salting rewrite preserves semantics.
    Entry("q_salted_agg",
      (s, d) => graft.ops.Relational.saltedDistinctAgg(li(s, d),
        "l_returnflag", "l_orderkey", "l_quantity", buckets = 64),
      Some(graft.ops.Relational.saltedDistinctAggSql("lineitem",
        "l_returnflag", "l_orderkey", "l_quantity"))),
    // Incremental aggregate-view maintenance: the per-key aggregate is
    // kept current by merging the base's mergeable state with the
    // delta batch's (an O(|delta|) scan + a state-sized merge shuffle)
    // instead of re-scanning the base — the warehouse materialized-view
    // pattern that turns a nightly O(corpus) job into O(batch) at
    // 100 TB. Base = 90% of lineitem, delta = the "appended" 10%; the
    // oracle is the full recompute over ALL rows on DuckDB, so the
    // gate checks merge(state(base), state(delta)) == state(all)
    // value-by-value (integral l_quantity sums are order-exact in
    // double). Merge associativity across arbitrary batch splits is
    // property-tested in OpsSpec.
    Entry("q_incremental_agg",
      (s, d) => {
        val all = li(s, d)
        val keys = Seq("l_returnflag", "l_linestatus")
        val base = all.filter(pmod(col("l_orderkey"), lit(10)) =!= 0)
        val delta = all.filter(pmod(col("l_orderkey"), lit(10)) === 0)
        graft.ops.Incremental.report(graft.ops.Incremental.merge(Seq(
          graft.ops.Incremental.aggState(base, keys, "l_quantity"),
          graft.ops.Incremental.aggState(delta, keys, "l_quantity")),
          keys), keys)
      },
      Some(graft.ops.Incremental.reportSql("lineitem",
        Seq("l_returnflag", "l_linestatus"), "l_quantity"))),
    // Incremental JOIN-view maintenance — the bilinear delta rule:
    // Δ(A⋈B) = ΔA⋈B₀ ∪ A₀⋈ΔB ∪ ΔA⋈ΔB, so a materialized join view
    // updates from O(|Δ|)-driven joins instead of re-joining the
    // bases (each delta term keys one small side — at 100 TB the ΔA
    // and ΔB probes broadcast). Both inputs here take a 10% "append":
    // the four disjoint terms union BEFORE one per-nation aggregate
    // (single action), and the oracle is the full recompute — any
    // missed or double-counted term breaks the exact cents census.
    Entry("q_incremental_join",
      (s, d) => {
        val cust = Tables.read(s, d, "customer")
          .select(col("c_custkey"), col("c_nationkey"))
        val ords = Tables.read(s, d, "orders")
          .select(col("o_custkey"),
            floor(col("o_totalprice") * 100 + 0.5).cast("long")
              .as("cents"))
        val a0 = cust.filter(pmod(col("c_custkey"), lit(10)) =!= 0)
        val da = cust.filter(pmod(col("c_custkey"), lit(10)) === 0)
        val b0 = ords.filter(pmod(col("o_custkey"), lit(7)) =!= 0)
        val db = ords.filter(pmod(col("o_custkey"), lit(7)) === 0)
        def term(x: DataFrame, y: DataFrame) =
          x.join(y, col("c_custkey") === col("o_custkey"))
            .select(col("c_nationkey"), col("cents"))
        term(a0, b0).unionByName(term(da, b0))
          .unionByName(term(a0, db)).unionByName(term(da, db))
          .groupBy("c_nationkey")
          .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("cents"))
          .orderBy("c_nationkey")
      },
      Some("""SELECT c_nationkey, count(*) AS n_orders,
  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
    AS cents
FROM customer JOIN orders ON c_custkey = o_custkey
GROUP BY c_nationkey ORDER BY c_nationkey""")),
    // MERGEABLE-sketch rollup — the incremental distinct-count pattern
    // at 100 TB: per-month Datasketches HLL sketches over o_custkey,
    // stored as binary columns and UNIONED later, must agree with one
    // direct whole-table sketch to within the sketch's own rsd (the
    // union path promotes through a different internal representation
    // — HLL_8 accumulator vs the direct sketch's build path — so
    // bit-equality holds only in sparse mode; measured at sf0.001 the
    // estimates ARE equal, and past promotion they differ well under
    // one rsd). This is the contract that lets a warehouse keep
    // per-partition sketches and answer any date-range distinct query
    // without rescanning. Second row gates the direct estimate against
    // the exact distinct within 4x rsd (the q_sketch_bounds
    // precedent). Sketch VALUES are engine-specific; the CONTRACT
    // booleans plus the exact reference are what DuckDB hash-checks.
    Entry("q_hll_rollup",
      (s, d) => {
        import s.implicits._
        val o = Tables.read(s, d, "orders")
        val lgK = 12
        val perMonth = o
          .groupBy(date_trunc("month", col("o_orderdate")).as("m"))
          .agg(hll_sketch_agg(col("o_custkey"), lit(lgK)).as("sk"))
        val merged = perMonth
          .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("e"))
          .head().getLong(0)
        val direct = o
          .agg(hll_sketch_estimate(
            hll_sketch_agg(col("o_custkey"), lit(lgK))).as("e"))
          .head().getLong(0)
        val exact = o.agg(countDistinct(col("o_custkey"))).head().getLong(0)
        val rsd = 1.04 / math.sqrt((1 << lgK).toDouble)
        // 2x rsd for merge-vs-direct: the two sides are DISTINCT
        // estimator paths (HLL_8 union accumulator vs build-path
        // sketch), each carrying ~rsd of its own error, so a 1x
        // bracket is only measured at tested scales — 2x is the
        // scale-robust contract (each path is separately gated
        // against exact at 4x rsd below).
        Seq(
          ("hll_merge_within_rsd", exact,
            math.abs(merged - direct).toDouble / direct <= 2 * rsd),
          ("hll_rsd_bounds", exact,
            math.abs(direct - exact).toDouble / exact <= 4 * rsd))
          .toDF("metric", "exact_ref", "ok").orderBy("metric")
      },
      Some("""SELECT 'hll_merge_within_rsd' AS metric,
  CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_ref, true AS ok
FROM orders
UNION ALL
SELECT 'hll_rsd_bounds', CAST(count(DISTINCT o_custkey) AS BIGINT), true
FROM orders ORDER BY metric""")),
    // SKETCH SET OPERATIONS — the query HLL union alone cannot answer:
    // |A∩B| of two stored segment sketches via inclusion-exclusion
    // (e(A)+e(B)−e(A∪B)), the distinct-overlap question (shared
    // customers across two order-priority segments) a warehouse
    // answers from per-segment sketches WITHOUT rescanning either
    // segment. Each of the three estimates carries ~rsd of its own
    // error, so the gate brackets |est−exact| by 4·rsd·(|A|+|B|) (the
    // q_hll_rollup 2x-lesson applied: tolerance sized to the ERROR
    // COMPOSITION, not the measured-at-one-scale bracket). Exact refs
    // + the contract boolean are what DuckDB hash-checks.
    Entry("q_hll_intersect",
      (s, d) => {
        import s.implicits._
        val o = Tables.read(s, d, "orders")
        val lgK = 12
        val rsd = 1.04 / math.sqrt((1 << lgK).toDouble)
        def sketchOf(p: String) =
          o.filter(col("o_orderpriority") === p)
            .agg(hll_sketch_agg(col("o_custkey"), lit(lgK)).as("sk"))
        val eA = sketchOf("1-URGENT")
          .select(hll_sketch_estimate(col("sk"))).head().getLong(0)
        val eB = sketchOf("2-HIGH")
          .select(hll_sketch_estimate(col("sk"))).head().getLong(0)
        val eU = o.filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
          .agg(hll_sketch_estimate(
            hll_sketch_agg(col("o_custkey"), lit(lgK)))).head().getLong(0)
        val est = eA + eB - eU
        val ex = o.groupBy(col("o_custkey"))
          .agg(max(when(col("o_orderpriority") === "1-URGENT", 1)).as("a"),
            max(when(col("o_orderpriority") === "2-HIGH", 1)).as("b"))
          .agg(coalesce(sum(col("a")), lit(0L)).as("na"),
            coalesce(sum(col("b")), lit(0L)).as("nb"),
            coalesce(sum(when(col("a") === 1 && col("b") === 1, 1L)),
              lit(0L)).as("ni"))
          .head()
        val (exA, exB, exI) = (ex.getLong(0), ex.getLong(1), ex.getLong(2))
        Seq(("hll_intersect", exA, exB, exI,
          math.abs(est - exI).toDouble <= 4 * rsd * (exA + exB)))
          .toDF("metric", "exact_a", "exact_b", "exact_inter", "ok")
      },
      Some("""SELECT 'hll_intersect' AS metric,
  CAST(count(DISTINCT CASE WHEN has_a = 1 THEN o_custkey END) AS BIGINT)
    AS exact_a,
  CAST(count(DISTINCT CASE WHEN has_b = 1 THEN o_custkey END) AS BIGINT)
    AS exact_b,
  CAST(count(DISTINCT CASE WHEN has_a = 1 AND has_b = 1
    THEN o_custkey END) AS BIGINT) AS exact_inter,
  true AS ok
FROM (
  SELECT o_custkey,
    max(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
      AS has_a,
    max(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS has_b
  FROM orders GROUP BY o_custkey)""")),
    // Probabilistic sketches over the fact table (Spark-native: HLL++,
    // count-min, Bloom filter). Deterministic for fixed data/seed but
    // engine-specific -> rows-only check.
    Entry("q_sketches",
      (s, d) => {
        import s.implicits._
        val df = li(s, d)
        val approxDistinct = df
          .agg(approx_count_distinct(col("l_orderkey")).as("ad"))
          .head().getLong(0)
        val cms = df.stat.countMinSketch(col("l_returnflag"),
          eps = 0.001, confidence = 0.99, seed = 42)
        val bloom = df.stat.bloomFilter(col("l_orderkey"),
          expectedNumItems = 100000L, fpp = 0.01)
        Seq(
          ("hll_orderkeys", approxDistinct),
          ("cms_returnflag_A", cms.estimateCount("A")),
          ("cms_returnflag_N", cms.estimateCount("N")),
          ("cms_returnflag_R", cms.estimateCount("R")),
          ("bloom_has_1", if (bloom.mightContain(1L)) 1L else 0L),
          ("bloom_has_neg", if (bloom.mightContain(-12345L)) 1L else 0L)
        ).toDF("sketch", "value").orderBy("sketch")
      },
      None),
    // Sketch accuracy harness — the third of the measured-approximation
    // trio (with q_ann_recall and q_minhash_accuracy): HLL++ distinct
    // counts at two precisions and percentile_approx at two accuracies,
    // each against its exact answer, reported as relative error. This
    // is the number that sizes a sketch budget at 100 TB (rsd/accuracy
    // trade against executor memory), queryable instead of assumed.
    // One pass per aggregate set; driver assembly is scalar-bounded
    // (q_sketches precedent). rows-only: sketches are engine-specific.
    Entry("q_sketch_accuracy",
      (s, d) => {
        import s.implicits._
        val r = sketchRefs(s, d)
        def relErr(exact: Double, approx: Double): Double =
          if (exact == 0.0) math.abs(approx) else math.abs(approx - exact) / exact
        val hllRows = Seq(
          ("hll_rsd_0.05", r.exactD.toDouble, r.h05.toDouble),
          ("hll_rsd_0.01", r.exactD.toDouble, r.h01.toDouble))
        val ps = quantileProbs
        def qRows(name: String, qv: Seq[Double]) = ps.indices.map { i =>
          (f"$name%s_p${(ps(i) * 100).toInt}%d", r.exactQ(ps(i)), qv(i))
        }
        (hllRows ++ qRows("pctl_acc_100", r.q100) ++ qRows("pctl_acc_10k", r.q10k))
          .map { case (m, e, a) => (m, e, a, relErr(e, a)) }
          .toDF("metric", "exact", "approx", "rel_err")
          .orderBy("metric")
      },
      None),
    // Guarantee-gate twin of q_sketch_accuracy (the Misra–Gries
    // guaranteed-head precedent): each row carries the DuckDB-exact
    // reference value plus a boolean asserting the sketch honored its
    // error budget — the accuracy CONTRACT is hash-checked while the
    // engine-specific sketch values stay rows-only above. HLL budget:
    // relative error ≤ 4×rsd (4σ headroom keeps the fixed-seed check
    // deterministic-in-practice at any SF). percentile_approx budget:
    // the guarantee is RANK error ≤ n/accuracy, so the check brackets
    // the approx value's exact rank (count< / count≤ in ONE count-if
    // pass) against the target fraction, with 2/n slack for rank
    // discretization conventions.
    Entry("q_sketch_bounds",
      (s, d) => {
        import s.implicits._
        val df = li(s, d)
        val r = sketchRefs(s, d)
        // (label, target prob, rank tolerance, approx value) per check
        val pctl = for {
          (acc, qv) <- Seq((100, r.q100), (10000, r.q10k))
          (p, i) <- quantileProbs.zipWithIndex
        } yield (f"pctl_a${acc}%d_p${(p * 100).toInt}%d", p,
          1.0 / acc + 2.0 / r.n, qv(i))
        val condAggs = pctl.zipWithIndex.flatMap { case ((_, _, _, v), i) =>
          Seq(sum(when(col("l_quantity") < v, 1L).otherwise(0L)).as(s"lt$i"),
            sum(when(col("l_quantity") <= v, 1L).otherwise(0L)).as(s"le$i"))
        }
        val rc = df.agg(condAggs.head, condAggs.tail: _*).head()
        def relErr(exact: Long, approx: Long): Double =
          math.abs(approx - exact).toDouble / exact
        val hllRows = Seq(
          ("hll_rsd005", r.exactD.toDouble,
            relErr(r.exactD, r.h05) <= 4 * 0.05),
          ("hll_rsd001", r.exactD.toDouble,
            relErr(r.exactD, r.h01) <= 4 * 0.01))
        val pctlRows = pctl.zipWithIndex.map { case ((m, p, tol, _), i) =>
          val ltFrac = rc.getLong(2 * i).toDouble / r.n
          val leFrac = rc.getLong(2 * i + 1).toDouble / r.n
          (m, r.exactQ(p), leFrac >= p - tol && ltFrac <= p + tol)
        }
        (hllRows ++ pctlRows).toDF("metric", "exact_ref", "ok")
          .orderBy("metric")
      },
      Some {
        val hll = Seq("hll_rsd005", "hll_rsd001").map { m =>
          s"SELECT '$m' AS metric, " +
            "CAST(count(DISTINCT l_orderkey) AS DOUBLE) AS exact_ref, " +
            "true AS ok FROM lineitem"
        }
        val pctl = for {
          acc <- Seq(100, 10000)
          p <- Seq(0.25, 0.5, 0.75, 0.95)
        } yield s"SELECT 'pctl_a${acc}_p${(p * 100).toInt}' AS metric, " +
          s"(SELECT value FROM eq WHERE p = $p) AS exact_ref, " +
          "true AS ok"
        s"WITH eq AS (${Queries.quantilesSql})\n" +
          (hll ++ pctl).mkString("", "\nUNION ALL ", "\nORDER BY metric")
      }),
    // Guarantee-gate twin of q_sketches (the q_sketch_bounds precedent,
    // extended to the CMS/Bloom members of the trio): count-min NEVER
    // undercounts and overcounts by at most ⌈eps·N⌉ with confidence
    // 1−δ (deterministic for the fixed seed); a Bloom filter has NO
    // false negatives, so a key known present (the min orderkey) must
    // test positive. The engine-specific sketch VALUES stay rows-only
    // in q_sketches; the CONTRACTS are hash-checked against DuckDB's
    // exact per-flag counts.
    Entry("q_sketches_bounds",
      (s, d) => {
        import s.implicits._
        val df = li(s, d)
        val a = df.agg(
          count(lit(1)).as("n"),
          sum(when(col("l_returnflag") === "A", 1L).otherwise(0L)).as("ca"),
          sum(when(col("l_returnflag") === "N", 1L).otherwise(0L)).as("cn"),
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("cr"),
          min(col("l_orderkey")).as("mink")).head()
        val n = a.getLong(0)
        val exact = Map("A" -> a.getLong(1), "N" -> a.getLong(2),
          "R" -> a.getLong(3))
        val minKey = a.getLong(4)
        val eps = 0.001
        val cms = df.stat.countMinSketch(col("l_returnflag"),
          eps = eps, confidence = 0.99, seed = 42)
        val bloom = df.stat.bloomFilter(col("l_orderkey"),
          expectedNumItems = 100000L, fpp = 0.01)
        val rows = Seq("A", "N", "R").map { v =>
          val e = exact(v)
          val est = cms.estimateCount(v)
          (s"cms_$v", e,
            est >= e && est <= e + math.ceil(eps * n).toLong)
        } :+ (("bloom_min_orderkey", minKey, bloom.mightContain(minKey)))
        rows.toDF("metric", "exact_ref", "ok").orderBy("metric")
      },
      Some("""SELECT 'bloom_min_orderkey' AS metric,
  min(l_orderkey) AS exact_ref, true AS ok FROM lineitem
UNION ALL SELECT 'cms_A', CAST(sum(CASE WHEN l_returnflag = 'A'
  THEN 1 ELSE 0 END) AS BIGINT), true FROM lineitem
UNION ALL SELECT 'cms_N', CAST(sum(CASE WHEN l_returnflag = 'N'
  THEN 1 ELSE 0 END) AS BIGINT), true FROM lineitem
UNION ALL SELECT 'cms_R', CAST(sum(CASE WHEN l_returnflag = 'R'
  THEN 1 ELSE 0 END) AS BIGINT), true FROM lineitem
ORDER BY metric""")),
    // Batch sessionization via identical window SQL on both engines —
    // the verifiable batch twin of streaming EventStream.sessionize.
    Entry("q_sessionize_batch",
      (s, d) => {
        Tables.read(s, d, "events").createOrReplaceTempView("events")
        s.sql(Queries.sessionizeSql)
      },
      Some(sessionizeSql)),
    // SCD2 temporal-dimension build from the event log: per user,
    // consecutive repeats of a state open no new version; each version
    // gets [valid_from, valid_to) closed by the next CHANGE, the live
    // one flagged is_current. One exchange + one sort total — the lag
    // collapse, the change filter, and the lead close share a single
    // (key, ts, tie) window ordering, and Filter preserves it, so
    // EnsureRequirements inserts nothing between the window operators.
    Entry("q_scd2",
      (s, d) => graft.ops.Relational.scd2(Tables.read(s, d, "events"),
        "user_id", "event_type", "ts", "event_id")
        .orderBy("user_id", "valid_from"),
      Some(graft.ops.Relational.scd2Sql("events",
        "user_id", "event_type", "ts", "event_id"))),
    // Event debounce (burst collapse): per (user, type), an event
    // within 60 s of its predecessor is a retry/double-fire, not a new
    // action. Kept/total per type; interval arithmetic (not epoch
    // casts) so µs-vs-ns reader precision cannot diverge.
    Entry("q_debounce",
      (s, d) => graft.ops.Relational.debounce(Tables.read(s, d, "events"),
          Seq("user_id", "event_type"), "ts", "event_id", gapSeconds = 60)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("debounce_keep"), 1L).otherwise(0L)).as("n_kept"))
        .orderBy("event_type"),
      Some("""WITH lagged AS (
  SELECT event_type, ts - lag(ts) OVER (
    PARTITION BY user_id, event_type ORDER BY ts, event_id) AS gap
  FROM events)
SELECT event_type, count(*) AS n_events,
  CAST(sum(CASE WHEN gap IS NULL OR gap > INTERVAL 60 SECOND
    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM lagged GROUP BY event_type ORDER BY event_type""")),
    // Changelog/CDC compaction: latest event per user via a
    // partial-aggregable max_by(struct(payload), struct(ts, id)) — one
    // candidate row per key per map task crosses the exchange, vs the
    // window formulation (the oracle) which shuffles and sorts the
    // whole log. The (ts_us, event_id) order tuple is total (no
    // per-user µs ties in the data, and event_id breaks any), so the
    // winner is deterministic and engine-portable.
    Entry("q_changelog_compact",
      (s, d) => graft.ops.Relational.latestByKey(
          Tables.read(s, d, "events")
            .withColumn("ts_us", unix_micros(col("ts"))),
          "user_id", Seq("ts_us", "event_id"),
          Seq("ts_us", "event_id", "event_type", "value"))
        .orderBy("user_id"),
      Some("""SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type, value
FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        ORDER BY ts DESC, event_id DESC) AS rn FROM events)
WHERE rn = 1 ORDER BY user_id""")),
    // Skew-salted equi-join: customer fanned over 8 salt buckets joined
    // to the 8x-replicated nation dim on (key, salt) — the rewrite for
    // hot-key joins where neither side broadcasts and hash partitioning
    // would single-task the head key. Semantics identical to the plain
    // join BY CONSTRUCTION, and that identity is the oracle (the
    // unsalted declarative join, like q_salted_agg's unsalted form).
    Entry("q_salted_join",
      (s, d) => graft.ops.Relational.saltedJoin(
          Tables.read(s, d, "customer"),
          Tables.read(s, d, "nation")
            .select(col("n_nationkey").as("c_nationkey"), col("n_name")),
          "c_nationkey", col("c_custkey"), buckets = 8)
        .groupBy(col("n_name"))
        // modular checksum: raw sum(c_custkey) overflows Long at
        // derived 100x key strides (see asofStrategyAgg note)
        .agg(count(lit(1)).as("n_cust"),
          sum(pmod(col("c_custkey"), lit(1000003L))).as("key_sum"))
        .orderBy("n_name"),
      Some("SELECT n_name, count(*) AS n_cust, " +
        "CAST(sum(c_custkey % 1000003) AS BIGINT) AS key_sum " +
        "FROM customer JOIN nation ON c_nationkey = n_nationkey " +
        "GROUP BY n_name ORDER BY n_name")),
    // Time-bucketed aggregation over the event stream table.
    Entry("q_events_hourly",
      (s, d) => Tables.read(s, d, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour"),
          col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          countDistinct(col("user_id")).as("n_users"),
          min(col("value")).as("min_value"),
          max(col("value")).as("max_value"))
        .orderBy("hour", "event_type"),
      Some("SELECT date_trunc('hour', ts) AS hour, event_type, " +
        "count(*) AS cnt, count(DISTINCT user_id) AS n_users, " +
        "min(value) AS min_value, max(value) AS max_value " +
        "FROM events GROUP BY 1, 2 ORDER BY hour, event_type")),
    // BLOCKED fuzzy join (record linkage): a deterministically
    // corrupted ingest feed (every third customer name gets one
    // substituted character) links back to the master table via a
    // BLOCKING key (last 4 name chars, preserved by the corruption) +
    // an edit-distance candidate filter — the standard shape that
    // keeps fuzzy matching linear: candidates are per-block, never
    // all-pairs, and the block key is chosen so true matches cannot
    // escape their block. The probe side is the DISTINCT name set per
    // block, not clean rows — derived-scale dirs replicate every name
    // ~SF times (keys shift, names do not), and row-level candidates
    // would grow quadratically in that replication (caught live at the
    // 100x point: one 557 s CPU task); the distinct set stays
    // base-sized at any SF and min-over-distinct equals min-over-rows.
    // Artifact: match-quality census (exact / fuzzy / unmatched),
    // identical levenshtein in both engines.
    Entry("q_fuzzy_join",
      (s, d) => {
        val clean = Tables.read(s, d, "customer")
          .select(col("c_custkey").as("k"), col("c_name").as("name"))
        val dirty = clean.select(col("k"),
          when(pmod(col("k"), lit(3)) === 0,
            concat(substring(col("name"), 1, 11), lit("X"),
              expr("substring(name, 13)")))
            .otherwise(col("name")).as("dname"))
          .withColumn("bk", expr("right(dname, 4)"))
        val cleanNames = clean.select(col("name")).distinct()
          .withColumn("bk", expr("right(name, 4)"))
        val cand = dirty.join(cleanNames, "bk")
          .select(col("k"),
            levenshtein(col("dname"), col("name")).as("lev"))
          .filter(col("lev") <= 1)
          .groupBy("k").agg(min(col("lev")).as("best"))
        // One pass: left-join the census back to dirty, count every
        // bucket with sum(when...) in a single aggregate, unpivot with
        // stack(). Three separate .count() actions each re-scanned the
        // full lineage — at 100 TB that is three corpus reads for one
        // four-row answer.
        dirty.select(col("k")).join(cand, Seq("k"), "left")
          .agg(count(lit(1)).as("n_dirty"),
            coalesce(sum(when(col("best") === 0, 1L)), lit(0L))
              .as("n_exact"),
            coalesce(sum(when(col("best") === 1, 1L)), lit(0L))
              .as("n_fuzzy"),
            coalesce(sum(when(col("best").isNull, 1L)), lit(0L))
              .as("n_unmatched"))
          .selectExpr("stack(4, 'n_dirty', n_dirty, 'n_exact', n_exact, " +
            "'n_fuzzy', n_fuzzy, 'n_unmatched', n_unmatched) AS (metric, n)")
          .orderBy("metric")
      },
      Some("""WITH clean AS (
  SELECT c_custkey AS k, c_name AS name FROM customer
), dirty AS (
  SELECT k, CASE WHEN k % 3 = 0
    THEN substr(name, 1, 11) || 'X' || substr(name, 13)
    ELSE name END AS dname
  FROM clean
), names AS (
  SELECT DISTINCT name FROM clean
), cand AS (
  SELECT d.k, min(levenshtein(d.dname, c.name)) AS best
  FROM dirty d JOIN names c ON right(d.dname, 4) = right(c.name, 4)
  WHERE levenshtein(d.dname, c.name) <= 1
  GROUP BY d.k
)
SELECT 'n_dirty' AS metric, CAST(count(*) AS BIGINT) AS n FROM dirty
UNION ALL SELECT 'n_exact', CAST(count(*) AS BIGINT) FROM cand
  WHERE best = 0
UNION ALL SELECT 'n_fuzzy', CAST(count(*) AS BIGINT) FROM cand
  WHERE best = 1
UNION ALL SELECT 'n_unmatched',
  CAST((SELECT count(*) FROM dirty) - count(*) AS BIGINT) FROM cand
ORDER BY metric""")),
    // SLIDING-window aggregation (size 2h, slide 1h) via the native
    // `window()` generator — each event lands in exactly two window
    // instances, the overlap a tumbling bucket cannot express. The
    // oracle materializes the same two epoch-aligned window starts per
    // event as a UNION ALL. One Expand + one partial-agg shuffle.
    Entry("q_sliding_window",
      (s, d) => Tables.read(s, d, "events")
        .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          countDistinct(col("user_id")).as("n_users"))
        .select(col("window.start").as("w_start"), col("event_type"),
          col("cnt"), col("n_users"))
        .orderBy("w_start", "event_type"),
      Some("""WITH x AS (
  SELECT date_trunc('hour', ts) AS w_start, event_type, user_id
  FROM events
  UNION ALL
  SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR, event_type, user_id
  FROM events
)
SELECT w_start, event_type, count(*) AS cnt,
  count(DISTINCT user_id) AS n_users
FROM x GROUP BY 1, 2 ORDER BY w_start, event_type""")),
    // BATCH funnel conversion (view -> click -> purchase, strictly
    // ordered by time per user): stage k's timestamp is the user's
    // first qualifying event at or after stage k-1's. Three per-user
    // min-aggregates chained by key joins — every shuffle is on
    // user_id, so a co-partitioned layout pays ONE exchange at scale.
    // The streaming twin is q_funnel_stream; this is the declarative
    // backfill formulation.
    Entry("q_funnel_batch",
      (s, d) => {
        val ev = Tables.read(s, d, "events")
          .select(col("user_id"), col("event_type"), col("ts"))
        val v = ev.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min(col("ts")).as("t1"))
        val c = ev.filter(col("event_type") === "click")
          .join(v, "user_id").filter(col("ts") >= col("t1"))
          .groupBy("user_id").agg(min(col("ts")).as("t2"))
        val p = ev.filter(col("event_type") === "purchase")
          .join(c, "user_id").filter(col("ts") >= col("t2"))
          .groupBy("user_id").agg(min(col("ts")).as("t3"))
        // Stage containment (p ⊆ c ⊆ v by construction) lets two
        // user-keyed left joins carry all three stage flags, so ONE
        // aggregate pass + stack() replaces the former three .count()
        // actions (each a full lineage re-execution).
        v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
          .agg(count(col("t1")).as("n1"), count(col("t2")).as("n2"),
            count(col("t3")).as("n3"))
          .selectExpr("stack(3, '1_view', n1, '2_click', n2, " +
            "'3_purchase', n3) AS (stage, n_users)")
          .orderBy("stage")
      },
      Some("""WITH v AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN v USING (user_id)
  WHERE e.event_type = 'click' AND e.ts >= v.t1 GROUP BY e.user_id
), p AS (
  SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN c USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts >= c.t2 GROUP BY e.user_id
)
SELECT '1_view' AS stage, CAST(count(*) AS BIGINT) AS n_users FROM v
UNION ALL SELECT '2_click', CAST(count(*) AS BIGINT) FROM c
UNION ALL SELECT '3_purchase', CAST(count(*) AS BIGINT) FROM p
ORDER BY stage""")),
    // ORC round-trip — format breadth for the source/sink surface
    // beyond parquet/CSV/DSv2: write a pruned orders projection as
    // ORC (splittable, predicate-pushdown-capable, the other columnar
    // default in the Hadoop world), read it back, and aggregate; the
    // oracle runs the same aggregate over the parquet original, so the
    // gate proves the ORC path is LOSSLESS for longs, strings, and
    // doubles (binary columnar round-trip; integer-cents sum pins the
    // doubles exactly).
    Entry("q_orc_roundtrip",
      (s, d) => {
        // pid-keyed path: two concurrent bench/verify processes over
        // the same dataset must not race on one fixed dir (one would
        // overwrite while the other reads back). The aggregate is
        // fully materialized by the collect-and-rebuild below, so the
        // ORC artifact can be deleted before returning — no /tmp
        // residue accumulates across runs.
        val dir = "/tmp/graft_orc/" + d.replaceAll("[^A-Za-z0-9]", "_") +
          "_" + ProcessHandle.current().pid()
        Tables.read(s, d, "orders")
          .select(col("o_orderkey"), col("o_orderpriority"),
            col("o_totalprice"))
          .write.mode("overwrite").orc(dir)
        val agg = s.read.orc(dir)
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"),
            sum(floor(col("o_totalprice") * 100 + 0.5).cast("long"))
              .as("cents_sum"),
            min(col("o_orderkey")).as("min_key"),
            max(col("o_orderkey")).as("max_key"))
          .orderBy("o_orderpriority")
        // group-count-sized (5 priorities): safe to land on the driver
        val rows = agg.collect().toSeq
        org.apache.commons.io.FileUtils.deleteQuietly(
          new java.io.File(dir))
        s.createDataFrame(
          s.sparkContext.parallelize(rows, 1), agg.schema)
      },
      Some("""SELECT o_orderpriority, count(*) AS n,
  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
    AS cents_sum,
  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
FROM orders GROUP BY 1 ORDER BY o_orderpriority""")),
    // SCHEMA EVOLUTION — the other half of format breadth: two
    // parquet batches written with DIFFERENT schemas (a column added
    // mid-stream, the standard ingest drift) read back through
    // mergeSchema; pre-evolution rows must surface the new column as
    // NULL, post-evolution rows keep their values, and nothing is
    // lost or duplicated. pid-keyed tmp dir + eager collect + cleanup
    // (the ORC round-trip conventions); cents-exact money.
    Entry("q_schema_evolution",
      (s, d) => {
        val dir = "/tmp/graft_evo/" + d.replaceAll("[^A-Za-z0-9]", "_") +
          "_" + ProcessHandle.current().pid()
        val o = Tables.read(s, d, "orders")
        o.filter(pmod(col("o_orderkey"), lit(2)) === 0)
          .select(col("o_orderkey"), col("o_totalprice"))
          .write.mode("overwrite").parquet(s"$dir/b1")
        o.filter(pmod(col("o_orderkey"), lit(2)) === 1)
          .select(col("o_orderkey"), col("o_totalprice"),
            col("o_orderpriority"))
          .write.mode("overwrite").parquet(s"$dir/b2")
        val merged = s.read.option("mergeSchema", "true")
          .parquet(s"$dir/b1", s"$dir/b2")
        val agg = merged
          .groupBy(coalesce(col("o_orderpriority"), lit("<pre-evolution>"))
            .as("priority"))
          .agg(count(lit(1)).as("n"),
            sum(floor(col("o_totalprice") * 100 + 0.5).cast("long"))
              .as("cents_sum"))
          .orderBy("priority")
        val rows = agg.collect().toSeq
        org.apache.commons.io.FileUtils.deleteQuietly(
          new java.io.File(dir))
        s.createDataFrame(
          s.sparkContext.parallelize(rows, 1), agg.schema)
      },
      Some("""SELECT CASE WHEN o_orderkey % 2 = 0 THEN '<pre-evolution>'
    ELSE o_orderpriority END AS priority,
  count(*) AS n,
  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
    AS cents_sum
FROM orders GROUP BY 1 ORDER BY priority""")),
    // JSONL ROUND-TRIP — the interchange format every LLM data
    // pipeline ships: the documents slice written as JSON Lines and
    // read back must be LOSSLESS for text payloads (quotes, newlines,
    // unicode — exactly what JSON escaping must survive); the gate
    // aggregates per-language doc counts, total chars, and an md5 sum
    // over the round-tripped text against the parquet original.
    Entry("q_jsonl_roundtrip",
      (s, d) => {
        val dir = "/tmp/graft_jsonl/" + d.replaceAll("[^A-Za-z0-9]", "_") +
          "_" + ProcessHandle.current().pid()
        docs(s, d).select(col("doc_id"), col("lang"), col("text"))
          .write.mode("overwrite").json(dir)
        val back = s.read.json(dir)
        // 10 hex chars = 40 bits per doc: the additive artifact stays
        // far under Long at any derived scale (the r10 overflow
        // lesson: bound per-row contributions BEFORE summing).
        val agg = back
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(length(col("text"))).as("total_chars"),
            count(col("text")).as("n_hashable"),
            sum(conv(substring(md5(col("text")), 1, 10), 16, 10)
              .cast("long")).as("md5_prefix_sum"))
          .orderBy("lang")
        val rows = agg.collect().toSeq
        org.apache.commons.io.FileUtils.deleteQuietly(
          new java.io.File(dir))
        s.createDataFrame(
          s.sparkContext.parallelize(rows, 1), agg.schema)
      },
      Some("""SELECT lang, count(*) AS n_docs,
  CAST(sum(length(text)) AS BIGINT) AS total_chars,
  CAST(count(text) AS BIGINT) AS n_hashable,
  CAST(sum(CAST(('0x' || substr(md5(text), 1, 10)) AS BIGINT))
    AS BIGINT) AS md5_prefix_sum
FROM documents GROUP BY lang ORDER BY lang""")),
    // Event TRANSITION matrix (first-order Markov counts): for each
    // user's time-ordered stream, count (event, next-event) pairs —
    // the navigation-flow / next-action primitive. One lead() window
    // per user (frames bounded by each user's own event count) and one
    // (from, to) partial-agg shuffle; ties broken by event_id so both
    // engines walk the same order.
    Entry("q_transition_matrix",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        Tables.read(s, d, "events")
          .select(col("user_id"), col("event_type"), col("ts"),
            col("event_id"))
          .withColumn("next_type", lead(col("event_type"), 1).over(w))
          .filter(col("next_type").isNotNull)
          .groupBy(col("event_type").as("from_type"), col("next_type")
            .as("to_type"))
          .agg(count(lit(1)).as("cnt"))
          .orderBy("from_type", "to_type")
      },
      Some("""SELECT event_type AS from_type, next_type AS to_type,
  count(*) AS cnt
FROM (
  SELECT event_type, lead(event_type) OVER
    (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
  FROM events)
WHERE next_type IS NOT NULL
GROUP BY 1, 2 ORDER BY from_type, to_type""")),
    // LAST-TOUCH ATTRIBUTION — the marketing-analytics primitive: each
    // purchase is credited to the user's most recent click at or
    // before it, and attributed revenue is reported per CLICK-day (the
    // day the credited touchpoint happened, not the purchase day). One
    // running max(CASE) window per user (frames bounded by the user's
    // own events), then a (day) partial-agg shuffle; revenue summed in
    // exact integer cents (floor(x*100+0.5), the target-encode
    // convention).
    Entry("q_attribution",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.read(s, d, "events")
          .select(col("user_id"), col("event_type"), col("ts"),
            col("event_id"), col("value"))
          .withColumn("last_click_ts",
            max(when(col("event_type") === "click", col("ts"))).over(w))
          .filter(col("event_type") === "purchase" &&
            col("last_click_ts").isNotNull)
          .groupBy(to_date(col("last_click_ts")).as("click_day"))
          .agg(count(lit(1)).as("n_purchases"),
            sum(floor(col("value") * 100 + 0.5).cast("long"))
              .as("cents_attributed"))
          .orderBy("click_day")
      },
      Some("""WITH e AS (
  SELECT user_id, event_type, ts, value,
    max(CASE WHEN event_type = 'click' THEN ts END) OVER
      (PARTITION BY user_id ORDER BY ts, event_id
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS last_click_ts
  FROM events)
SELECT CAST(last_click_ts AS DATE) AS click_day,
  count(*) AS n_purchases,
  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
    AS cents_attributed
FROM e
WHERE event_type = 'purchase' AND last_click_ts IS NOT NULL
GROUP BY 1 ORDER BY click_day""")),
    // K-STEP PATH-COUNT CENTRALITY — iterative integer message passing
    // over an edge list, the PageRank/graph-propagation shuffle shape
    // with an EXACT oracle (float PageRank sums are order-dependent;
    // integer path counts are not): over the DISTINCT customer—
    // supplier purchase graph, each customer's number of length-2
    // paths c→s→c' (Σ over its suppliers of the supplier's degree).
    // Distinct edges bound every count by |C|·|S| at any scale (the
    // r10 lesson: bound per-row multiplicities BEFORE additive
    // artifacts). Two edge-keyed aggregation rounds — each round is
    // one join + one partial-agg shuffle, the exact shape an iterative
    // engine repeats to a fixpoint.
    Entry("q_path_centrality",
      (s, d) => {
        val edges = Tables.read(s, d, "orders")
          .select(col("o_orderkey"), col("o_custkey"))
          .join(li(s, d).select(col("l_orderkey"), col("l_suppkey")),
            col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").as("c"), col("l_suppkey").as("s"))
          .distinct()
        val supDeg = edges.groupBy("s").agg(count(lit(1)).as("deg"))
        edges.join(supDeg, "s")
          .groupBy(col("c").as("c_custkey"))
          .agg(sum(col("deg")).as("paths2"))
          .orderBy(col("paths2").desc, col("c_custkey"))
          .limit(20)
      },
      Some("""WITH edges AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
), deg AS (
  SELECT s, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY s)
SELECT c AS c_custkey, CAST(sum(deg) AS BIGINT) AS paths2
FROM edges JOIN deg USING (s)
GROUP BY c ORDER BY paths2 DESC, c_custkey LIMIT 20""")),
    // Numeric HISTOGRAM with fixed-width bins — the profiling
    // primitive behind every distribution dashboard: one codegen'd
    // floor((x-lo)/w) bin expression, one partial-agg shuffle of
    // (bin, count) pairs, never a sort. Identical floor arithmetic in
    // both engines; bin ids are exact integers.
    Entry("q_histogram",
      (s, d) => Tables.read(s, d, "orders")
        .select(floor((col("o_totalprice") - lit(0.0)) / lit(20000.0))
          .cast("long").as("bin"))
        .groupBy("bin").agg(count(lit(1)).as("cnt"))
        .orderBy("bin"),
      Some("""SELECT CAST(floor((o_totalprice - 0.0) / 20000.0) AS BIGINT)
  AS bin, count(*) AS cnt
FROM orders GROUP BY 1 ORDER BY bin""")),
    // A/B-test readout: per-variant (deterministic user_id hash split)
    // purchase conversion with the pooled two-proportion z statistic —
    // the experiment-analysis primitive. Conversions and exposure
    // counts are exact integers; the z arithmetic is ONE identical
    // left-to-right double chain on both engines, rounded to 6 places
    // (the quality-scores precedent for single-division metrics).
    Entry("q_abtest",
      (s, d) => {
        val ev = Tables.read(s, d, "events")
        val perUser = ev.groupBy(col("user_id"))
          .agg(max(when(col("event_type") === "purchase" &&
              col("value") > 100.0, 1L)
            .otherwise(0L)).as("converted"))
          // parity split, not a hash split: DuckDB lacks crc32, and the
          // md5-prefix hash splits already have their own entries
          .select(pmod(col("user_id"), lit(2)).as("variant"),
            col("converted"))
        val agg = perUser.groupBy("variant")
          .agg(count(lit(1)).as("n"), sum(col("converted")).as("conv"))
        val r = agg.orderBy("variant").collect()
        require(r.length == 2,
          s"q_abtest: expected both parity variants, got ${r.length}")
        val (n1, c1) = (r(0).getLong(1).toDouble, r(0).getLong(2).toDouble)
        val (n2, c2) = (r(1).getLong(1).toDouble, r(1).getLong(2).toDouble)
        val p = (c1 + c2) / (n1 + n2)
        // degenerate pooled rate (all or none convert) makes the z
        // denominator sqrt(0) — NaN/Inf whose hash behavior vs DuckDB
        // is engine-specific; fail loudly instead
        require(p > 0.0 && p < 1.0,
          f"q_abtest: degenerate pooled conversion rate $p%.6f")
        val zRaw = (c1 / n1 - c2 / n2) /
          math.sqrt(p * (1 - p) * (1 / n1 + 1 / n2))
        // HALF_UP (away from zero) matches DuckDB round(); Math.round
        // would differ on negative exact halves
        val z = BigDecimal(zRaw)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        import s.implicits._
        Seq((r(0).getLong(0), r(0).getLong(1), r(0).getLong(2), z),
          (r(1).getLong(0), r(1).getLong(1), r(1).getLong(2), z))
          .toDF("variant", "n", "conv", "z").orderBy("variant")
      },
      Some("""WITH pu AS (
  SELECT user_id,
    max(CASE WHEN event_type = 'purchase' AND value > 100.0
      THEN 1 ELSE 0 END) AS converted
  FROM events GROUP BY user_id
), v AS (
  SELECT user_id % 2 AS variant, converted FROM pu
), a AS (
  SELECT variant, CAST(count(*) AS BIGINT) AS n,
    CAST(sum(converted) AS BIGINT) AS conv
  FROM v GROUP BY variant
), s AS (
  SELECT
    (SELECT CAST(conv AS DOUBLE) FROM a WHERE variant = 0) AS c1,
    (SELECT CAST(n AS DOUBLE) FROM a WHERE variant = 0) AS n1,
    (SELECT CAST(conv AS DOUBLE) FROM a WHERE variant = 1) AS c2,
    (SELECT CAST(n AS DOUBLE) FROM a WHERE variant = 1) AS n2
), z AS (
  SELECT round((c1 / n1 - c2 / n2) /
    sqrt(((c1 + c2) / (n1 + n2)) * (1 - (c1 + c2) / (n1 + n2)) *
      (1 / n1 + 1 / n2)), 6) AS z
  FROM s
)
SELECT variant, n, conv, z FROM a, z ORDER BY variant""")),
    // DATA-QUALITY audit — the assertion suite every ingest pipeline
    // runs before publishing a table: duplicate-key count (one
    // distinct), referential orphans (one anti-join, broadcast when
    // the dimension is small), null-rate and domain-violation
    // count-ifs folded into ONE scan per table. Artifact = the audit
    // report itself, so the oracle also PINS the expected values
    // (zero orphans / dups on this data) rather than just the shape.
    Entry("q_dq_audit",
      (s, d) => {
        import s.implicits._
        val o = Tables.read(s, d, "orders")
        val c = Tables.read(s, d, "customer")
        val r = o.agg(count(lit(1)), countDistinct(col("o_orderkey")),
          sum(when(col("o_orderpriority").isNull, 1L).otherwise(0L)),
          sum(when(col("o_totalprice") <= 0.0, 1L).otherwise(0L))).head()
        val (nRows, nKeys, nullPrio, badPrice) =
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
        val orphans = o.select(col("o_custkey"))
          .join(c.select(col("c_custkey").as("o_custkey")),
            Seq("o_custkey"), "left_anti").count()
        Seq(
          ("dup_orderkeys", nRows - nKeys),
          ("null_priority", nullPrio),
          ("nonpositive_price", badPrice),
          ("orphan_custkeys", orphans),
          ("row_count", nRows))
          .toDF("dq_check", "n").orderBy("dq_check")
      },
      Some("""SELECT 'dup_orderkeys' AS dq_check,
  CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS n FROM orders
UNION ALL SELECT 'null_priority',
  CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)
    AS BIGINT) FROM orders
UNION ALL SELECT 'nonpositive_price',
  CAST(sum(CASE WHEN o_totalprice <= 0.0 THEN 1 ELSE 0 END) AS BIGINT)
  FROM orders
UNION ALL SELECT 'orphan_custkeys', CAST(count(*) AS BIGINT)
  FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
UNION ALL SELECT 'row_count', CAST(count(*) AS BIGINT) FROM orders
ORDER BY dq_check""")),
    // Rolling 7-day moving average per event type over the daily
    // series — the standard smoothing window every metrics dashboard
    // runs. ROWS 6 PRECEDING over the (type, day) aggregate: the
    // window moves over a days-sized frame (30 rows per type here),
    // never the event table; the division is one exact-long sum over
    // an exact-long count, identical IEEE on both engines.
    Entry("q_moving_avg",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val daily = Tables.read(s, d, "events")
          .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
          .agg(count(lit(1)).as("cnt"))
        val w = Window.partitionBy("event_type").orderBy("day")
          .rowsBetween(-6, Window.currentRow)
        daily.select(col("event_type"), col("day"), col("cnt"),
            (sum(col("cnt")).over(w).cast("double") /
              count(lit(1)).over(w)).as("ma7"))
          .orderBy("event_type", "day")
      },
      Some("""WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day, count(*) AS cnt
  FROM events GROUP BY 1, 2
)
SELECT event_type, day, cnt,
  CAST(sum(cnt) OVER w AS DOUBLE) / count(*) OVER w AS ma7
FROM daily
WINDOW w AS (PARTITION BY event_type ORDER BY day
  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
ORDER BY event_type, day""")),
    // Time-series RESAMPLE: per-user hourly activity re-gridded onto a
    // dense hour axis (sequence() from the user's first to last active
    // hour), missing hours FORWARD-FILLED from the last observation —
    // the gap-filling shape every metrics pipeline needs before
    // windowed math. The fill is a last(ignoreNulls) running window
    // per user (bounded by the user's own span, never table-wide);
    // filled counts are integers, so the per-user checksum is exact on
    // both engines.
    Entry("q_gap_fill",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val hourly = Tables.read(s, d, "events")
          .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("h"))
          .agg(count(lit(1)).as("cnt"))
        val grid = hourly.groupBy("user_id")
          .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
          .select(col("user_id"), explode(sequence(col("h0"), col("h1"),
            expr("INTERVAL 1 HOUR"))).as("h"))
        val w = Window.partitionBy("user_id").orderBy("h")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        grid.join(hourly, Seq("user_id", "h"), "left")
          .withColumn("filled", last(col("cnt"), ignoreNulls = true).over(w))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_hours"),
            count(col("cnt")).as("n_observed"),
            sum(col("filled")).as("filled_sum"))
          .orderBy("user_id")
      },
      Some("""WITH hourly AS (
  SELECT user_id, date_trunc('hour', ts) AS h, count(*) AS cnt
  FROM events GROUP BY 1, 2
), grid AS (
  SELECT user_id,
    unnest(generate_series(min(h), max(h), INTERVAL 1 HOUR)) AS h
  FROM hourly GROUP BY user_id
), filled AS (
  SELECT g.user_id, g.h, hourly.cnt,
    last_value(hourly.cnt IGNORE NULLS) OVER (PARTITION BY g.user_id
      ORDER BY g.h ROWS UNBOUNDED PRECEDING) AS f
  FROM grid g LEFT JOIN hourly USING (user_id, h)
)
SELECT user_id, count(*) AS n_hours,
  CAST(count(cnt) AS BIGINT) AS n_observed,
  CAST(sum(f) AS BIGINT) AS filled_sum
FROM filled GROUP BY user_id ORDER BY user_id""")),
    // Smoothed TARGET ENCODING (the ML-prep categorical encoder):
    // enc(cat) = (sum_y + m·global_mean) / (n + m), m = 10 — the
    // Bayesian-shrunk category mean that replaces one-hot columns at
    // high cardinality. Cross-engine float discipline: o_totalprice
    // sums are made EXACT first (floor(x·100 + 0.5) integer cents; a
    // raw double sum is order-dependent, and DuckDB CAST rounds where
    // Spark truncates — floor(+0.5) pins both), then one identical
    // double division produces the encoding.
    Entry("q_target_encode",
      (s, d) => {
        val o = Tables.read(s, d, "orders").select(col("o_orderpriority"),
          floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
        val g = o.agg((sum(col("cents")).cast("double") /
          count(lit(1))).as("gm")).head().getDouble(0)
        o.groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
          .select(col("o_orderpriority"), col("n"),
            ((col("sum_cents") + lit(10.0) * lit(g)) / (col("n") + 10))
              .as("enc_cents"))
          .orderBy("o_orderpriority")
      },
      Some("""WITH o AS (
  SELECT o_orderpriority,
    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
), g AS (
  SELECT CAST(sum(cents) AS DOUBLE) / count(*) AS gm FROM o
)
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
  (sum(cents) + 10.0 * gm) / (count(*) + 10) AS enc_cents
FROM o, g GROUP BY o_orderpriority, gm ORDER BY o_orderpriority""")),
    // Cohort retention triangle — the classic product-analytics
    // rollup: users are cohorted by their FIRST event month, and each
    // (cohort, months-since) cell counts the distinct users still
    // active. Two shuffles at any scale: the per-user min (partial agg
    // on user_id) and the cell aggregate; the cohort table is
    // users-sized and joins back on the same user_id key.
    Entry("q_cohort_retention",
      (s, d) => {
        val ev = Tables.read(s, d, "events")
          .select(col("user_id"), date_trunc("month", col("ts")).as("m"))
        val cohort = ev.groupBy("user_id")
          .agg(min(col("m")).as("cohort_month"))
        ev.join(cohort, "user_id")
          .groupBy(col("cohort_month"),
            months_between(col("m"), col("cohort_month")).cast("int")
              .as("months_since"))
          .agg(countDistinct(col("user_id")).as("n_active"))
          .orderBy("cohort_month", "months_since")
      },
      Some("""WITH ev AS (
  SELECT user_id, date_trunc('month', ts) AS m FROM events
), cohort AS (
  SELECT user_id, min(m) AS cohort_month FROM ev GROUP BY user_id
)
SELECT c.cohort_month,
  CAST(datediff('month', c.cohort_month, e.m) AS INTEGER) AS months_since,
  count(DISTINCT e.user_id) AS n_active
FROM ev e JOIN cohort c USING (user_id)
GROUP BY 1, 2 ORDER BY cohort_month, months_since""")),
    // Native session_window sessionization (30-min gap) — the batch
    // declarative twin of the transformWithState episode replay. Oracle
    // is the classic lag-gap + running-sum formulation; boundary (event
    // at exactly the gap) spec-pinned in OpsSpec.
    Entry("q_session_window",
      (s, d) => graft.ops.Relational.sessionize(
        Tables.read(s, d, "events"), "user_id", "ts", gapMinutes = 30),
      Some(graft.ops.Relational.sessionizeSql(
        "events", "user_id", "ts", gapMinutes = 30))),
    // Star-schema join: fact -> orders -> customer -> nation -> region
    // with hash-safe aggregates per region/nation. nation/region are
    // broadcast-hinted (bounded at 25/5 rows by the schema); customer
    // is left to the planner — under the auto-broadcast threshold it
    // broadcasts, past it Spark falls back to a shuffled join (an
    // explicit hint would instead force the broadcast at any size and
    // crash at large SF). Only the fact->orders join shuffles on the
    // key. The plan to look for: the dimension joins as
    // BroadcastHashJoins inside one whole-stage-codegen span.
    Entry("q_star_join",
      (s, d) => li(s, d)
        .join(Tables.read(s, d, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.read(s, d, "customer"),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.read(s, d, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.read(s, d, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity")).as("sum_qty"),
          countDistinct(col("o_custkey")).as("n_customers"))
        .orderBy("r_name", "n_name"),
      Some("SELECT r_name, n_name, count(*) AS n_items, " +
        "sum(l_quantity) AS sum_qty, " +
        "count(DISTINCT o_custkey) AS n_customers " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey " +
        "GROUP BY r_name, n_name ORDER BY r_name, n_name")),
    // CYCLIC join graph (the TPC-H Q5 shape): lineitem⋈orders⋈customer
    // and lineitem⋈supplier, with the cycle closed by the NON-KEY
    // equality c_nationkey = s_nationkey — local supplier revenue per
    // nation. This is the join topology that separates real optimizers
    // from left-deep chain planners: the nation equality is worthless
    // as a starting edge (it would cross-product customers×suppliers)
    // but prunes hard once both sides are keyed — exactly what
    // Catalyst's cost-based reordering + the selective date/region
    // filters must navigate. Revenue in EXACT integers: price cents ×
    // (100 − discount%), both from floor(x·100+0.5) — unit cents·pct,
    // envelope Σ cents·100 per group < 2⁶³ (rescale to cents·(100−d)
    // div 100 past ~9e16 rows). Dimensions broadcast; the only big
    // shuffles are the two fact-key joins.
    Entry("q_cyclic_join",
      (s, d) => li(s, d)
        .join(Tables.read(s, d, "orders")
            .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") < lit("1997-01-01").cast("timestamp")),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.read(s, d, "customer"),
          col("o_custkey") === col("c_custkey"))
        .join(Tables.read(s, d, "supplier"),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(Tables.read(s, d, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.read(s, d, "region"))
            .filter(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_items"),
          sum(floor(col("l_extendedprice") * 100 + 0.5).cast("long") *
            (lit(100L) - floor(col("l_discount") * 100 + 0.5).cast("long")))
            .as("revenue_num"))
        .orderBy("n_name"),
      Some("""SELECT n_name, count(*) AS n_items,
  CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) *
    (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))) AS BIGINT)
    AS revenue_num
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey AND r_name = 'ASIA'
GROUP BY n_name ORDER BY n_name""")),
    // Bucketed-storage co-located join: both sides materialized ONCE as
    // bucketBy+sortBy parquet tables on the join key (session-cached),
    // after which the join itself is exchange-free and sort-free — the
    // layout that amortizes repeated fact⋈dim joins at 100 TB. The
    // oracle is the plain declarative join over the original parquet:
    // the check is that the storage-layout rewrite preserves join
    // semantics exactly. (OpsSpec separately asserts the no-shuffle
    // plan shape.)
    Entry("q_bucketed_join",
      (s, d) => graft.ops.Bucketing.ordersPerNationBucketed(s, d),
      Some(graft.ops.Bucketing.ordersPerNationSql("orders", "customer"))),
    // Partition pruning over the date-partitioned events layout: the
    // week filter hits the scan as PartitionFilters (directory skip,
    // verified by the OpsSpec plan test), not a row filter. The oracle
    // runs the same predicate over the unpartitioned original — the
    // check is that the ingest-time layout changes I/O, not answers.
    Entry("q_partition_prune",
      (s, d) => graft.ops.Bucketing.datePartitionedEvents(s, d)
        .filter(col("dt").between(lit("2024-01-08"), lit("2024-01-14")))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy("event_type"),
      Some("SELECT event_type, count(*) AS n, " +
        "count(DISTINCT user_id) AS n_users FROM events " +
        "WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-08' " +
        "AND DATE '2024-01-14' GROUP BY event_type ORDER BY event_type")),
    // DYNAMIC partition pruning — the partition filter isn't known
    // until runtime: the selective dim side (active days for a rare
    // cohort) is evaluated first and its observed join keys prune the
    // fact scan's dt directories before fact tasks are planned. At
    // 100 TB this is the fact⋈dim shape (events ⋈ dim_date, sales ⋈
    // active_users) where static pruning can't help because the date
    // set lives in data, not in the query text. The entry HARD-FAILS
    // unless the optimizer planted the DynamicPruningSubquery on the
    // fact side; the oracle computes the same join over the
    // unpartitioned original, checking the runtime-pruned layout read
    // changes I/O, never answers.
    Entry("q_dpp_join",
      (s, d) => {
        val fact = graft.ops.Bucketing.datePartitionedEvents(s, d)
        val dim = Tables.read(s, d, "events")
          .filter(col("event_type") === "signup" &&
            pmod(col("user_id"), lit(199)) === 0)
          .select(to_date(col("ts")).as("active_dt")).distinct()
        val joined = fact.join(dim, col("dt") === col("active_dt"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(round(col("value") * 100).cast("long")).as("value_cents"))
          .orderBy("event_type")
        val planted = joined.queryExecution.optimizedPlan.exists(
          _.expressions.exists(_.exists {
            case _: org.apache.spark.sql.catalyst.expressions
                .DynamicPruningSubquery => true
            case _ => false
          }))
        require(planted, "q_dpp_join: no DynamicPruningSubquery on the " +
          "fact scan — dynamic partition pruning did not plant")
        joined
      },
      Some("SELECT event_type, count(*) AS n, " +
        "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) " +
        "AS value_cents FROM events WHERE CAST(ts AS DATE) IN (" +
        "SELECT DISTINCT CAST(ts AS DATE) FROM events " +
        "WHERE event_type = 'signup' AND user_id % 199 = 0) " +
        "GROUP BY event_type ORDER BY event_type")),
    // Z-order (Morton) clustering key over (custkey, order-day): the
    // multi-dimensional layout sort that single-column sorting can't
    // replace — LayoutSpec measures the file-level stats-pruning win;
    // this entry hash-checks the interleave arithmetic itself (pure
    // integer bit-spreading, identical in both engines) on a key slice.
    Entry("q_zorder",
      (s, d) => Tables.read(s, d, "orders")
        .filter(pmod(col("o_orderkey"), lit(97)) === 0)
        .select(col("o_orderkey"),
          graft.ops.Bucketing.zorder2(
            col("o_custkey"),
            datediff(col("o_orderdate").cast("date"),
              lit("1970-01-01").cast("date"))).as("zval"))
        .withColumn("zbucket", shiftright(col("zval"), 20))
        .orderBy("o_orderkey"),
      Some {
        val z = graft.ops.Bucketing.zorder2Sql("o_custkey",
          "date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))")
        s"SELECT o_orderkey, $z AS zval, ($z >> 20) AS zbucket " +
          "FROM orders WHERE o_orderkey % 97 = 0 ORDER BY o_orderkey"
      }),
    // Two-TABLE as-of join on the custom Catalyst operator (logical
    // node + strategy + exec — the whole-operator extension rung):
    // purchases against the latest prior-or-equal click per user. The
    // right side is deduped to one row per (user, ts) first so the
    // as-of match is deterministic on both engines; the oracle is
    // DuckDB's native ASOF LEFT JOIN (same inclusive >= semantics).
    Entry("q_asof_join_exec",
      (s, d) => {
        val ev = Tables.read(s, d, "events")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"))
        val clicks = ev.filter(col("event_type") === "click")
          .groupBy(col("user_id").as("q_user"), col("ts").as("q_ts"))
          .agg(max(col("event_id")).as("q_id"))
        graft.ops.Relational.asofJoinTables(purchases, clicks,
            "user_id", "q_user", "ts", "q_ts")
          .select(col("event_id"), col("user_id"), col("q_id"))
          .orderBy("event_id")
      },
      Some("""WITH p AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
c AS (
  SELECT user_id AS q_user, ts AS q_ts, max(event_id) AS q_id
  FROM events WHERE event_type = 'click' GROUP BY 1, 2)
SELECT p.event_id, p.user_id, c.q_id
FROM p ASOF LEFT JOIN c ON p.user_id = c.q_user AND p.ts >= c.q_ts
ORDER BY p.event_id""")),
    // POINT-IN-TIME multi-feature assembly — the feature-store pattern
    // that guards against training-serving skew: each label row
    // (purchase) is enriched with the AS-OF state of two feature
    // streams (last click's cents, time since last view) via two
    // chained invocations of the custom AsofJoin operator — per-key
    // ordered merges, no range-join explosion, each join one exchange
    // + sort per side at worst. Feature tables are pre-deduped per
    // (user, ts) so both engines resolve ties identically; all output
    // columns are exact integers (cents / µs gaps).
    Entry("q_pit_features",
      (s, d) => {
        val ev = Tables.read(s, d, "events")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"),
            floor(col("value") * 100 + 0.5).cast("long").as("cents"))
        val clicks = ev.filter(col("event_type") === "click")
          .groupBy(col("user_id").as("ck_user"), col("ts").as("ck_ts"))
          .agg(max(floor(col("value") * 100 + 0.5).cast("long"))
            .as("ck_cents"))
        val views = ev.filter(col("event_type") === "view")
          .groupBy(col("user_id").as("vw_user"), col("ts").as("vw_ts"))
          .agg(count(lit(1)).as("vw_n"))
        val f1 = org.apache.spark.sql.graft.AsofJoin.asofJoin(
          purchases, clicks, "user_id", "ck_user", "ts", "ck_ts")
        val f2 = org.apache.spark.sql.graft.AsofJoin.asofJoin(
          f1, views, "user_id", "vw_user", "ts", "vw_ts")
        f2.select(col("event_id"), col("user_id"), col("cents"),
            coalesce(col("ck_cents"), lit(-1L)).as("last_click_cents"),
            coalesce(unix_micros(col("ts")) - unix_micros(col("vw_ts")),
              lit(-1L)).as("view_gap_us"))
          .orderBy("event_id")
      },
      Some("""WITH p AS (
  SELECT event_id, user_id, ts,
    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'),
c AS (
  SELECT user_id AS ck_user, ts AS ck_ts,
    max(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS ck_cents
  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
v AS (
  SELECT user_id AS vw_user, ts AS vw_ts, count(*) AS vw_n
  FROM events WHERE event_type = 'view' GROUP BY 1, 2),
f1 AS (
  SELECT p.*, c.ck_cents
  FROM p ASOF LEFT JOIN c ON p.user_id = c.ck_user AND p.ts >= c.ck_ts),
f2 AS (
  SELECT f1.*, v.vw_ts
  FROM f1 ASOF LEFT JOIN v ON f1.user_id = v.vw_user AND f1.ts >= v.vw_ts)
SELECT event_id, user_id, cents,
  coalesce(ck_cents, -1) AS last_click_cents,
  coalesce(epoch_us(ts) - epoch_us(vw_ts), -1) AS view_gap_us
FROM f2 ORDER BY event_id""")),
    // RFM customer features — the classic feature-engineering rollup
    // (recency / frequency / monetary) every churn or LTV model starts
    // from: one orders scan, one customer-keyed partial-agg shuffle,
    // recency measured against the corpus max date (one scalar
    // pre-pass), money in exact integer cents.
    Entry("q_rfm_features",
      (s, d) => {
        val o = Tables.read(s, d, "orders")
        val refUs = o.agg(max(unix_micros(col("o_orderdate").cast("timestamp"))))
          .head().getLong(0)
        o.groupBy(col("o_custkey").as("c_custkey"))
          .agg(
            ((lit(refUs) - max(unix_micros(col("o_orderdate").cast("timestamp")))) /
              lit(86400000000L)).cast("long").as("recency_days"),
            count(lit(1)).as("frequency"),
            sum(floor(col("o_totalprice") * 100 + 0.5).cast("long"))
              .as("monetary_cents"))
          .orderBy("c_custkey")
      },
      Some("""WITH r AS (SELECT max(epoch_us(o_orderdate)) AS ref
  FROM orders)
SELECT o_custkey AS c_custkey,
  CAST((r.ref - max(epoch_us(o_orderdate))) // 86400000000 AS BIGINT)
    AS recency_days,
  count(*) AS frequency,
  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
    AS monetary_cents
FROM orders, r GROUP BY o_custkey, r.ref ORDER BY c_custkey""")),
    // Per-entity lag/rolling features — the windowed feature-
    // engineering primitive beside the as-of/RFM entries: for each
    // event, the previous value and the trailing-3 sum/min/max/mean
    // over the user's own history. All windows PARTITION BY user (the
    // per-entity frame — never global), values in exact integer cents,
    // and the rolling mean is exact integer FLOOR division (matching
    // DuckDB's //) so no float average crosses engines. The output is sliced to a
    // deterministic user cohort (pmod(user_id, 50) = 0): the filter is
    // on the partition key, so Catalyst pushes it below the window and
    // the sliced plan scans only cohort rows — the artifact stays
    // bounded while the operator shape is the full per-row feature
    // materialization a feature store runs corpus-wide.
    Entry("q_lag_features",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        val w3 = w.rowsBetween(-2, 0)
        Tables.read(s, d, "events")
          .filter(pmod(col("user_id"), lit(50)) === 0)
          .select(col("user_id"), col("event_id"), col("ts"),
            floor(col("value") * 100 + 0.5).cast("long").as("cents"))
          .withColumn("lag1_cents", lag(col("cents"), 1).over(w))
          .withColumn("roll_n", count(lit(1)).over(w3))
          .withColumn("roll_sum", sum(col("cents")).over(w3))
          .withColumn("roll_min", min(col("cents")).over(w3))
          .withColumn("roll_max", max(col("cents")).over(w3))
          // Floor division (pmod idiom, see q_bootstrap_ci): DuckDB
          // `//` floors while Spark `div` truncates — they diverge on
          // the negative sums a negative-value event window produces.
          .withColumn("roll_mean",
            expr("(roll_sum - pmod(roll_sum, roll_n)) div roll_n"))
          .select(col("user_id"), col("event_id"), col("cents"),
            col("lag1_cents"), col("roll_n"), col("roll_sum"),
            col("roll_min"), col("roll_max"), col("roll_mean"))
          .orderBy("user_id", "event_id")
      },
      Some("""SELECT user_id, event_id, cents,
  lag(cents) OVER w AS lag1_cents,
  count(*) OVER w3 AS roll_n,
  CAST(sum(cents) OVER w3 AS BIGINT) AS roll_sum,
  min(cents) OVER w3 AS roll_min,
  max(cents) OVER w3 AS roll_max,
  CAST(sum(cents) OVER w3 AS BIGINT) // count(*) OVER w3 AS roll_mean
FROM (
  SELECT user_id, event_id, ts,
    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events WHERE user_id % 50 = 0)
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
  w3 AS (PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
ORDER BY user_id, event_id""")),
    // Both as-of physical strategies, FORCED, over the identical join,
    // as separate bench entries — so BENCH_r*.json carries a measured
    // broadcast-vs-merge number (the r7 stats-driven strategy choice
    // was spec-asserted but never timed side by side). Each entry
    // hard-fails if its forced exec didn't plant (DPP-entry precedent:
    // no vacuous pass), and both reduce to the same integer aggregate
    // the DuckDB ASOF oracle checks — strategy choice must not change
    // results. Broadcast: the big probe side stays shuffle-free (the
    // 100 TB win); merge: both sides hash-exchange + sort.
    Entry("q_asof_bcast_bench",
      (s, d) => asofStrategyAgg(s, d, broadcast = true),
      Some(asofStrategyAggSql)),
    Entry("q_asof_merge_bench",
      (s, d) => asofStrategyAgg(s, d, broadcast = false),
      Some(asofStrategyAggSql)),
    // Toleranced as-of on the same operator: matches staler than
    // 10 minutes are nulled — the "max staleness" contract every
    // point-in-time feature join carries in production (a quote from
    // last week must not price today's trade). Tolerance filtering
    // happens INSIDE the O(1) merge; the oracle applies the same
    // window to DuckDB's native ASOF result.
    Entry("q_asof_tolerance",
      (s, d) => {
        val ev = Tables.read(s, d, "events")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"))
        val clicks = ev.filter(col("event_type") === "click")
          .groupBy(col("user_id").as("q_user"), col("ts").as("q_ts"))
          .agg(max(col("event_id")).as("q_id"))
        graft.ops.Relational.asofJoinTables(purchases, clicks,
            "user_id", "q_user", "ts", "q_ts",
            direction = "backward", toleranceUs = 10L * 60 * 1000000)
          .select(col("event_id"), col("user_id"), col("q_id"))
          .orderBy("event_id")
      },
      Some("""WITH p AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
c AS (
  SELECT user_id AS q_user, ts AS q_ts, max(event_id) AS q_id
  FROM events WHERE event_type = 'click' GROUP BY 1, 2)
SELECT p.event_id, p.user_id,
  CASE WHEN p.ts - c.q_ts <= INTERVAL 10 MINUTE THEN c.q_id END AS q_id
FROM p ASOF LEFT JOIN c ON p.user_id = c.q_user AND p.ts >= c.q_ts
ORDER BY p.event_id""")),
    // Nearest-direction as-of (pandas merge_asof nearest): closer of
    // the backward/forward candidates, ties backward. The merge still
    // holds O(1) state — the forward candidate is simply the
    // not-yet-consumed right head, never copied. DuckDB has no native
    // nearest, so the oracle composes it from two ASOFs: the natural
    // backward one plus a forward one via negated epoch (ASOF's >= on
    // -ts IS the smallest ts >= t), then picks the closer per row —
    // structurally independent arithmetic agreeing with the custom
    // operator's single-pass merge.
    Entry("q_asof_nearest",
      (s, d) => {
        val ev = Tables.read(s, d, "events")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"))
        val clicks = ev.filter(col("event_type") === "click")
          .groupBy(col("user_id").as("q_user"), col("ts").as("q_ts"))
          .agg(max(col("event_id")).as("q_id"))
        graft.ops.Relational.asofJoinTables(purchases, clicks,
            "user_id", "q_user", "ts", "q_ts", direction = "nearest")
          .select(col("event_id"), col("user_id"), col("q_id"))
          .orderBy("event_id")
      },
      Some("""WITH p AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
c AS (
  SELECT user_id AS q_user, ts AS q_ts, max(event_id) AS q_id
  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
b AS (
  SELECT p.event_id, c.q_id AS b_id, c.q_ts AS b_ts
  FROM p ASOF LEFT JOIN c ON p.user_id = c.q_user AND p.ts >= c.q_ts),
cn AS (SELECT q_user, -epoch_us(q_ts) AS nts, q_id, q_ts FROM c),
pn AS (SELECT event_id, user_id, ts, -epoch_us(ts) AS nts FROM p),
f AS (
  SELECT pn.event_id, cn.q_id AS f_id, cn.q_ts AS f_ts
  FROM pn ASOF LEFT JOIN cn ON pn.user_id = cn.q_user AND pn.nts >= cn.nts)
SELECT p.event_id, p.user_id,
  CASE WHEN b_ts IS NOT NULL AND (f_ts IS NULL OR
    epoch_us(p.ts) - epoch_us(b_ts) <= epoch_us(f_ts) - epoch_us(p.ts))
    THEN b_id ELSE f_id END AS q_id
FROM p JOIN b USING (event_id) JOIN f USING (event_id)
ORDER BY p.event_id""")),
    // As-of join (point-in-time): each purchase matched to the user's
    // most recent PRIOR click via a running window max — the standard
    // Spark-first formulation (one shuffle on user_id, per-partition
    // sort, no range join explosion). Ordering ties break on event_id;
    // the artifact is count-based plus a ms-truncated max timestamp so
    // the nanos-vs-micros parquet difference cannot leak in.
    Entry("q_asof_join",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        Tables.read(s, d, "events")
          .withColumn("last_click_ts",
            max(when(col("event_type") === "click", col("ts"))).over(w))
          .filter(col("event_type") === "purchase")
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_purchases"),
            count(col("last_click_ts")).as("n_with_prior"),
            date_trunc("millisecond", max(col("last_click_ts")))
              .as("latest_prior_click"))
          .orderBy("user_id")
      },
      Some("""WITH e AS (
  SELECT user_id, ts, event_id, event_type,
         max(CASE WHEN event_type = 'click' THEN ts END) OVER
           (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_ts
  FROM events)
SELECT user_id, count(*) AS n_purchases,
       count(last_click_ts) AS n_with_prior,
       date_trunc('millisecond', max(last_click_ts)) AS latest_prior_click
FROM e WHERE event_type = 'purchase'
GROUP BY user_id ORDER BY user_id""")),
    // Semi-structured extraction: pull a typed field out of a JSON
    // payload column and aggregate it — the log-enrichment shape every
    // event pipeline runs. get_json_object is a codegen'd map-side
    // expression; the whole plan is one scan + one partial-agg shuffle.
    Entry("q_json_extract",
      (s, d) => Tables.read(s, d, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy("event_type"),
      // TRY_CAST, not CAST: Spark's cast('long') yields null on a
      // non-integral/malformed payload and the aggregate proceeds;
      // DuckDB CAST would throw instead of matching that.
      // CAST(sum(..) AS BIGINT): DuckDB widens sum(BIGINT) to HUGEINT,
      // which hash-mismatches the driver's canonicalization even though
      // the values are equal (round-5 red row).
      Some("SELECT event_type, count(*) AS n, " +
        "CAST(sum(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k, " +
        "min(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k, " +
        "max(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k " +
        "FROM events GROUP BY event_type ORDER BY event_type")),
    // PII scrubbing over the JSON payload (emails / IPv4s / digit runs
    // -> placeholders): per-type redaction-candidate counts plus the
    // distinct-payload count after scrubbing (scrub collapses the
    // numeric payloads into one shape). Pure map-side regexp chain.
    Entry("q_pii_scrub",
      (s, d) => {
        val aggCols = TextOps.piiCounts(col("props")).map { case (n, c) =>
          sum(c).as(n)
        } ++ Seq(
          countDistinct(md5(TextOps.piiScrub(col("props"))))
            .as("n_scrubbed_shapes"),
          count(lit(1)).as("n"))
        Tables.read(s, d, "events")
          .groupBy(col("event_type"))
          .agg(aggCols.head, aggCols.tail: _*)
          .orderBy("event_type")
      },
      Some {
        // CAST: DuckDB sum(int) -> HUGEINT would hash-mismatch the driver.
        val counts = TextOps.piiCountsSql("props").map { case (n, e) =>
          s"CAST(sum($e) AS BIGINT) AS $n"
        }.mkString(", ")
        s"SELECT event_type, $counts, " +
          s"count(DISTINCT md5(${TextOps.piiScrubSql("props")})) " +
          "AS n_scrubbed_shapes, count(*) AS n " +
          "FROM events GROUP BY event_type ORDER BY event_type"
      }),
    // k-anonymity census (Sweeney) — the privacy audit a training-data
    // release runs over its quasi-identifiers: equivalence classes on
    // (nation, segment, account-balance band), then the class-size
    // histogram. min(class_size) in row 1 IS the dataset's k; the rows
    // below the release threshold are the suppression budget. Two
    // cascaded aggregations, second keyed on the first's count — the
    // same integer-exact shape as q_group_size_hist. The bal band
    // groups on floor(x/1000): identical IEEE division both engines,
    // and the band never reaches the output (float-rule safe).
    Entry("q_k_anonymity",
      (s, d) => Tables.read(s, d, "customer")
        .groupBy(col("c_nationkey"), col("c_mktsegment"),
          floor(col("c_acctbal") / 1000).as("bal_band"))
        .agg(count(lit(1)).as("class_size"))
        .groupBy(col("class_size"))
        .agg(count(lit(1)).as("n_classes"),
          sum(col("class_size")).as("n_rows"))
        .orderBy("class_size"),
      Some("""WITH classes AS (
  SELECT c_nationkey, c_mktsegment, floor(c_acctbal / 1000) AS bal_band,
    count(*) AS class_size
  FROM customer GROUP BY 1, 2, 3)
SELECT class_size, count(*) AS n_classes,
  CAST(sum(class_size) AS BIGINT) AS n_rows
FROM classes GROUP BY class_size ORDER BY class_size""")),
    // l-diversity audit — k-anonymity's sibling: a QI class with many
    // rows is still re-identifying if the SENSITIVE attribute is
    // uniform inside it. QI = (nation, segment); sensitive = the
    // account-balance band. Census = histogram of per-class distinct
    // sensitive values; min(l) in row 1 IS the dataset's l. Same
    // two-cascaded-aggregation shape (the first with a distinct on
    // the sensitive column — Spark plans the standard two-phase
    // distinct-aggregate expand, still one logical pass).
    Entry("q_l_diversity",
      (s, d) => Tables.read(s, d, "customer")
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(countDistinct(floor(col("c_acctbal") / 1000)).as("l"),
          count(lit(1)).as("class_size"))
        .groupBy(col("l"))
        .agg(count(lit(1)).as("n_classes"),
          sum(col("class_size")).as("n_rows"))
        .orderBy("l"),
      Some("""WITH classes AS (
  SELECT c_nationkey, c_mktsegment,
    count(DISTINCT floor(c_acctbal / 1000)) AS l,
    count(*) AS class_size
  FROM customer GROUP BY 1, 2)
SELECT l, count(*) AS n_classes,
  CAST(sum(class_size) AS BIGINT) AS n_rows
FROM classes GROUP BY l ORDER BY l""")),
    // Distributed triangle counting (node-iterator with id-oriented
    // edges) over the part co-occurrence graph: parts bought together
    // in one order (returned lines only — the filter keeps the graph
    // sparse AND pushes to the scan). The canonical 100 TB shape:
    // edge gen is per-order local (order size is spec-bounded, so pair
    // fan-out never grows with SF), edges orient u<v so each triangle
    // is built exactly once from its lowest vertex, and the wedge join
    // keys on that vertex (degree-ordered orientation is the known
    // refinement when degree skew appears; id order suffices here —
    // 644k wedges at sf0.1, measured). One UNION of three aggregates =
    // ONE action (the q_fuzzy_join single-pass lesson).
    Entry("q_triangle_count",
      (s, d) => {
        val os = coocBaskets(s, d).withColumnRenamed("p", "s")
        val edges = coocEdges(s, d)
        val tris = edges.as("e1").join(edges.as("e2"),
            col("e1.u") === col("e2.u") && col("e1.v") < col("e2.v"))
          .select(col("e1.v").as("wv"), col("e2.v").as("ww"))
          .join(edges.as("e3"),
            col("wv") === col("e3.u") && col("ww") === col("e3.v"))
        os.agg(countDistinct(col("s")).as("value"))
          .select(lit("n_nodes").as("metric"), col("value"))
          .unionByName(edges.agg(count(lit(1)).as("value"))
            .select(lit("n_edges").as("metric"), col("value")))
          .unionByName(tris.agg(count(lit(1)).as("value"))
            .select(lit("n_triangles").as("metric"), col("value")))
          .orderBy("metric")
      },
      Some("""WITH os AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS s
  FROM lineitem WHERE l_returnflag = 'R'),
edges AS (
  SELECT DISTINCT a.s AS u, b.s AS v
  FROM os a JOIN os b ON a.ok = b.ok AND a.s < b.s)
SELECT 'n_nodes' AS metric, count(DISTINCT s) AS value FROM os
UNION ALL SELECT 'n_edges', count(*) FROM edges
UNION ALL SELECT 'n_triangles', count(*)
  FROM edges e1
  JOIN edges e2 ON e1.u = e2.u AND e1.v < e2.v
  JOIN edges e3 ON e3.u = e1.v AND e3.v = e2.v
ORDER BY metric""")),
    // Pareto skyline (minimize price, maximize quantity, per flag) —
    // the classic multi-criteria operator. The scale lever is the
    // REDUCTION before the skyline: for a fixed quantity only the
    // minimum price can survive dominance, so one (flag, qty) shuffle
    // collapses the corpus to <= |qty domain| rows per group (~50)
    // BEFORE the quadratic-looking dominance test, which then runs as
    // a running-max window over a tiny sorted set. The oracle is the
    // INDEPENDENT formulation — NOT EXISTS dominance over the same
    // reduction — so the window rewrite is checked against the
    // definition, not itself. min(price) is selection, not arithmetic:
    // parquet doubles pass through both engines bit-identically.
    Entry("q_skyline",
      (s, d) => {
        val reduced = li(s, d)
          .groupBy(col("l_returnflag"), col("l_quantity"))
          .agg(min(col("l_extendedprice")).as("min_price"))
        val w = Window.partitionBy("l_returnflag")
          .orderBy(col("min_price").asc, col("l_quantity").desc)
          .rowsBetween(Window.unboundedPreceding, -1)
        reduced.withColumn("prevmax", max(col("l_quantity")).over(w))
          .filter(col("prevmax").isNull ||
            col("l_quantity") > col("prevmax"))
          .select(col("l_returnflag"), col("l_quantity"), col("min_price"))
          .orderBy("l_returnflag", "l_quantity")
      },
      Some("""WITH reduced AS (
  SELECT l_returnflag, l_quantity, min(l_extendedprice) AS min_price
  FROM lineitem GROUP BY 1, 2)
SELECT l_returnflag, l_quantity, min_price
FROM reduced r
WHERE NOT EXISTS (
  SELECT 1 FROM reduced o
  WHERE o.l_returnflag = r.l_returnflag
    AND o.min_price <= r.min_price AND o.l_quantity >= r.l_quantity
    AND (o.min_price < r.min_price OR o.l_quantity > r.l_quantity))
ORDER BY l_returnflag, l_quantity""")),
    // Bounded-depth distributed BFS (3 hops) over the undirected part
    // co-occurrence graph, from the ~1%-of-parts seed set: per round
    // ONE frontier->edges join plus an anti join against the visited
    // set — the iterative traversal shape (label propagation's cousin;
    // the connected-components entries iterate the same way). Depth is
    // FIXED, so the DuckDB oracle is the same search unrolled — no
    // recursive CTE (the 100x audit lesson). Artifact = hop-distance
    // census; -1 = unreached.
    Entry("q_bfs_hops",
      (s, d) => {
        val os = coocBaskets(s, d).withColumnRenamed("p", "s")
        val dir = coocEdges(s, d)
        val und = dir.unionByName(dir.select(col("v").as("u"),
          col("u").as("v"))).distinct()
        val nodes = os.select(col("s")).distinct()
        // und is referenced once per round; checkpoint it once so the
        // base co-occurrence self-join is not re-derived three times
        // (the per-round visited state truncates through iterate —
        // each round references it twice, frontier + anti join).
        val undC = und.localCheckpoint(false)
        val seed = nodes.filter(pmod(col("s"), lit(100)) === 0)
          .select(col("s").as("n"), lit(0).as("dist"))
        val visited = graft.ops.Iterate.iterateIndexed(seed, 3,
          reliableEvery = reliableIterateRounds(s),
          storageLevel = iterateStorageLevel) {
          (cur, i) =>
            val frontier = cur.filter(col("dist") === i - 1)
            val next = frontier.join(undC, col("n") === col("u"))
              .select(col("v").as("n")).distinct()
              .join(cur.select("n"), Seq("n"), "left_anti")
              .withColumn("dist", lit(i))
            cur.unionByName(next)
        }
        nodes.join(visited, col("s") === col("n"), "left_outer")
          .select(coalesce(col("dist"), lit(-1)).as("dist"))
          .groupBy("dist").agg(count(lit(1)).as("n_nodes"))
          .orderBy("dist")
      },
      Some("""WITH os AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS s
  FROM lineitem WHERE l_returnflag = 'R'),
dir AS (
  SELECT DISTINCT a.s AS u, b.s AS v
  FROM os a JOIN os b ON a.ok = b.ok AND a.s < b.s),
und AS (SELECT u, v FROM dir UNION SELECT v, u FROM dir),
nodes AS (SELECT DISTINCT s FROM os),
d0 AS (SELECT s AS n FROM nodes WHERE s % 100 = 0),
d1 AS (SELECT DISTINCT v AS n FROM und JOIN d0 ON und.u = d0.n
       WHERE v NOT IN (SELECT n FROM d0)),
d2 AS (SELECT DISTINCT v AS n FROM und JOIN d1 ON und.u = d1.n
       WHERE v NOT IN (SELECT n FROM d0 UNION ALL SELECT n FROM d1)),
d3 AS (SELECT DISTINCT v AS n FROM und JOIN d2 ON und.u = d2.n
       WHERE v NOT IN (SELECT n FROM d0 UNION ALL SELECT n FROM d1
                       UNION ALL SELECT n FROM d2)),
dist AS (
  SELECT s, coalesce(
    CASE WHEN s IN (SELECT n FROM d0) THEN 0
         WHEN s IN (SELECT n FROM d1) THEN 1
         WHEN s IN (SELECT n FROM d2) THEN 2
         WHEN s IN (SELECT n FROM d3) THEN 3 END, -1) AS dist
  FROM nodes)
SELECT CAST(dist AS INT) AS dist, count(*) AS n_nodes
FROM dist GROUP BY dist ORDER BY dist""")),
    // Winsorization over EXACT per-group rank-walk quantiles — the
    // robust-statistics cleaning step (clamp to [P5, P95] before
    // aggregating). The quantile pass reuses the q_group_quantiles
    // shape: one (group, value) histogram shuffle, a per-group
    // cumulative window over DISTINCT values (value-domain-sized, not
    // row-sized), and a group-keyed min — then one broadcast-sized
    // join hands each row its clamp bounds. Integer cents only; the
    // 0.05·(n-1) index arithmetic is the same single IEEE multiply on
    // both engines (the quantilesSql precedent).
    Entry("q_winsorize",
      (s, d) => {
        val ev = Tables.read(s, d, "events")
          .select(col("event_type").as("g"),
            floor(col("value") * 100 + 0.5).cast("long").as("cents"))
        val f = ev.groupBy(col("g"), col("cents"))
          .agg(count(lit(1)).as("c"))
        val wcum = Window.partitionBy("g").orderBy("cents")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = f.withColumn("cum", sum(col("c")).over(wcum))
        val tot = f.groupBy(col("g")).agg(sum(col("c")).as("n"))
        def qv(p: Double) = min(when(col("cum") >=
          floor(lit(p) * (col("n") - 1)).cast("long") + 1, col("cents")))
        val qs = cum.join(tot, "g").groupBy(col("g"))
          .agg(qv(0.05).as("q05"), qv(0.95).as("q95"))
        ev.join(qs, "g")
          .groupBy(col("g").as("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("cents")).as("sum_cents"),
            sum(greatest(least(col("cents"), col("q95")), col("q05")))
              .as("sum_winsorized"),
            sum((col("cents") < col("q05")).cast("long")).as("n_low"),
            sum((col("cents") > col("q95")).cast("long")).as("n_high"))
          .orderBy("event_type")
      },
      Some("""WITH e AS (
  SELECT event_type AS g,
    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events),
f AS (SELECT g, cents, count(*) AS c FROM e GROUP BY 1, 2),
cum AS (
  SELECT g, cents, c, sum(c) OVER (PARTITION BY g ORDER BY cents
    ROWS UNBOUNDED PRECEDING) AS cum FROM f),
tot AS (SELECT g, sum(c) AS n FROM f GROUP BY g),
qs AS (
  SELECT g,
    min(CASE WHEN cum >= CAST(floor(0.05 * (n - 1)) AS BIGINT) + 1
      THEN cents END) AS q05,
    min(CASE WHEN cum >= CAST(floor(0.95 * (n - 1)) AS BIGINT) + 1
      THEN cents END) AS q95
  FROM cum JOIN tot USING (g) GROUP BY g)
SELECT e.g AS event_type, count(*) AS n,
  CAST(sum(cents) AS BIGINT) AS sum_cents,
  CAST(sum(greatest(least(cents, q95), q05)) AS BIGINT)
    AS sum_winsorized,
  CAST(sum(CASE WHEN cents < q05 THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
  CAST(sum(CASE WHEN cents > q95 THEN 1 ELSE 0 END) AS BIGINT) AS n_high
FROM e JOIN qs ON e.g = qs.g
GROUP BY 1 ORDER BY event_type""")),
    // Bounded-round k-core peeling (k=2, 4 rounds) on the R-filtered
    // part co-occurrence graph — the iterative-refinement cousin of
    // the BFS census: each round computes degrees (one (node) shuffle
    // over the current edge list), keeps nodes with deg >= 2, and
    // semi-joins the edge list down to survivors. Round count is
    // FIXED so the DuckDB oracle is the same peel unrolled (the
    // no-recursive-CTE audit rule); the artifact is the final core's
    // degree histogram — edge-count and node-count both derive from
    // it, and any missed peel changes it. The loop runs through
    // Iterate.iterate: each round references the previous edge list
    // ~5x (degree union twice inside `keep`, which both semi-joins
    // embed, plus the probe side), so an untruncated 4-round plan
    // carries O(5^4) copies of the base self-join — the r11 driver
    // measured that plan at 78.5 s; truncated, the entry runs with
    // its siblings in low single digits.
    Entry("q_kcore_peel",
      (s, d) => {
        val e0 = coocEdges(s, d)
        val edges = graft.ops.Iterate.iterate(e0, 4,
          reliableEvery = reliableIterateRounds(s),
          storageLevel = iterateStorageLevel) { cur =>
          val keep = cur.select(col("u").as("n"))
            .unionByName(cur.select(col("v").as("n")))
            .groupBy(col("n")).agg(count(lit(1)).as("deg"))
            .filter(col("deg") >= 2).select(col("n"))
          cur
            .join(keep.select(col("n").as("ku")),
              col("u") === col("ku"), "left_semi")
            .join(keep.select(col("n").as("kv")),
              col("v") === col("kv"), "left_semi")
        }
        edges.select(col("u").as("n"))
          .unionByName(edges.select(col("v").as("n")))
          .groupBy(col("n")).agg(count(lit(1)).as("deg"))
          .groupBy(col("deg")).agg(count(lit(1)).as("n_nodes"))
          .orderBy("deg")
      },
      Some("""WITH os AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
  FROM lineitem WHERE l_returnflag = 'R'),
e0 AS (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM os a JOIN os b ON a.ok = b.ok AND a.p < b.p),
k1 AS (SELECT n FROM (SELECT u AS n FROM e0 UNION ALL SELECT v FROM e0)
  GROUP BY n HAVING count(*) >= 2),
e1 AS (SELECT u, v FROM e0
  WHERE u IN (SELECT n FROM k1) AND v IN (SELECT n FROM k1)),
k2 AS (SELECT n FROM (SELECT u AS n FROM e1 UNION ALL SELECT v FROM e1)
  GROUP BY n HAVING count(*) >= 2),
e2 AS (SELECT u, v FROM e1
  WHERE u IN (SELECT n FROM k2) AND v IN (SELECT n FROM k2)),
k3 AS (SELECT n FROM (SELECT u AS n FROM e2 UNION ALL SELECT v FROM e2)
  GROUP BY n HAVING count(*) >= 2),
e3 AS (SELECT u, v FROM e2
  WHERE u IN (SELECT n FROM k3) AND v IN (SELECT n FROM k3)),
k4 AS (SELECT n FROM (SELECT u AS n FROM e3 UNION ALL SELECT v FROM e3)
  GROUP BY n HAVING count(*) >= 2),
e4 AS (SELECT u, v FROM e3
  WHERE u IN (SELECT n FROM k4) AND v IN (SELECT n FROM k4))
SELECT deg, count(*) AS n_nodes FROM (
  SELECT n, count(*) AS deg FROM (
    SELECT u AS n FROM e4 UNION ALL SELECT v FROM e4) GROUP BY n)
GROUP BY deg ORDER BY deg""")),
    // Bounded-round PageRank in EXACT integer fixed-point — the
    // canonical iterative graph centrality, made engine-portable: ranks
    // are scaled Longs (init 1_000_000), each round is
    // r'_u = 150000 + (85 · Σ_{v→u} (r_v div deg_v)) div 100 with
    // INTEGER division on both engines (Spark `div` ≡ DuckDB `//` for
    // non-negative operands), so no float summation order can diverge.
    // Round count FIXED (3) → the oracle is the same recurrence
    // unrolled. The loop runs through Iterate.iterate; the
    // (u, v, deg_v) contribution edges are checkpointed ONCE and each
    // round is one edge⋈rank join + one u-keyed sum — the per-round
    // cost at 100 TB is exactly two shuffles, plan size constant.
    Entry("q_pagerank",
      (s, d) => {
        val dir = coocEdges(s, d)
        val und = dir.unionByName(dir.select(col("v").as("u"),
          col("u").as("v")))
        val deg = und.groupBy(col("v").as("dv"))
          .agg(count(lit(1)).as("deg"))
        val edges = und.join(deg, col("v") === col("dv"))
          .select(col("u"), col("v"), col("deg"))
          .localCheckpoint(false)
        val init = und.select(col("u").as("n")).distinct()
          .withColumn("r", lit(1000000L))
        val ranks = graft.ops.Iterate.iterate(init, 3,
          reliableEvery = reliableIterateRounds(s),
          storageLevel = iterateStorageLevel) { cur =>
          edges.join(cur, col("v") === col("n"))
            .groupBy(col("u"))
            .agg(sum(expr("r div deg")).as("contrib"))
            .select(col("u").as("n"),
              (lit(150000L) + expr("(85 * contrib) div 100")).as("r"))
        }
        ranks.agg(count(lit(1)).as("n_nodes"),
            sum(col("r")).as("rank_sum"),
            min(col("r")).as("min_rank"),
            max(col("r")).as("max_rank"),
            sum(col("r") * pmod(col("n"), lit(1009L))).as("checksum"))
          .select(col("n_nodes"), col("rank_sum"), col("min_rank"),
            col("max_rank"), col("checksum"))
      },
      Some("""WITH os AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
  FROM lineitem WHERE l_returnflag = 'R'),
dir AS (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM os a JOIN os b ON a.ok = b.ok AND a.p < b.p),
und AS (SELECT u, v FROM dir UNION ALL SELECT v, u FROM dir),
deg AS (SELECT v, count(*) AS deg FROM und GROUP BY v),
e AS (SELECT und.u, und.v, deg.deg FROM und JOIN deg USING (v)),
r0 AS (SELECT DISTINCT u AS n, CAST(1000000 AS BIGINT) AS r FROM und),
r1 AS (SELECT e.u AS n, 150000 + (85 * sum(r0.r // e.deg)) // 100 AS r
       FROM e JOIN r0 ON e.v = r0.n GROUP BY e.u),
r2 AS (SELECT e.u AS n, 150000 + (85 * sum(r1.r // e.deg)) // 100 AS r
       FROM e JOIN r1 ON e.v = r1.n GROUP BY e.u),
r3 AS (SELECT e.u AS n, 150000 + (85 * sum(r2.r // e.deg)) // 100 AS r
       FROM e JOIN r2 ON e.v = r2.n GROUP BY e.u)
SELECT CAST(count(*) AS BIGINT) AS n_nodes,
  CAST(sum(r) AS BIGINT) AS rank_sum,
  CAST(min(r) AS BIGINT) AS min_rank,
  CAST(max(r) AS BIGINT) AS max_rank,
  CAST(sum(r * (n % 1009)) AS BIGINT) AS checksum
FROM r3""")),
    // HITS hubs & authorities (Kleinberg) in the same exact integer
    // fixed-point discipline as q_pagerank: 2 rounds of
    // a(v) = Σ_{u→v} h(u), h(u) = Σ_{u→v} a(v), each renormalized by
    // INTEGER division x div max(Σx div 10⁶, 1) — scale-free cross-
    // engine arithmetic, no float L2 norm to diverge on. Round count
    // FIXED → the oracle is the recurrence unrolled. Scale shape: the
    // directed edge list is checkpointed ONCE and every round is one
    // edge⋈score join + one keyed sum (two shuffles) + a one-row
    // broadcast for the normalizer; plan size constant per round via
    // per-stage lineage truncation. Overflow envelope: scores stay
    // ≤ ~2·10⁶ post-normalization, so raw sums need E·2e6 < 2⁶³ —
    // E < 4.6e12 edges; past that rescale the seed by 2^k.
    Entry("q_hits",
      (s, d) => {
        val dir = coocEdges(s, d)
        val h0 = dir.select(col("u").as("n"))
          .unionByName(dir.select(col("v").as("n"))).distinct()
          .withColumn("x", lit(1000000L))
        def normalize(raw: DataFrame): DataFrame = raw
          .crossJoin(broadcast(raw.agg(sum(col("x")).as("s"))))
          .select(col("n"),
            expr("x div greatest(s div 1000000, 1)").as("x"))
          .localCheckpoint(false)
        def auth(h: DataFrame): DataFrame = normalize(
          dir.join(h, col("u") === col("n"))
            .groupBy(col("v")).agg(sum(col("x")).as("x"))
            .select(col("v").as("n"), col("x")))
        def hub(a: DataFrame): DataFrame = normalize(
          dir.join(a, col("v") === col("n"))
            .groupBy(col("u")).agg(sum(col("x")).as("x"))
            .select(col("u").as("n"), col("x")))
        val a1 = auth(h0); val h1 = hub(a1)
        val a2 = auth(h1); val h2 = hub(a2)
        def census(df: DataFrame, side: String) = df.agg(
            count(lit(1)).as("n_nodes"), sum(col("x")).as("val_sum"),
            min(col("x")).as("val_min"), max(col("x")).as("val_max"),
            sum(col("x") * pmod(col("n"), lit(1009L))).as("checksum"))
          .select(lit(side).as("side"), col("n_nodes"), col("val_sum"),
            col("val_min"), col("val_max"), col("checksum"))
        census(a2, "auth").unionByName(census(h2, "hub")).orderBy("side")
      },
      Some("""WITH os AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
  FROM lineitem WHERE l_returnflag = 'R'),
dir AS (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM os a JOIN os b ON a.ok = b.ok AND a.p < b.p),
h0 AS (SELECT n, CAST(1000000 AS BIGINT) AS x
  FROM (SELECT u AS n FROM dir UNION SELECT v FROM dir)),
a1r AS (SELECT dir.v AS n, CAST(sum(h0.x) AS BIGINT) AS x
  FROM dir JOIN h0 ON dir.u = h0.n GROUP BY 1),
a1 AS (SELECT n, x // greatest(CAST((SELECT sum(x) FROM a1r) AS BIGINT) // 1000000, 1) AS x
  FROM a1r),
h1r AS (SELECT dir.u AS n, CAST(sum(a1.x) AS BIGINT) AS x
  FROM dir JOIN a1 ON dir.v = a1.n GROUP BY 1),
h1 AS (SELECT n, x // greatest(CAST((SELECT sum(x) FROM h1r) AS BIGINT) // 1000000, 1) AS x
  FROM h1r),
a2r AS (SELECT dir.v AS n, CAST(sum(h1.x) AS BIGINT) AS x
  FROM dir JOIN h1 ON dir.u = h1.n GROUP BY 1),
a2 AS (SELECT n, x // greatest(CAST((SELECT sum(x) FROM a2r) AS BIGINT) // 1000000, 1) AS x
  FROM a2r),
h2r AS (SELECT dir.u AS n, CAST(sum(a2.x) AS BIGINT) AS x
  FROM dir JOIN a2 ON dir.v = a2.n GROUP BY 1),
h2 AS (SELECT n, x // greatest(CAST((SELECT sum(x) FROM h2r) AS BIGINT) // 1000000, 1) AS x
  FROM h2r)
SELECT 'auth' AS side, CAST(count(*) AS BIGINT) AS n_nodes,
  CAST(sum(x) AS BIGINT) AS val_sum, CAST(min(x) AS BIGINT) AS val_min,
  CAST(max(x) AS BIGINT) AS val_max,
  CAST(sum(x * (n % 1009)) AS BIGINT) AS checksum FROM a2
UNION ALL
SELECT 'hub' AS side, CAST(count(*) AS BIGINT) AS n_nodes,
  CAST(sum(x) AS BIGINT) AS val_sum, CAST(min(x) AS BIGINT) AS val_min,
  CAST(max(x) AS BIGINT) AS val_max,
  CAST(sum(x * (n % 1009)) AS BIGINT) AS checksum FROM h2
ORDER BY side""")),
    // Frequent-itemset mining (Apriori) over order baskets — the
    // market-basket operator. The scale shape (r21 basket-array
    // rewrite, guide §2.3/§3): ONE ok-keyed shuffle builds the sorted
    // frequent-item array per basket; pair AND triple instances are
    // then generated MAP-SIDE from the array (order size is
    // spec-bounded, so fan-out per basket is a constant, never
    // corpus-sized) and partial aggregation collapses them BEFORE the
    // support-count exchanges — the r11–r20 shape instead self-joined
    // the basket table on ok for pairs and again for the triple
    // extension, shuffling the full instance streams (149 MB at
    // sf0.1). The Apriori closure prunes candidate triples by
    // semi-joining the BROADCAST candidate-triple set (derived from
    // frequent pairs) before the support count — at 100 TB the
    // frequent sets are dimension-sized and broadcast. Checksum uses
    // pmod-per-key before the weighted mix (derived-scale ids ~1e15
    // would overflow a raw p1*31).
    Entry("q_itemsets",
      (s, d) => {
        val baskets = li(s, d)
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
          .distinct()
        val l1 = baskets.groupBy(col("p")).agg(count(lit(1)).as("n"))
          .filter(col("n") >= 5)
        val freqItems = l1.select(col("p").as("fp"))
        val fb = baskets.join(broadcast(freqItems),
          col("p") === col("fp"), "left_semi")
        // Sorted DISTINCT item array per basket: ascending order makes
        // map-side (i < j) generation emit exactly the a.p < b.p pairs
        // the self-join produced (items are distinct within a basket,
        // so ascending is strict).
        val arr = fb.groupBy(col("ok"))
          .agg(sort_array(collect_set(col("p"))).as("items"))
        val pairInst = arr.select(explode(expr(
          "flatten(transform(items, (x, i) -> " +
            "transform(slice(items, i + 2, size(items)), " +
            "y -> named_struct('p1', x, 'p2', y))))")).as("pr"))
          .select(col("pr.p1").as("p1"), col("pr.p2").as("p2"))
        val l2 = pairInst.groupBy(col("p1"), col("p2"))
          .agg(count(lit(1)).as("n")).filter(col("n") >= 2)
        val cand3 = l2.as("x").join(l2.as("y"),
            col("x.p1") === col("y.p1") && col("x.p2") < col("y.p2"))
          .select(col("x.p1").as("q1"), col("x.p2").as("q2"),
            col("y.p2").as("q3"))
          .join(l2.select(col("p1").as("c1"), col("p2").as("c2")),
            col("q2") === col("c1") && col("q3") === col("c2"),
            "left_semi")
        // All (i < j < k) triples of each basket's sorted array —
        // value-identical to the r20 pairInst ⋈ fb extension (every
        // ascending triple of frequent items per basket, once), with
        // zero joins; the broadcast semi-join against the Apriori
        // candidates prunes before the support-count exchange.
        val tripInst = arr.select(explode(expr(
          "flatten(transform(items, (x, i) -> " +
            "flatten(transform(slice(items, i + 2, size(items)), " +
            "(y, j) -> transform(slice(items, i + j + 3, size(items)), " +
            "z -> named_struct('q1', x, 'q2', y, 'q3', z))))))")).as("tr"))
          .select(col("tr.q1").as("q1"), col("tr.q2").as("q2"),
            col("tr.q3").as("q3"))
        val l3 = tripInst.join(broadcast(cand3), Seq("q1", "q2", "q3"),
            "left_semi")
          .groupBy(col("q1"), col("q2"), col("q3"))
          .agg(count(lit(1)).as("n")).filter(col("n") >= 2)
        def mix(a: org.apache.spark.sql.Column,
            b: org.apache.spark.sql.Column,
            c: org.apache.spark.sql.Column) =
          pmod(pmod(a, lit(1000003L)) * 31 + pmod(b, lit(1000003L)) * 17
            + pmod(c, lit(1000003L)) * 7, lit(1000003L))
        def census(df: DataFrame, level: Int,
            k: org.apache.spark.sql.Column) =
          df.agg(count(lit(1)).as("n_frequent"),
              coalesce(max(col("n")), lit(0L)).as("max_support"),
              coalesce(sum(k), lit(0L)).as("checksum"))
            .select(lit(level).as("level"), col("n_frequent"),
              col("max_support"), col("checksum"))
        census(l1, 1, mix(col("p"), lit(0L), lit(0L)))
          .unionByName(census(l2, 2, mix(col("p1"), col("p2"), lit(0L))))
          .unionByName(census(l3, 3, mix(col("q1"), col("q2"), col("q3"))))
          .orderBy("level")
      },
      Some("""WITH baskets AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
l1 AS (SELECT p, count(*) AS n FROM baskets GROUP BY p HAVING count(*) >= 5),
fb AS (SELECT ok, p FROM baskets WHERE p IN (SELECT p FROM l1)),
l2 AS (
  SELECT a.p AS p1, b.p AS p2, count(*) AS n
  FROM fb a JOIN fb b ON a.ok = b.ok AND a.p < b.p
  GROUP BY 1, 2 HAVING count(*) >= 2),
cand3 AS (
  SELECT x.p1 AS q1, x.p2 AS q2, y.p2 AS q3
  FROM l2 x JOIN l2 y ON x.p1 = y.p1 AND x.p2 < y.p2
  WHERE EXISTS (SELECT 1 FROM l2 z WHERE z.p1 = x.p2 AND z.p2 = y.p2)),
l3 AS (
  SELECT t.q1, t.q2, t.q3, count(*) AS n FROM (
    SELECT a.p AS q1, b.p AS q2, c.p AS q3, a.ok
    FROM fb a JOIN fb b ON a.ok = b.ok AND a.p < b.p
    JOIN fb c ON b.ok = c.ok AND b.p < c.p) t
  WHERE EXISTS (SELECT 1 FROM cand3
    WHERE cand3.q1 = t.q1 AND cand3.q2 = t.q2 AND cand3.q3 = t.q3)
  GROUP BY 1, 2, 3 HAVING count(*) >= 2)
SELECT 1 AS level, count(*) AS n_frequent,
  CAST(coalesce(max(n), 0) AS BIGINT) AS max_support,
  CAST(coalesce(sum((p % 1000003) * 31 % 1000003), 0) AS BIGINT)
    AS checksum FROM l1
UNION ALL SELECT 2, count(*),
  CAST(coalesce(max(n), 0) AS BIGINT),
  CAST(coalesce(sum(((p1 % 1000003) * 31 + (p2 % 1000003) * 17)
    % 1000003), 0) AS BIGINT) FROM l2
UNION ALL SELECT 3, count(*),
  CAST(coalesce(max(n), 0) AS BIGINT),
  CAST(coalesce(sum(((q1 % 1000003) * 31 + (q2 % 1000003) * 17
    + (q3 % 1000003) * 7) % 1000003), 0) AS BIGINT) FROM l3
ORDER BY level""")),
    // Band join (|balᵢ - balⱼ| <= w) via bucket blocking over the
    // DISTINCT-VALUE HISTOGRAM — two composed rewrites. (1) Bucket
    // width = band, probe side explodes to its three candidate
    // buckets {b-1, b, b+1} (any in-band partner MUST land there, so
    // blocking is lossless), turning the O(N²) theta join into an
    // equi-join. (2) The join runs over (bal, nation) GROUPS carrying
    // (count, pmod-key-sum), not rows — a group pair (c₁,S₁)×(c₂,S₂)
    // contributes c₁·c₂ pairs and checksum c₁·S₂ + c₂·S₁; within a
    // group, c·(c-1)/2 pairs and (c-1)·S. Duplicate-heavy value
    // columns (the derived-scale replication shape, the r10
    // fuzzy-join lesson) then cost |distinct values|², not rows² —
    // while for all-distinct values the histogram is a free pass.
    // The oracle is the UNBLOCKED row-level theta join: it checks
    // both rewrites at once. Pairs orient (bal, nk) ascending so each
    // group pair counts once; the checksum is orientation-free.
    Entry("q_band_join",
      (s, d) => {
        val band = 100.0
        val h = Tables.read(s, d, "customer")
          .groupBy(col("c_acctbal").as("bal"), col("c_nationkey").as("nk"))
          .agg(count(lit(1)).as("c"),
            sum(pmod(col("c_custkey"), lit(1000003L))).as("sk"))
          .withColumn("b", floor(col("bal") / band))
        val probe = h.select(col("bal").as("bal1"), col("nk").as("nk1"),
          col("c").as("c1"), col("sk").as("sk1"),
          explode(array(col("b") - 1, col("b"), col("b") + 1)).as("pb"))
        val cross = probe.join(h, col("pb") === col("b")
            && abs(col("bal1") - col("bal")) <= band
            && (col("bal1") < col("bal")
              || (col("bal1") === col("bal") && col("nk1") < col("nk"))))
          .select((col("nk1") === col("nk")).as("same_nation"),
            (col("c1") * col("c")).as("np"),
            (col("c1") * col("sk") + col("c") * col("sk1")).as("ck"))
        val within = h.select(lit(true).as("same_nation"),
          expr("c * (c - 1) div 2").as("np"),
          ((col("c") - 1) * col("sk")).as("ck"))
        cross.unionByName(within)
          .groupBy(col("same_nation"))
          .agg(sum(col("np")).as("n_pairs"),
            sum(col("ck")).as("checksum"))
          .orderBy("same_nation")
      },
      Some("""SELECT a.c_nationkey = b.c_nationkey AS same_nation,
  count(*) AS n_pairs,
  CAST(sum(a.c_custkey % 1000003 + b.c_custkey % 1000003) AS BIGINT)
    AS checksum
FROM customer a JOIN customer b
  ON a.c_custkey < b.c_custkey
  AND abs(a.c_acctbal - b.c_acctbal) <= 100.0
GROUP BY 1 ORDER BY same_nation""")),
    // Snapshot reconciliation (data-diff): v2 is derived from orders
    // by deterministic deletes (key % 97), status rewrites (% 13),
    // price bumps (% 11, +100 exact integer cents), and inserts
    // (negated keys — disjoint from the positive key space by
    // construction). ONE full-outer join + ONE aggregate pass
    // classifies every key (ops/Relational.tableDiff); the oracle
    // recomputes the census from the same v2 definition in SQL. The
    // operator's output is a fixed metric census — never row-sized —
    // so the 100 TB cost is exactly one co-partitioned key shuffle.
    Entry("q_table_diff",
      (s, d) => {
        val o = Tables.read(s, d, "orders")
          .select(col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
            floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
        val v2 = o.filter(pmod(col("k"), lit(97)) =!= 0)
          .select(col("k"),
            when(pmod(col("k"), lit(13)) === 0, lit("X"))
              .otherwise(col("status")).as("status"),
            when(pmod(col("k"), lit(11)) === 0, col("cents") + 100)
              .otherwise(col("cents")).as("cents"))
          .unionByName(o.filter(pmod(col("k"), lit(101)) === 0)
            .select((-col("k")).as("k"), lit("N").as("status"),
              col("cents")))
        graft.ops.Relational.tableDiff(o, v2, "k",
          Seq("status", "cents"))
      },
      Some("""WITH o AS (
  SELECT o_orderkey AS k, o_orderstatus AS status,
    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders),
v2 AS (
  SELECT k,
    CASE WHEN k % 13 = 0 THEN 'X' ELSE status END AS status,
    CASE WHEN k % 11 = 0 THEN cents + 100 ELSE cents END AS cents
  FROM o WHERE k % 97 <> 0
  UNION ALL
  SELECT -k, 'N', cents FROM o WHERE k % 101 = 0),
j AS (
  SELECT o.k AS lk, v2.k AS rk,
    o.status AS ls, v2.status AS rs, o.cents AS lc, v2.cents AS rc
  FROM o FULL OUTER JOIN v2 ON o.k = v2.k),
agg AS (
  SELECT
    CAST(sum(CASE WHEN lk IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS added,
    CAST(sum(CASE WHEN rk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS removed,
    CAST(sum(CASE WHEN lk IS NOT NULL AND rk IS NOT NULL
      AND (ls <> rs OR lc <> rc) THEN 1 ELSE 0 END) AS BIGINT)
      AS changed_any,
    CAST(sum(CASE WHEN lk IS NOT NULL AND rk IS NOT NULL
      AND ls = rs AND lc = rc THEN 1 ELSE 0 END) AS BIGINT) AS unchanged,
    CAST(sum(CASE WHEN lk IS NOT NULL AND rk IS NOT NULL
      AND ls <> rs THEN 1 ELSE 0 END) AS BIGINT) AS changed_status,
    CAST(sum(CASE WHEN lk IS NOT NULL AND rk IS NOT NULL
      AND lc <> rc THEN 1 ELSE 0 END) AS BIGINT) AS changed_cents
  FROM j)
SELECT 'added' AS metric, added AS value FROM agg
UNION ALL SELECT 'removed', removed FROM agg
UNION ALL SELECT 'changed_any', changed_any FROM agg
UNION ALL SELECT 'unchanged', unchanged FROM agg
-- order keys are non-null by construction; the null-key census rows
-- (row-conservation audit, ops/Relational.tableDiff) are exact zeros
UNION ALL SELECT 'null_key_left', CAST(0 AS BIGINT) FROM agg
UNION ALL SELECT 'null_key_right', CAST(0 AS BIGINT) FROM agg
UNION ALL SELECT 'changed_status', changed_status FROM agg
UNION ALL SELECT 'changed_cents', changed_cents FROM agg
ORDER BY metric""")),
    // EWMA spike detection with EXACT integer arithmetic: the decay
    // alpha=1/2 over a FIXED 8-observation baseline makes the weighted
    // sum S = Σ_{k=1..8} cents₋ₖ·2^(8-k) a plain integer (weights
    // 128..1, total 255), so "value > 2× the EWMA mean" is the integer
    // predicate 255·cents > 2·S — no float ever crosses engines, and
    // the window is 8 codegen'd lag()s over one (user, ts) sort, the
    // same single-shuffle shape at any corpus size. Warm-up rows
    // (fewer than 4 priors) are excluded — their baseline is not yet
    // meaningful and the rule would flag everything.
    Entry("q_ewma_anomaly",
      (s, d) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id"))
        val cents = floor(col("value") * 100 + 0.5).cast("long")
        val base = Tables.read(s, d, "events")
          .select(col("event_id"), col("user_id"), col("ts"),
            col("event_type"), cents.as("cents"))
        val sExpr = (1 to 8).map(k =>
          coalesce(lag(col("cents"), k).over(w), lit(0L)) *
            lit(1L << (8 - k))).reduce(_ + _)
        base.withColumn("s", sExpr)
          .withColumn("warm", lag(col("cents"), 4).over(w).isNotNull)
          .filter(col("warm") && col("cents") * 255 > col("s") * 2)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_anomalies"),
            sum(pmod(col("event_id"), lit(1000003L))).as("checksum"))
          .orderBy("event_type")
      },
      Some("""WITH b AS (
  SELECT event_id, user_id, ts, event_type,
    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events),
m AS (
  SELECT event_id, event_type, cents,
    COALESCE(lag(cents, 1) OVER w, 0) * 128
    + COALESCE(lag(cents, 2) OVER w, 0) * 64
    + COALESCE(lag(cents, 3) OVER w, 0) * 32
    + COALESCE(lag(cents, 4) OVER w, 0) * 16
    + COALESCE(lag(cents, 5) OVER w, 0) * 8
    + COALESCE(lag(cents, 6) OVER w, 0) * 4
    + COALESCE(lag(cents, 7) OVER w, 0) * 2
    + COALESCE(lag(cents, 8) OVER w, 0) AS s,
    lag(cents, 4) OVER w IS NOT NULL AS warm
  FROM b WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT event_type, count(*) AS n_anomalies,
  CAST(sum(event_id % 1000003) AS BIGINT) AS checksum
FROM m WHERE warm AND cents * 255 > s * 2
GROUP BY event_type ORDER BY event_type""")),
    // Degree assortativity — integer sufficient statistics (the
    // dsir_stats/readability precedent for float indices): Newman's r
    // is a pure function of {m, Σ dᵤdᵥ, Σ (dᵤ+dᵥ), Σ (dᵤ²+dᵥ²)} over
    // edges, so only those exact integers cross engines. Reuses the
    // R-filtered part co-occurrence graph (triangle/BFS family); the
    // degree table is node-sized and joins the edge list twice on its
    // key — two dimension-sized shuffles at any scale.
    Entry("q_graph_assort",
      (s, d) => {
        val edges = coocEdges(s, d)
        val deg = edges.select(col("u").as("n"))
          .unionByName(edges.select(col("v").as("n")))
          .groupBy(col("n")).agg(count(lit(1)).as("deg"))
        // ONE joined frame, ONE aggregate, unpivoted — four metrics
        // never justify four join subtrees (the q_fuzzy_join lesson).
        val e = edges
          .join(deg.select(col("n").as("nu"), col("deg").as("du")),
            col("u") === col("nu"))
          .join(deg.select(col("n").as("nv"), col("deg").as("dv")),
            col("v") === col("nv"))
        val wide = e.agg(count(lit(1)).as("m"),
          sum(col("du") * col("dv")).as("sum_dudv"),
          sum(col("du") + col("dv")).as("sum_deg"),
          sum(col("du") * col("du") + col("dv") * col("dv"))
            .as("sum_deg2"))
        wide.select(explode(array(
            Seq("m", "sum_dudv", "sum_deg", "sum_deg2").map(x =>
              struct(lit(x).as("metric"), col(x).as("value"))): _*))
            .as("kv"))
          .select(col("kv.metric"), col("kv.value"))
          .orderBy("metric")
      },
      Some("""WITH os AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
  FROM lineitem WHERE l_returnflag = 'R'),
edges AS (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM os a JOIN os b ON a.ok = b.ok AND a.p < b.p),
deg AS (
  SELECT n, count(*) AS deg FROM (
    SELECT u AS n FROM edges UNION ALL SELECT v FROM edges)
  GROUP BY n),
e AS (
  SELECT du.deg AS du, dv.deg AS dv
  FROM edges JOIN deg du ON edges.u = du.n
  JOIN deg dv ON edges.v = dv.n)
SELECT 'm' AS metric, count(*) AS value FROM e
UNION ALL SELECT 'sum_dudv', CAST(sum(du * dv) AS BIGINT) FROM e
UNION ALL SELECT 'sum_deg', CAST(sum(du + dv) AS BIGINT) FROM e
UNION ALL SELECT 'sum_deg2', CAST(sum(du * du + dv * dv) AS BIGINT)
  FROM e
ORDER BY metric""")),
    // STREAMING heavy-hitters materialization, same harness (13th
    // replay): a stateful Update-mode running counter per
    // (event_type, user_id) — both aggregates commute, so the
    // materialized view provably equals the batch groupBy regardless
    // of arrival order (spec-pinned in EventStreamSpec) — then the
    // serving-side top-5 ranks the KEY-SIZED view, never the stream.
    // Ties break (n desc, cents desc, user_id): fully deterministic,
    // integer-only artifact.
    Entry("q_topk_stream",
      (s, d) => {
        val view = graft.streaming.Replay.topkReplay(s, d)
        val w = Window.partitionBy("event_type")
          .orderBy(col("n").desc, col("cents").desc, col("user_id"))
        view.withColumn("rank", row_number().over(w).cast("int"))
          .filter(col("rank") <= 5)
          .select(col("event_type"), col("rank"), col("user_id"),
            col("n"), col("cents"))
          .orderBy("event_type", "rank")
      },
      Some("""WITH counts AS (
  SELECT event_type, user_id, count(*) AS n,
    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
      AS cents
  FROM events GROUP BY 1, 2),
r AS (
  SELECT event_type, user_id, n, cents,
    CAST(row_number() OVER (PARTITION BY event_type
      ORDER BY n DESC, cents DESC, user_id) AS INT) AS rank
  FROM counts)
SELECT event_type, rank, user_id, n, cents
FROM r WHERE rank <= 5 ORDER BY event_type, rank"""))
  )

  /** Documents scan, repartitioned ONLY when the scan has fewer
    * ROW-BEARING splits than cores (the local-testdata case: one small
    * file = one task, which would serialize the expensive per-row text
    * ops onto one core). On a real corpus the scan already has
    * thousands of splits and the condition is false — the repartition
    * disappears instead of being dead-weight shuffle.
    *
    * Row-BEARING is the load-bearing word (found by the 1000× audit):
    * `rdd.getNumPartitions` counts BYTE-RANGE splits, but parquet only
    * yields rows at row-group starts — a 568 MB single-file table with
    * 5 row groups packs into 32 byte splits of which 27 are EMPTY, so
    * a partition-count guard reads "32 ≥ 32 cores, fine" while the
    * tokenize map crawls on 5 threads (4×48-minute whale tasks,
    * jstack-verified). The guard therefore counts actual row groups
    * from the parquet footers when the file count alone is
    * inconclusive — driver-side metadata reads, one per file, only in
    * the few-files regime where they are cheap by construction.
    */
  private def docs(s: SparkSession, d: String) = {
    val df = Tables.read(s, d, "documents")
    val target = s.sparkContext.defaultParallelism
    val files = df.inputFiles
    val effectiveSplits =
      if (files.length >= target) files.length
      else {
        val conf = s.sparkContext.hadoopConfiguration
        files.map { f =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(new org.apache.hadoop.fs.Path(f), conf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try r.getRowGroups.size finally r.close()
        }.sum
      }
    if (effectiveSplits < target) df.repartition(target) else df
  }

  /** Shared DuckDB CTE: whitespace tokens → per-doc positional bigram
    * occurrences — the oracle twin of TextOps.ngramArray(_, 2). lazy:
    * referenced from entry vals declared around it. */
  private lazy val bigramCte: String =
    """WITH toks AS (
  SELECT doc_id, u.tok, u.pos
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS arr
        FROM documents),
  LATERAL (SELECT unnest(arr) AS tok, generate_subscripts(arr, 1) AS pos) u
), grams AS (
  SELECT doc_id, tok || ' ' || lead(tok) OVER w AS bigram
  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
  QUALIFY lead(tok) OVER w IS NOT NULL
)"""

  // ---- Shared materializations (VERDICT r12 ask #2) ----
  //
  // Each resource below is built once per (session, dir) by its first
  // consumer (or by a runner's `_build_<name>` line) and released by the
  // runner right after its last selected consumer: at 251 entries in
  // one JVM, storage freed only when the ContextCleaner GC'd a dropped
  // handle was latent pressure, and on a multi-tenant cluster leaked
  // executor storage. The order of the registry list below is the
  // build-order tie-break.

  /** The exploded (id, shingle) table feeding the near-dup pair
    * pipeline, q_decontaminate and the MinHash entries — persisted once
    * per corpus snapshot for all its consumers, as a production pipeline
    * checkpoints it. Bounded by corpus token count (skinny long+string
    * rows). */
  private val docShingles = new Shared("doc_shingles", Nil,
    Set("q_decontaminate", "q_dedup_keep_best_eq", "q_jaccard_prefix",
      "q_minhash_accuracy", "q_minhash_err_md5", "q_minhash_lsh_md5"))(
    (s, d) => Dedup.explodeShingles(docs(s, d), "doc_id", "text", 3)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** The (id_a, id_b, cnt) pair-statistics table shared by the Jaccard
    * and containment pair builds (r20): both aggregate the IDENTICAL
    * posting-list expansion over the same shingle table at the same df
    * cap, so the capped collect + pair fan-out + pair-count shuffle runs
    * once instead of once per build. */
  private val pairStatsShared = new Shared("pair_stats", Seq(docShingles),
    Set.empty[String])(
    (s, d) => Dedup.pairStatsFromShingles(docShingles(s, d), maxShingleDf = 100)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Near-dup pairs, shared by the pair report (`q_ngram_jaccard`),
    * cluster formation and the MinHash accuracy entries: the
    * shingle-explode + self-join pipeline is by far the most expensive
    * part of each, and a real dedup pipeline likewise computes the pair
    * set once and feeds every downstream consumer. Tiny (near-dup pairs,
    * not docs). */
  private val jaccardPairs = new Shared("dedup_pairs",
    Seq(docShingles, pairStatsShared),
    Set("q_cc_star", "q_minhash_accuracy", "q_minhash_err_md5",
      "q_modularity", "q_ngram_jaccard"))(
    (s, d) => Dedup.ngramJaccardPairsFromShingles(docShingles(s, d), 0.5,
      maxShingleDf = 100, materialize = true,
      precomputedPairStats = Some(pairStatsShared(s, d))))

  /** Cluster labels over the near-dup pairs (label propagation runs once;
    * clusters-sized, tiny). */
  private val dedupComponents = new Shared("dedup_cc", Seq(jaccardPairs),
    Set("q_dedup_cluster_sizes", "q_dedup_components", "q_dedup_keep_best",
      "q_leakage_split"))(
    (s, d) => Dedup.connectedComponents(
      jaccardPairs(s, d).select("id_a", "id_b"), "id_a", "id_b",
      reliableEvery = reliableIterateRounds(s))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** The materialized containment pair result (tiny: gated directional
    * pairs), registered like every other persisted frame so the release
    * schedule, not the ContextCleaner's GC timing, frees it (ADVICE r13
    * #1; the 12.2 MB storage_end residual's named owner). */
  private val containmentPairs = new Shared("containment_pairs",
    Seq(docShingles, pairStatsShared), Set("q_containment"))(
    (s, d) => Dedup.ngramContainmentPairs(docShingles(s, d), tauPct = 70,
      maxShingleDf = 100, materialize = true,
      precomputedPairStats = Some(pairStatsShared(s, d))))

  /** Positional 8-token span hashes feeding both ExactSubstr entries: the
    * per-span md5 is the dominant cost of both. Skinny (long, int,
    * 32-char) rows, corpus-token-count bounded. */
  private val docSpans = new Shared("doc_spans", Nil,
    Set("q_span_dedup", "q_span_dup_stats"))(
    (s, d) => Dedup.spanOccurrences(docs(s, d), "doc_id", "text", 8)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Distinct (order, part) pairs of 'R'-flagged lineitems — the
    * bipartite basket projection under the co-occurrence graph. Seven
    * graph entries derive from it or from [[coocEdges]]; rebuilding the
    * self-join + distinct per entry re-paid its shuffles seven times per
    * session (at 100x, ~10-20 s each). */
  private val coocBaskets = new Shared("cooc_baskets", Nil,
    Set("q_bfs_hops", "q_item_cf", "q_triangle_count"))(
    (s, d) => li(s, d).filter(col("l_returnflag") === "R")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Distinct directed co-occurrence edges (u < v, one row per part pair
    * sharing an 'R' basket). */
  private val coocEdges = new Shared("cooc_edges", Seq(coocBaskets),
    Set("q_bfs_hops", "q_graph_assort", "q_hits", "q_kcore_peel",
      "q_pagerank", "q_triangle_count"))({ (s, d) =>
    val os = coocBaskets(s, d)
    os.as("a").join(os.as("b"),
        col("a.ok") === col("b.ok") && col("a.p") < col("b.p"))
      .select(col("a.p").as("u"), col("b.p").as("v")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  })

  /** The scored classifier frame feeding both classifier entries: one
    * LBFGS fit (train once, score once, every consumer reads the scored
    * table). materialize = true persists + eagerly computes the skinny
    * (id, 4 scalars) table and frees the corpus-wide feature blocks, so
    * this resource owns exactly ONE persisted frame. */
  private val classifierScores = new Shared("classifier_scores", Nil,
    Set("q_classifier_gate", "q_quality_classifier"))(
    (s, d) => graft.ops.MlPipeline.qualityClassifier(docs(s, d), "doc_id",
      "text", materialize = true))

  // Shared sketch references for q_sketch_accuracy / q_sketch_bounds:
  // the exact distinct count, exact rank-walk quantiles, and both
  // sketch passes are identical in the two entries — all scalar and
  // driver-sized. The countDistinct stays a separate job from the HLL
  // aggregate ON PURPOSE: mixing them pushes every distinct-Expand row
  // through the large rsd-0.01 HLL buffers (measured 6.1 s combined vs
  // ~2.5 s split at sf0.1).
  private case class SketchRefs(exactD: Long, n: Long, h05: Long,
    h01: Long, exactQ: Map[Double, Double], q100: Seq[Double],
    q10k: Seq[Double])

  private val sketchRefs = new Shared("sketch_refs", Nil,
    Set("q_sketch_accuracy", "q_sketch_bounds"))({ (s, d) =>
    val df = li(s, d)
    val e = df.agg(countDistinct(col("l_orderkey")).as("ed"),
      count(lit(1)).as("n")).head()
    val h = df.agg(
      approx_count_distinct(col("l_orderkey"), 0.05).as("a05"),
      approx_count_distinct(col("l_orderkey"), 0.01).as("a01"))
      .head()
    // Exact quantile reference via the distinct-value-histogram
    // rank walk — the whole-column percentile() aggregate buffers
    // every value per partition, the exact anti-pattern
    // q_quantiles avoids (7 s in this entry's first formulation).
    df.createOrReplaceTempView("lineitem")
    val exactQ = s.sql(Queries.quantilesSql).collect()
      .map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    val probs = quantileProbs.mkString("array(", ", ", ")")
    val q = df.agg(
      expr(s"percentile_approx(l_quantity, $probs, 100)").as("q100"),
      expr(s"percentile_approx(l_quantity, $probs, 10000)").as("qk"))
      .head()
    SketchRefs(e.getLong(0), e.getLong(1), h.getLong(0), h.getLong(1),
      exactQ, q.getSeq[Double](0), q.getSeq[Double](1))
  })

  private val shared = new SharedRegistry(Seq(docShingles, pairStatsShared,
    jaccardPairs, dedupComponents, containmentPairs, docSpans, coocBaskets,
    coocEdges, classifierScores, sketchRefs))

  /** Consumer entries per shared resource, closed over downstream
    * dependents (see [[SharedRegistry.consumers]]). */
  val sharedConsumers: Map[String, Set[String]] = shared.consumers
  /** Upstream-first build order of the shared resources, used by Bench's
    * `_build_<resource>` roster lines (VERDICT r13 ask #8). */
  val sharedBuildOrder: Seq[String] = shared.buildOrder
  /** Declared upstream resources per shared resource. */
  val sharedPrereqs: Map[String, Seq[String]] = shared.prereqs

  def isSharedBuilt(resource: String, s: SparkSession, d: String): Boolean =
    shared(resource).isBuilt(s, d)

  /** Force-build one shared resource and materialize its blocks eagerly.
    * Idempotent. */
  def ensureShared(resource: String, s: SparkSession, d: String): Unit =
    shared(resource).ensure(s, d)

  /** The shared resources `entry` needs that are not built yet, upstream
    * first. */
  def unbuiltSharedFor(entry: String, s: SparkSession, d: String)
      : Seq[String] = shared.unbuiltFor(entry, s, d)

  /** Release one shared resource for (session, dir): unpersist its
    * blocks and drop the cache entry so a later consumer would rebuild
    * from scratch. Safe to call for an absent resource.
    *
    * CONCURRENCY CONTRACT (VERDICT r13 ask #6): the release schedule
    * assumes a SERIAL runner — both in-repo runners (Bench, Verify)
    * execute entries one at a time and release a resource only after
    * its last consumer's action has returned. A parallel runner
    * calling this while another thread still computes from the handed-
    * out frame stays CORRECT (unpersist never invalidates results; the
    * consumer recomputes from lineage) but recompute-stormy; such a
    * runner must either refcount its own release calls or release only
    * at end-of-run via [[releaseAllShared]]. */
  def releaseShared(resource: String, s: SparkSession, d: String): Unit =
    shared(resource).release(s, d)

  /** Release every shared resource for (session, dir) — the
    * end-of-roster call for runners without per-entry ordering. */
  def releaseAllShared(s: SparkSession, d: String): Unit = {
    sharedBuildOrder.foreach(releaseShared(_, s, d))
    // Driver-heap-only caches (no executor storage): the keyed
    // LocalExact gate oracles and columnMeta dictionaries follow the
    // same end-of-roster lifecycle.
    localExactCache.clear()
    columnMetaCache.clear()
    workloadCache.clear()
  }

  /** A runner's schedule (Bench and Verify): the entries named in
    * SPARK_GRAFT_ONLY (comma-separated, dev-only; every entry when
    * unset) in name order, and the shared resources to release after
    * each. A deterministic order is what lets each resource be freed as
    * soon as its last selected consumer has run. */
  final case class RunSchedule(only: Option[Set[String]],
      entries: Seq[(String, (SparkSession, String) => DataFrame)]) {
    def keep(name: String): Boolean = only.forall(_(name))
    private val lastUse = shared.releaseAfter(entries.map(_._1))
    def releaseAfter(name: String, s: SparkSession, d: String): Unit =
      lastUse.getOrElse(name, Nil).foreach(releaseShared(_, s, d))
  }

  def runSchedule(): RunSchedule = {
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    RunSchedule(only,
      queries.toSeq.sortBy(_._1).filter(e => only.forall(_(e._1))))
  }

  /** LLM-training-data-pipeline operators over the documents table
    * (dedup + text analysis; SURVEY §7.5). Map-side ops are checked
    * per-row; whole-corpus ops via bounded aggregates. MinHash/SimHash use
    * Spark-specific hashes (xxhash64 seeds) so they get rows-only checks.
    */
  val docEntries: Seq[Entry] = Seq(
    Entry("q_dedup_stats",
      (s, d) => Dedup.stats(docs(s, d), "text"),
      Some(Dedup.statsSql("documents", "text"))),
    Entry("q_dedup_keep_first",
      (s, d) => Dedup.exactKeepFirst(docs(s, d), "doc_id", "text"),
      Some(Dedup.exactKeepFirstSql("documents", "doc_id", "text"))),
    Entry("q_token_counts",
      (s, d) => docs(s, d)
        .select(col("doc_id"), TextOps.tokenCount(col("text")).as("n_tokens"))
        .orderBy("doc_id"),
      Some("SELECT doc_id, " + TextOps.tokenCountSql("text") +
        " AS n_tokens FROM documents ORDER BY doc_id")),
    Entry("q_fingerprint",
      (s, d) => docs(s, d)
        .groupBy(col("source"))
        .agg(countDistinct(TextOps.fingerprint(col("text"))).as("n_unique"),
          count(lit(1)).as("n_docs"))
        .orderBy("source"),
      Some("SELECT source, count(DISTINCT " + TextOps.fingerprintSql("text") +
        ") AS n_unique, count(*) AS n_docs FROM documents " +
        "GROUP BY source ORDER BY source")),
    Entry("q_lang_id",
      (s, d) => docs(s, d)
        .select(TextOps.langId(TextOps.langScores(col("text"))).as("lang_pred"))
        .groupBy(col("lang_pred"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("lang_pred"),
      Some("SELECT " + TextOps.langIdSql("text") + " AS lang_pred, " +
        "count(*) AS cnt FROM documents GROUP BY 1 ORDER BY lang_pred")),
    // DF cap 100: this corpus draws from a tiny vocabulary, so common
    // shingles appear in ~200 docs each and an uncapped self-join is
    // quadratic; near-dups still share plenty of sub-cap shingles.
    Entry("q_ngram_jaccard",
      (s, d) => jaccardPairs(s, d),
      Some(Dedup.ngramJaccardPairsSql("documents", "doc_id", "text", 3, 0.5,
        maxShingleDf = 100))),
    // PPJoin-style prefix-filtered candidate generation for the SAME
    // similarity join: provably lossless (see the scaladoc theorem on
    // ngramJaccardPairsPrefix), so it shares q_ngram_jaccard's oracle
    // verbatim — two independent physical strategies, one answer,
    // both hash-gated. This is the scale path once the df cap is
    // loosened: candidates come only from each doc's rarest
    // ⌈(1−t)·m⌉+1 shingles instead of cap²/2 expansions per shingle.
    Entry("q_jaccard_prefix",
      (s, d) => Dedup.ngramJaccardPairsPrefix(docShingles(s, d), 0.5,
        maxShingleDf = 100),
      Some(Dedup.ngramJaccardPairsSql("documents", "doc_id", "text", 3, 0.5,
        maxShingleDf = 100))),
    // Asymmetric CONTAINMENT beside the symmetric Jaccard joins: flags
    // docs whose capped shingle set is ≥70% inside another doc —
    // quote-inclusion/chunk-leak detection Jaccard misses when the
    // host is much longer. Shares the per-(session, dir) shingle
    // materialization and the posting-list scale shape; the gate is
    // exact-integer (100·inter ≥ 70·n_sub).
    Entry("q_containment",
      (s, d) => containmentPairs(s, d),
      Some(Dedup.ngramContainmentPairsSql("documents", "doc_id", "text", 3,
        tauPct = 70, maxShingleDf = 100))),
    // Sorted-neighborhood (merge/purge) dedup census — the THIRD
    // candidate-generation strategy beside posting-list expansion and
    // PPJoin prefixes: O(N·win) comparisons via block-partitioned
    // sorting + lead() neighbors, Levenshtein-gated on a bounded
    // normalized key. No global window (blocks partition the sort) and
    // no self-join — the text column never shuffles twice.
    Entry("q_snm_dedup",
      (s, d) => Dedup.sortedNeighborhoodCensus(docs(s, d), "doc_id", "text",
        blockLen = 6, keyLen = 128, win = 2, maxEditPct = 20),
      Some(Dedup.sortedNeighborhoodCensusSql("documents", "doc_id", "text",
        blockLen = 6, keyLen = 128, win = 2, maxEditPct = 20))),
    // Dedup cluster formation: connected components (min-label
    // propagation) over the exact n-gram Jaccard near-dup pairs — the
    // step that turns candidate pairs into dup clusters with a canonical
    // (min-id) representative; the pair input is the shared
    // [[jaccardPairs]] materialization, computed once per sfDir. Oracle:
    // transitive closure via a DuckDB recursive CTE over the same pair
    // query.
    Entry("q_dedup_components",
      (s, d) => dedupComponents(s, d),
      Some(Dedup.connectedComponentsSql(
        Dedup.ngramJaccardPairsSql("documents", "doc_id", "text", 3, 0.5,
          maxShingleDf = 100)))),
    // The SAME cluster formation through the alternating large-star/
    // small-star algorithm (O(log n) rounds vs label propagation's
    // O(diameter)) — two independent iterative strategies, one
    // recursive-CTE oracle, both hash-gated. The variant that matters
    // at 100 TB when near-dup chains run deep (template drift across
    // crawls produces paths, not cliques); see
    // Dedup.connectedComponentsStar's round-count spec (CCStarSpec
    // pins log-bounded convergence on a deliberately deep path graph
    // where label propagation would need diameter rounds).
    Entry("q_cc_star",
      (s, d) => Dedup.connectedComponentsStar(
        jaccardPairs(s, d).select("id_a", "id_b"), "id_a", "id_b",
        reliableEvery = reliableIterateRounds(s)),
      Some(Dedup.connectedComponentsSql(
        Dedup.ngramJaccardPairsSql("documents", "doc_id", "text", 3, 0.5,
          maxShingleDf = 100)))),
    // Modularity of the near-dup graph under the SOURCE partition — the
    // graph-quality census answering "do near-dups concentrate within
    // sources, or leak across them?" (cross-source leakage is what
    // makes hash-split decontamination insufficient). Per source c:
    // intra-edge count e_c, degree mass d_c, and the EXACT INTEGER
    // modularity term q_num = 4·m·e_c − d_c² (Q_c = q_num/(4m²); Q =
    // ΣQ_c — the one float is a single IEEE division of exact longs).
    // Envelope: 4·m·e_c < 2⁶³ needs m < 1.5e9 candidate pairs; past
    // that rescale both by a common 2^k. Scale shape: edges come from
    // the shared pair materialization; source lookup is two joins
    // against the doc table's (id, source) projection; every aggregate
    // is source-keyed (bounded groups).
    Entry("q_modularity",
      (s, d) => {
        val pairs = jaccardPairs(s, d).select(col("id_a"), col("id_b"))
        val src = docs(s, d).select(col("doc_id"), col("source"))
        val e = pairs
          .join(src.select(col("doc_id").as("id_a"),
            col("source").as("src_a")), "id_a")
          .join(src.select(col("doc_id").as("id_b"),
            col("source").as("src_b")), "id_b")
        val degp = e.select(col("src_a").as("source"))
          .unionByName(e.select(col("src_b").as("source")))
          .groupBy("source").agg(count(lit(1)).as("d_c"))
        val intra = e.filter(col("src_a") === col("src_b"))
          .groupBy(col("src_a").as("source"))
          .agg(count(lit(1)).as("e_c"))
        val m = e.agg(count(lit(1)).as("m"))
        degp.join(intra, Seq("source"), "left")
          .na.fill(0L, Seq("e_c"))
          .crossJoin(broadcast(m))
          .select(col("source"), col("m"), col("e_c"), col("d_c"),
            (lit(4L) * col("m") * col("e_c") - col("d_c") * col("d_c"))
              .as("q_num"),
            ((lit(4L) * col("m") * col("e_c") - col("d_c") * col("d_c"))
              .cast("double") /
              (lit(4L) * col("m") * col("m")).cast("double")).as("q_term"))
          .orderBy("source")
      },
      Some("""WITH pairs AS (
""" + Dedup.ngramJaccardPairsSql("documents", "doc_id", "text", 3, 0.5,
        maxShingleDf = 100) + """
), e AS (
  SELECT sa.source AS src_a, sb.source AS src_b
  FROM pairs
  JOIN documents sa ON pairs.id_a = sa.doc_id
  JOIN documents sb ON pairs.id_b = sb.doc_id),
degp AS (
  SELECT source, count(*) AS d_c FROM (
    SELECT src_a AS source FROM e UNION ALL SELECT src_b FROM e)
  GROUP BY source),
intra AS (
  SELECT src_a AS source, count(*) AS e_c FROM e
  WHERE src_a = src_b GROUP BY 1),
m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e)
SELECT degp.source, m.m, CAST(coalesce(intra.e_c, 0) AS BIGINT) AS e_c,
  CAST(degp.d_c AS BIGINT) AS d_c,
  CAST(4 * m.m * coalesce(intra.e_c, 0) - degp.d_c * degp.d_c AS BIGINT)
    AS q_num,
  CAST(4 * m.m * coalesce(intra.e_c, 0) - degp.d_c * degp.d_c AS DOUBLE)
    / CAST(4 * m.m * m.m AS DOUBLE) AS q_term
FROM degp LEFT JOIN intra ON degp.source = intra.source CROSS JOIN m
ORDER BY degp.source""")),
    // Balanced source mix: deterministic stratified downsampling via a
    // systematic per-stratum key slice (moduli chosen coprime to the
    // testdata's id->source stride of 20 so the slice cuts across every
    // stratum). Artifact = per-source kept counts.
    Entry("q_stratified_sample",
      (s, d) => Corpus.stratifiedSample(docs(s, d), "source", "doc_id",
          Map("src0" -> 1, "src1" -> 3, "src2" -> 7), defaultModulus = 9)
        .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
        .orderBy("source"),
      Some("SELECT source, count(*) AS n_kept FROM documents WHERE " +
        Corpus.stratifiedSampleWhereSql("source", "doc_id",
          Map("src0" -> 1, "src1" -> 3, "src2" -> 7), defaultModulus = 9) +
        " GROUP BY source ORDER BY source")),
    // Quality-weighted corpus sampling (Efraimidis–Spirakis A-ES):
    // top-k by md5-uniform^(1/weight) IS a weighted sample without
    // replacement — coordination-free (any worker/engine recomputes the
    // same sample), append-stable, and entirely map-side + TakeOrdered.
    // n_chars stands in for the quality weight; the hash-derived
    // uniform is exact in double on both engines, so the whole sampler
    // — membership AND priorities — sits under the hash-equality gate.
    Entry("q_weighted_sample",
      (s, d) => Corpus.weightedSample(docs(s, d), "doc_id", "n_chars",
        k = 25, seed = 7L),
      Some(Corpus.weightedSampleSql("documents", "doc_id", "n_chars",
        k = 25, seed = 7L))),
    // Sequence packing: greedy first-fit by id into <= 2048-token packs
    // within fixed 128-id ranges — deterministic for any partition
    // count, so the full packing is oracle-checked against a DuckDB
    // recursive-CTE fold over the same (rid, id) walk.
    Entry("q_pack_sequences",
      (s, d) => Corpus.packSequencesByRange(
        docs(s, d).select(col("doc_id"),
          TextOps.tokenCount(col("text")).as("n_tokens")),
        "doc_id", "n_tokens", maxTokens = 2048, rangeWidth = 128L),
      Some(Corpus.packSequencesByRangeSql("documents", "doc_id",
        TextOps.tokenCountSql("text"), maxTokens = 2048, rangeWidth = 128L))),
    // Benchmark decontamination: docs sharing >= 5 distinct 3-grams with
    // the doc_id%101 slice (standing in for an eval set). Broadcast
    // benchmark shingles, map-side corpus explode, hit-bounded shuffle.
    // Both sides reuse the shared shingle materialization: the
    // benchmark's shingle set is a filter over it (the eval slice is
    // defined by doc_id, so filtering exploded rows ≡ shingling the
    // filtered docs — shingles() is per-row).
    Entry("q_decontaminate",
      (s, d) => Dedup.decontaminateShingles(docShingles(s, d),
        docShingles(s, d).filter(pmod(col("id"), lit(101)) === 0)
          .select("shingle").distinct(),
        "doc_id", minHits = 5),
      Some(Dedup.decontaminateSql("documents", "doc_id", "text",
        "SELECT doc_id, text FROM documents WHERE doc_id % 101 = 0",
        "text", n = 3, minHits = 5))),
    // ADAPTIVE per-language quality threshold (FineWeb pattern): each
    // language's cutoff is the exact p10 ORDER STATISTIC of its own
    // stopword-ratio distribution — a data value, not a constant, so
    // the filter self-calibrates per corpus slice.
    Entry("q_adaptive_filter",
      (s, d) => TextOps.adaptiveQualityFilter(docs(s, d),
        "doc_id", "text", "lang", p = 0.1),
      Some(TextOps.adaptiveQualityFilterSql("documents",
        "doc_id", "text", "lang", p = 0.1))),
    // Guarantee-gate twin for the PRODUCTION path of the adaptive
    // filter (percentile_approx threshold + broadcast join — the 100 TB
    // shape with no per-language window sort): hash-checks that the
    // sketch threshold's exact rank brackets p and that the approx-kept
    // set diverges from the exact-kept set by at most the sketch's rank
    // guarantee plus boundary ties.
    Entry("q_adaptive_filter_bounds",
      (s, d) => TextOps.adaptiveQualityFilterBounds(docs(s, d),
        "doc_id", "text", "lang", p = 0.1, accuracy = 10000),
      Some(TextOps.adaptiveQualityFilterBoundsSql("documents",
        "doc_id", "text", "lang", p = 0.1))),
    // Gopher-style composite quality filter: thresholds over the
    // per-row quality signals (token count, stopword ratio, repetition)
    // decide keep/drop; artifact = per-language kept/total counts. The
    // signals are single-division doubles with identical arithmetic in
    // both engines, so threshold comparisons are engine-stable. At
    // scale: one codegen'd scan + one partial-agg shuffle on lang.
    Entry("q_quality_filter",
      (s, d) => {
        val scoreCols = TextOps.qualityScores(col("text"))
          .map { case (n, c) => c.as(n) }
        docs(s, d).select(col("lang") +: scoreCols: _*)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("n_tokens") >= 30 &&
              col("stopword_ratio") > 0 &&
              col("dup_token_frac") < 0.6, 1L).otherwise(0L)).as("n_kept"))
          .orderBy("lang")
      },
      Some {
        val sql = TextOps.qualityScoresSql("text").toMap
        s"SELECT lang, count(*) AS n_docs, " +
          s"CAST(sum(CASE WHEN ${sql("n_tokens")} >= 30 " +
          s"AND ${sql("stopword_ratio")} > 0 " +
          s"AND ${sql("dup_token_frac")} < 0.6 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept " +
          "FROM documents GROUP BY lang ORDER BY lang"
      }),
    // The composed curation pipeline END-TO-END — exact dedup →
    // benchmark decontamination → quality filter → frozen hash-split —
    // as ONE DataFrame program, proving the stages compose (a user runs
    // a pipeline, not 146 isolated operators) and hash-gating the final
    // corpus manifest against DuckDB running the identical CTE chain.
    // The decontamination stage here is the EXACT-match variant
    // (md5-fingerprint anti-join against the benchmark slice) — the
    // shingle-overlap variant stays q_decontaminate's own entry; on
    // this tiny-vocabulary corpus a 10×-grown benchmark's 3-gram
    // shingles contaminate every document and the composed manifest
    // would be vacuously empty. Scale shape: one md5-groupBy shuffle
    // (dedup), one broadcast fingerprint anti-join (decontam), one
    // codegen'd scan for the quality signals, one partial-agg shuffle
    // for the (split, lang) manifest. Text is never shuffled except by
    // the dedup fingerprint groupBy.
    Entry("q_pipeline_e2e",
      (s, d) => {
        val raw = docs(s, d)
        val kept = Dedup.exactKeepFirst(raw, "doc_id", "text")
        val deduped = raw.join(kept, "doc_id")
        val benchFp = raw.filter(pmod(col("doc_id"), lit(101)) === 0)
          .select(md5(col("text")).as("__fp")).distinct()
        val clean = deduped.join(
          broadcast(benchFp),
          md5(deduped("text")) === benchFp("__fp"), "left_anti")
        val qm = TextOps.qualityScores(col("text")).toMap
        clean
          .select(col("doc_id"), col("lang"),
            qm("n_tokens").as("n_tokens"),
            qm("stopword_ratio").as("stopword_ratio"),
            qm("dup_token_frac").as("dup_token_frac"))
          .filter(col("n_tokens") >= 30 && col("stopword_ratio") > 0 &&
            col("dup_token_frac") < 0.6)
          .groupBy(Corpus.hashSplit(col("doc_id")).as("split"), col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("token_sum"))
          .orderBy("split", "lang")
      },
      Some {
        val q = TextOps.qualityScoresSql("text").toMap
        s"""WITH kept AS (
${Dedup.exactKeepFirstSql("documents", "doc_id", "text")}
), dd AS (
  SELECT d.* FROM documents d JOIN kept USING (doc_id)
), bench_fp AS (
  SELECT DISTINCT md5(text) AS fp FROM documents WHERE doc_id % 101 = 0
), scored AS (
  SELECT doc_id, lang, ${q("n_tokens")} AS n_tokens,
    ${q("stopword_ratio")} AS stopword_ratio,
    ${q("dup_token_frac")} AS dup_token_frac
  FROM dd WHERE md5(text) NOT IN (SELECT fp FROM bench_fp)
)
SELECT ${Corpus.hashSplitSql("doc_id")} AS split, lang,
  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS token_sum
FROM scored
WHERE n_tokens >= 30 AND stopword_ratio > 0 AND dup_token_frac < 0.6
GROUP BY 1, 2 ORDER BY split, lang"""
      }),
    // Line-level boilerplate dedup (CCNet/C4 shape): drop lines whose
    // corpus-wide count exceeds the cap, reassemble docs in order. On
    // this corpus every doc is a single line, so the hot "lines" are the
    // exactly-duplicated texts — the unit test covers the multi-line
    // case; the oracle checks the full pipeline end-to-end.
    Entry("q_line_dedup",
      (s, d) => Dedup.lineDedup(docs(s, d), "doc_id", "text", maxDf = 2),
      Some(Dedup.lineDedupSql("documents", "doc_id", "text", maxDf = 2))),
    // Corpus-wide duplicated-span audit (ExactSubstr measurement pass,
    // Lee et al.): per-doc fraction of 8-token span occurrences that
    // also appear in another document. ~10% of span mass is cross-doc
    // duplicated in this corpus — real signal, not a vacuous oracle.
    Entry("q_span_dup_stats",
      (s, d) => Dedup.spanDupStats(docs(s, d), "doc_id", "text", n = 8,
        spans = Some(docSpans(s, d))),
      Some(Dedup.spanDupStatsSql("documents", "doc_id", "text", n = 8))),
    // ExactSubstr-lite remediation: any 8-token span occurring more than
    // once in the corpus keeps only its globally-first occurrence; tokens
    // covered by later occurrences are excised. Manifest: per-doc
    // surviving token count + md5 of the surviving stream (docs fully
    // excised disappear — 14 do at sf0.001).
    Entry("q_span_dedup",
      (s, d) => Dedup.spanDedup(docs(s, d), "doc_id", "text", n = 8,
        spansIn = Some(docSpans(s, d))),
      Some(Dedup.spanDedupSql("documents", "doc_id", "text", n = 8))),
    // Frozen train/val/test assignment by key hash (map-side, no
    // shuffle, stable under reruns and appends). Artifact: per
    // (split, lang) counts.
    Entry("q_hash_split",
      (s, d) => docs(s, d)
        .groupBy(Corpus.hashSplit(col("doc_id")).as("split"), col("lang"))
        .agg(count(lit(1)).as("n"))
        .orderBy("split", "lang"),
      Some("SELECT " + Corpus.hashSplitSql("doc_id") + " AS split, lang, " +
        "count(*) AS n FROM documents GROUP BY 1, 2 ORDER BY split, lang")),
    // Blocklist filter (the C4/Gopher bad-words pass): flag documents
    // containing any term of a curated blocklist, with WORD-BOUNDARY
    // matching via the space-padded containment idiom (' '||text||' '
    // contains ' term ') — identical text on both engines, no regex
    // dialect surface. Entirely map-side (the blocklist is a literal
    // expression chain — at production size it compiles to one
    // Aho-Corasick-ish multi-contains, still scan-local); the only
    // shuffle is the per-source census. Flag counts, multi-term hits,
    // and a flagged-id checksum make silent misses visible.
    Entry("q_blocklist_filter",
      (s, d) => {
        val terms = Seq("slow", "dup", "big")
        val padded = concat(lit(" "), col("text"), lit(" "))
        val flags = terms.zipWithIndex.map { case (t, i) =>
          (instr(padded, s" $t ") > 0).cast("long").as(s"f$i")
        }
        docs(s, d).select(Seq(col("doc_id"), col("source")) ++ flags: _*)
          .withColumn("n_terms",
            terms.indices.map(i => col(s"f$i")).reduce(_ + _))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum((col("n_terms") > 0).cast("long")).as("n_flagged"),
            sum((col("n_terms") >= 2).cast("long")).as("n_multi"),
            coalesce(sum(when(col("n_terms") > 0,
                pmod(col("doc_id"), lit(1000003L)))), lit(0L))
              .as("checksum"))
          .orderBy("source")
      },
      Some("""WITH f AS (
  SELECT doc_id, source,
    CASE WHEN instr(' ' || text || ' ', ' slow ') > 0 THEN 1 ELSE 0 END
      + CASE WHEN instr(' ' || text || ' ', ' dup ') > 0 THEN 1 ELSE 0 END
      + CASE WHEN instr(' ' || text || ' ', ' big ') > 0 THEN 1 ELSE 0 END
      AS n_terms
  FROM documents)
SELECT source, count(*) AS n_docs,
  CAST(sum(CASE WHEN n_terms > 0 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_flagged,
  CAST(sum(CASE WHEN n_terms >= 2 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_multi,
  CAST(coalesce(sum(CASE WHEN n_terms > 0 THEN doc_id % 1000003 END), 0)
    AS BIGINT) AS checksum
FROM f GROUP BY source ORDER BY source""")),
    // Decile lift/gains table — the model-evaluation primitive beside
    // the q-error reports: rank by a score, cut into deciles, and
    // report each decile's response rate against the base rate. Score
    // and label are deterministic (n_chars; word-boundary ' dup '
    // containment) so the whole table sits under the hash gate.
    // Scale shape: deciles are assigned at the DISTINCT-SCORE level
    // from the cumulative histogram (the q_quantiles frame discipline
    // — windows run over score values, never rows; ties share a
    // decile by construction, which also makes the cut deterministic),
    // then one bounded-group rollup. lift is the one float: a single
    // IEEE division of exact cross-multiplied longs.
    Entry("q_lift_table",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val base = docs(s, d).select(col("n_chars").as("sc"),
          (instr(concat(lit(" "), col("text"), lit(" ")), " dup ") > 0)
            .cast("long").as("y"))
        val f = base.groupBy(col("sc"))
          .agg(count(lit(1)).as("c"), sum(col("y")).as("p"))
        val w = Window.orderBy(col("sc").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = f.withColumn("cum", sum(col("c")).over(w))
        val tot = base.agg(count(lit(1)).as("n"), sum(col("y")).as("np"))
        cum.crossJoin(broadcast(tot))
          .withColumn("decile", expr("((cum - 1) * 10) div n + 1"))
          .groupBy(col("decile"))
          .agg(sum(col("c")).as("n_docs"), sum(col("p")).as("n_pos"),
            max(col("n")).as("n"), max(col("np")).as("np"))
          .select(col("decile"), col("n_docs"), col("n_pos"),
            (col("n_pos") * col("n")).as("lift_num"),
            (col("n_docs") * col("np")).as("lift_den"),
            ((col("n_pos") * col("n")).cast("double") /
              (col("n_docs") * col("np")).cast("double")).as("lift"))
          .orderBy("decile")
      },
      Some("""WITH base AS (
  SELECT n_chars AS sc,
    CASE WHEN instr(' ' || text || ' ', ' dup ') > 0 THEN 1 ELSE 0 END
      AS y
  FROM documents),
f AS (SELECT sc, count(*) AS c, CAST(sum(y) AS BIGINT) AS p
  FROM base GROUP BY sc),
cum AS (
  SELECT sc, c, p, CAST(sum(c) OVER (ORDER BY sc DESC
    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
  FROM f),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT)
  AS np FROM base),
dec AS (
  SELECT ((cum - 1) * 10) // n + 1 AS decile, c, p, n, np
  FROM cum CROSS JOIN tot)
SELECT decile, CAST(sum(c) AS BIGINT) AS n_docs,
  CAST(sum(p) AS BIGINT) AS n_pos,
  CAST(sum(p) * max(n) AS BIGINT) AS lift_num,
  CAST(sum(c) * max(np) AS BIGINT) AS lift_den,
  CAST(sum(p) * max(n) AS DOUBLE) / CAST(sum(c) * max(np) AS DOUBLE)
    AS lift
FROM dec GROUP BY decile ORDER BY decile""")),
    // ROC AUC in EXACT INTEGERS via the Mann-Whitney rank-sum identity
    // (AUC = (ΣR⁺ − n⁺(n⁺+1)/2) / (n⁺n⁻)) with tie midranks — the
    // companion metric to q_lift_table, over the same deterministic
    // score/label. Doubling clears the midrank halves: midrank×2 for
    // score v = 2·cum_v − c_v + 1 (from the ASCENDING cumulative
    // histogram), so auc_num2 = Σ_v p_v·(2cum_v − c_v + 1) − n⁺(n⁺+1)
    // and auc_den2 = 2·n⁺·n⁻ are exact Longs; AUC is their one IEEE
    // division. Same scale shape as the quantile family: one
    // score-level histogram shuffle, windows over distinct values,
    // one-row artifact. Envelope: Σ p·2cum ≤ 2·n⁺·n < 2⁶³ needs
    // n⁺·n < 4.6e18 (~2e9 rows balanced; rescale by 2^k past that).
    Entry("q_roc_auc",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val base = docs(s, d).select(col("n_chars").as("sc"),
          (instr(concat(lit(" "), col("text"), lit(" ")), " dup ") > 0)
            .cast("long").as("y"))
        val f = base.groupBy(col("sc"))
          .agg(count(lit(1)).as("c"), sum(col("y")).as("p"))
        val w = Window.orderBy(col("sc"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = f.withColumn("cum", sum(col("c")).over(w))
        val agg = cum.agg(
          sum(col("p") * (lit(2) * col("cum") - col("c") + 1))
            .as("rank2_sum"),
          sum(col("c")).as("n"), sum(col("p")).as("np"))
        agg.select(col("n"), col("np"), (col("n") - col("np")).as("nn"),
            (col("rank2_sum") - col("np") * (col("np") + 1)).as("auc_num2"),
            (lit(2) * col("np") * (col("n") - col("np"))).as("auc_den2"))
          .withColumn("auc", col("auc_num2").cast("double") /
            col("auc_den2").cast("double"))
      },
      Some("""WITH base AS (
  SELECT n_chars AS sc,
    CASE WHEN instr(' ' || text || ' ', ' dup ') > 0 THEN 1 ELSE 0 END
      AS y
  FROM documents),
f AS (SELECT sc, count(*) AS c, CAST(sum(y) AS BIGINT) AS p
  FROM base GROUP BY sc),
cum AS (
  SELECT sc, c, p, CAST(sum(c) OVER (ORDER BY sc
    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
  FROM f),
agg AS (
  SELECT CAST(sum(p * (2 * cum - c + 1)) AS BIGINT) AS rank2_sum,
    CAST(sum(c) AS BIGINT) AS n, CAST(sum(p) AS BIGINT) AS np
  FROM cum)
SELECT n, np, n - np AS nn,
  rank2_sum - np * (np + 1) AS auc_num2,
  2 * np * (n - np) AS auc_den2,
  CAST(rank2_sum - np * (np + 1) AS DOUBLE)
    / CAST(2 * np * (n - np) AS DOUBLE) AS auc
FROM agg""")),
    // Rendezvous (highest-random-weight) shard assignment beside the
    // mod-hash split: doc → argmax over shards of md5(doc_id:shard) —
    // the consistent-assignment scheme where adding/removing a shard
    // moves only 1/(n+1) of the keys (mod-hash reshuffles ~all), the
    // property a 100 TB corpus reshard relies on. Entirely map-side:
    // 8 hashes per row via a broadcast shard list and one max_by —
    // the only shuffle is the final per-shard census. Hex md5 compares
    // lexicographically identically on both engines; ties are md5
    // collisions (ignored by construction).
    Entry("q_rendezvous_shard",
      (s, d) => {
        val shards = s.range(0, 8)
          .select(col("id").cast("int").as("shard"))
        docs(s, d).select(col("doc_id"))
          .crossJoin(broadcast(shards))
          .select(col("doc_id"), col("shard"),
            md5(concat(col("doc_id").cast("string"), lit(":"),
              col("shard").cast("string"))).as("h"))
          .groupBy(col("doc_id"))
          .agg(expr("max_by(shard, h)").as("shard"))
          .groupBy(col("shard"))
          .agg(count(lit(1)).as("n_docs"),
            min(col("doc_id")).as("min_doc"),
            max(col("doc_id")).as("max_doc"),
            sum(pmod(col("doc_id"), lit(1000003L))).as("checksum"))
          .orderBy("shard")
      },
      Some("""WITH a AS (
  SELECT doc_id, s.shard,
    md5(CAST(doc_id AS VARCHAR) || ':' || CAST(s.shard AS VARCHAR)) AS h
  FROM documents, (SELECT unnest(generate_series(0, 7)) AS shard) s),
pick AS (SELECT doc_id, arg_max(shard, h) AS shard FROM a GROUP BY doc_id)
SELECT CAST(shard AS INT) AS shard, count(*) AS n_docs,
  min(doc_id) AS min_doc, max(doc_id) AS max_doc,
  CAST(sum(doc_id % 1000003) AS BIGINT) AS checksum
FROM pick GROUP BY shard ORDER BY shard""")),
    // Final shard materialization: write the corpus as 8 shard files
    // whose concatenation IS the deterministic shuffle order (shard =
    // leading hash bits folded to contiguous ranges, not sampled
    // repartitionByRange boundaries). The checked artifact is the
    // manifest: per-shard counts + hash-range endpoints, reproduced by
    // DuckDB from the same arithmetic over the source table — so the
    // WRITTEN LAYOUT, not just a query result, is oracle-gated.
    Entry("q_write_shards",
      (s, d) => Corpus.writeShards(docs(s, d).select("doc_id"), "doc_id",
        numShards = 8,
        s"${System.getProperty("java.io.tmpdir")}/graft_shards_" +
          Integer.toHexString(d.hashCode)),
      Some("""WITH t AS (
  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS sk FROM documents),
s AS (
  SELECT doc_id, sk,
    CAST(CAST(('0x' || substr(sk, 1, 3)) AS BIGINT) * 8 // 4096
      AS INTEGER) AS shard
  FROM t)
SELECT shard, count(*) AS n_rows, min(sk) AS first_key,
  max(sk) AS last_key
FROM s GROUP BY shard ORDER BY shard""")),
    // File-level Bloom data-skipping index: documents materialized as
    // a 16-file hash layout (source-fingerprint-cached under tmpdir,
    // the many-file shape real tables have), a one-pass sidecar build,
    // then a 5-key point lookup that scans ONLY Bloom-candidate files.
    // The Bloom no-false-negative contract makes pruned == full-scan
    // an equality, so the oracle is the plain full-table lookup on
    // DuckDB; the pruning win itself (candidates < total files, true
    // file always included) is asserted in IndexSpec.
    Entry("q_bloom_skip",
      (s, d) => {
        val layout = graft.ops.SkippingIndex.materializeLayout(
          s, d, "documents", "doc_id")
        val index = graft.ops.SkippingIndex.build(
          s.read.parquet(layout), "doc_id")
        graft.ops.SkippingIndex.lookup(s, layout, index, "doc_id",
          Seq(3L, 17L, 29L, 41L, 97L),
          Seq(col("doc_id"), md5(col("text")).as("text_md5")))
          .orderBy("doc_id")
      },
      Some("SELECT doc_id, md5(text) AS text_md5 FROM documents " +
        "WHERE doc_id IN (3, 17, 29, 41, 97) ORDER BY doc_id")),
    // Deterministic pre-training shuffle: reproducible total order by
    // key hash; the checked artifact is the first 20 rows, which runs
    // as TakeOrdered (no global sort materialization).
    Entry("q_corpus_shuffle",
      (s, d) => Corpus.deterministicShuffle(docs(s, d), "doc_id")
        .select(col("shuffle_key"), col("doc_id"))
        .limit(20),
      Some(Corpus.deterministicShuffleSql("documents", "doc_id", 20))),
    // Per-source document cap (crawl curation: at most k docs per
    // domain), drawn deterministically as the k LARGEST md5(doc_id) per
    // source — an unbiased frozen sample, append-stable like
    // q_hash_split. Runs on the two-phase top-k operator (bounded
    // per-input-partition heaps, then a window over the pruned set)
    // because source cardinality can be tiny relative to data; the
    // oracle is the declarative row_number twin.
    // Temperature-based language rebalancing (α=0.5): the head
    // language downsamples toward sqrt-flattened proportions with an
    // append-stable md5 membership; smallest language keeps all rows.
    // Exact token-budget mixing ("N tokens of each source"): frozen
    // md5 order, inclusive running-sum cut. Spark runs the two-level
    // bucketed prefix sum (no source-sized window partitions); the
    // oracle is the naive single window — checking that the scalable
    // plan preserves the semantics exactly.
    Entry("q_token_budget_mix",
      (s, d) => Corpus.tokenBudgetMix(
          docs(s, d).withColumn("n_tokens",
            TextOps.tokenCount(col("text"))),
          "source", "doc_id", "n_tokens",
          budgets = Map("src0" -> 9000L, "src1" -> 4000L),
          defaultBudget = 6000L)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("n_tokens").cast("long")).as("tokens_kept"))
        .orderBy("source"),
      Some(Corpus.tokenBudgetMixSql("documents", "source", "doc_id",
        TextOps.tokenCountSql("text"),
        budgets = Map("src0" -> 9000L, "src1" -> 4000L),
        defaultBudget = 6000L))),
    Entry("q_temperature_mix",
      (s, d) => Corpus.temperatureMix(docs(s, d), "lang", "doc_id"),
      Some(Corpus.temperatureMixSql("documents", "lang", "doc_id"))),
    Entry("q_source_cap",
      (s, d) => graft.ops.Relational.topKPerGroup(
        docs(s, d).withColumn("pick", md5(col("doc_id").cast("string"))),
        "source", "pick", Seq("doc_id"), k = 10)
        .select(col("source"), col("doc_id"), col("pick")),
      Some("SELECT source, doc_id, pick FROM (" +
        "SELECT source, doc_id, md5(CAST(doc_id AS VARCHAR)) AS pick, " +
        "row_number() OVER (PARTITION BY source " +
        "ORDER BY md5(CAST(doc_id AS VARCHAR)) DESC, doc_id) AS rn " +
        "FROM documents) WHERE rn <= 10 " +
        "ORDER BY source, pick DESC, doc_id")),
    Entry("q_simhash",
      (s, d) => Dedup.simhash64(
        docs(s, d).filter(pmod(col("doc_id"), lit(7)) === 0),
        "doc_id", "text"),
      None),
    // Document chunking for embedding/RAG pipelines: fixed 64-token
    // windows at stride 48 (16-token overlap), as one map-side
    // explode — no shuffle; the ordered output is the only sort. The
    // checked artifact keeps rows slim (chunk md5, not chunk text).
    // 1/13 doc slice bounds the dumped row count.
    Entry("q_doc_chunks",
      (s, d) => docs(s, d)
        .filter(pmod(col("doc_id"), lit(13)) === 0)
        .select(col("doc_id"), split(trim(col("text")), "\\s+").as("toks"))
        .select(col("doc_id"), col("toks"),
          explode(sequence(lit(1), size(col("toks")), lit(48))).as("st"))
        .select(col("doc_id"),
          floor((col("st") - 1) / 48.0).cast("int").as("chunk_id"),
          size(slice(col("toks"), col("st"), lit(64))).as("n_tokens"),
          md5(concat_ws(" ", slice(col("toks"), col("st"), lit(64))))
            .as("chunk_md5"))
        .orderBy("doc_id", "chunk_id"),
      Some("""WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
  FROM documents WHERE doc_id % 13 = 0),
s AS (SELECT doc_id, toks,
  unnest(generate_series(1, len(toks), 48)) AS st FROM t)
SELECT doc_id, CAST(floor((st - 1) / 48.0) AS INTEGER) AS chunk_id,
  CAST(len(list_slice(toks, st, st + 63)) AS INTEGER) AS n_tokens,
  md5(array_to_string(list_slice(toks, st, st + 63), ' ')) AS chunk_md5
FROM s ORDER BY doc_id, chunk_id""")),
    // MinHash signature accuracy vs the exact-Jaccard ground truth
    // (shares the corpus shingle table and the materialized pair DF):
    // the k-hash sizing measurement, queryable. rows-only (the exact
    // side is already oracle-checked via q_ngram_jaccard).
    Entry("q_minhash_accuracy",
      (s, d) => Dedup.minhashAccuracy(docShingles(s, d),
        jaccardPairs(s, d), numHashes = 16),
      None),
    // Portable twin of the accuracy harness above: md5 signatures make
    // the per-pair MinHash estimate, the exact-Jaccard reference, AND
    // the absolute error identical arithmetic on both engines — the
    // signature-sizing measurement is hash-checked pair by pair (est is
    // an exact multiple of 1/8; jaccard a single integer division; no
    // cross-partition float sums). Shares the persisted shingle and
    // pair tables.
    Entry("q_minhash_err_md5",
      (s, d) => Dedup.minhashErrPortable(docShingles(s, d),
        jaccardPairs(s, d)),
      Some(Dedup.minhashErrPortableSql("documents", "doc_id", "text",
        3, 0.5, 100))),
    // Engine-portable SimHash twin (md5 halves, BIGINT-safe): the ±1
    // bit-vote aggregation is hash-checked end-to-end; the xxhash64
    // entry above stays the production default.
    Entry("q_simhash_md5",
      (s, d) => Dedup.simhashMd5(
        docs(s, d).filter(pmod(col("doc_id"), lit(7)) === 0),
        "doc_id", "text"),
      Some(Dedup.simhashMd5Sql("documents", "doc_id", "text",
        "WHERE doc_id % 7 = 0"))),
    Entry("q_minhash_lsh",
      (s, d) => Dedup.minhashCandidates(docs(s, d), "doc_id", "text")
        .orderBy("id_a", "id_b"),
      None),
    // The same MinHash+LSH machinery with md5 (engine-portable) hashes,
    // so signatures, band buckets, the capped self-join, and the
    // candidate pairs are ORACLE-checked end-to-end (the xxhash64 path
    // above stays the production default; its check is rows-only
    // because no other engine reproduces Spark's xxhash64 seeds).
    // Shares the persisted corpus shingle table.
    Entry("q_minhash_lsh_md5",
      (s, d) => Dedup.minhashLshPortable(docShingles(s, d)),
      Some(Dedup.minhashLshPortableSql("documents", "doc_id", "text", 3))),
    // Winnowing (rolling-hash) document fingerprints: per-doc count +
    // min fingerprint (rows-only: JVM-hash-specific values).
    Entry("q_winnow_fp",
      (s, d) => TextOps.winnowingFingerprints(docs(s, d), "doc_id", "text")
        .select(col("doc_id"), size(col("fingerprints")).as("n_fp"),
          array_min(col("fingerprints")).as("min_fp"))
        .orderBy("doc_id"),
      None),
    // Winnowing portable twin (md5 gram hashes, per the simhash_md5 /
    // minhash_lsh_md5 precedent): the gram-extraction / window-min /
    // fingerprint-set machinery of q_winnow_fp, hash-checked
    // cross-engine. The rolling-hash production path above stays
    // rows-only (JVM-specific Karp–Rabin values).
    Entry("q_winnow_md5",
      (s, d) => TextOps.winnowMd5(docs(s, d), "doc_id", "text"),
      Some(TextOps.winnowMd5Sql("documents", "doc_id", "text"))),
    // Guarantee-gate twin of q_winnow_fp (the q_sketch_bounds
    // precedent): the Karp–Rabin fingerprint VALUES are JVM-specific
    // (rows-only above), but winnowing's structural contract is not —
    // with k=8-byte grams and window w=4 over n = max(0, bytes−7) gram
    // positions, a doc selects ≥1 fingerprint iff n ≥ 1, and at most
    // one distinct value per window start: n_fp ≤ max(1, n−w+1). The
    // gram count is pure byte arithmetic both engines compute from the
    // same UTF-8 payload, so the contract is hash-checked per doc.
    Entry("q_winnow_bounds",
      (s, d) => {
        val k = 8
        val w = 4
        val nFp = TextOps.winnowingFingerprints(docs(s, d), "doc_id", "text",
          k = k, window = w)
          .select(col("doc_id"), size(col("fingerprints")).as("n_fp"))
        val grams = docs(s, d).select(col("doc_id"),
          greatest(octet_length(coalesce(col("text"), lit(""))) - (k - 1),
            lit(0)).cast("long").as("n_grams"))
        nFp.join(grams, "doc_id")
          .select(col("doc_id"), col("n_grams"),
            when(col("n_grams") === 0, col("n_fp") === 0)
              .otherwise(col("n_fp") >= 1 &&
                col("n_fp") <= greatest(col("n_grams") - (w - 1), lit(1L)))
              .as("ok"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
  CAST(greatest(octet_length(encode(coalesce(text, ''))) - 7, 0)
    AS BIGINT) AS n_grams,
  true AS ok FROM documents ORDER BY doc_id""")),
    // Quality scoring (length/punct/stopword ratios) + BPE-ish token
    // counts: integer counts and single divisions, identical both
    // engines -> oracle-checked.
    Entry("q_quality_scores",
      (s, d) => {
        val scores = TextOps.qualityScores(col("text"))
          .map { case (n, c) => c.as(n) }
        docs(s, d).select(
          (col("doc_id") +: scores :+
            TextOps.bpeTokenCount(col("text")).as("n_bpe_tokens")): _*)
          .orderBy("doc_id")
      },
      Some {
        val scores = TextOps.qualityScoresSql("text")
          .map { case (n, sql) => s"$sql AS $n" }
        "SELECT doc_id, " + scores.mkString(", ") + ", " +
          TextOps.bpeTokenCountSql("text") +
          " AS n_bpe_tokens FROM documents ORDER BY doc_id"
      }),
    // Near-dup cluster size histogram (how much of the corpus sits in
    // 2-doc pairs vs mega-clusters — the dedup report a curation run
    // reads first). Reuses the cached component labels; two
    // label-sized aggregations.
    Entry("q_dedup_cluster_sizes",
      (s, d) => dedupComponents(s, d)
        .groupBy(col("comp")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz")).agg(count(lit(1)).as("n_clusters"))
        .orderBy("sz"),
      Some {
        val cc = Dedup.connectedComponentsSql(
          Dedup.ngramJaccardPairsSql("documents", "doc_id", "text", 3, 0.5,
            maxShingleDf = 100))
        s"""SELECT sz, count(*) AS n_clusters FROM (
  SELECT comp, count(*) AS sz FROM ($cc) GROUP BY comp)
GROUP BY sz ORDER BY sz"""
      }),
    // Cluster-representative selection — the curation step after
    // clustering: each near-dup cluster keeps its highest-quality
    // member (longest by token count, smallest id on ties), everything
    // else is the drop list. One max(struct) aggregation over the
    // cluster-sized label table (shared, computed once per dir) joined
    // to a map-side token count — partial-aggregable, no sort, no
    // window; at 100 TB the labels side is clusters-sized and the scan
    // side is the one corpus pass. Oracle: the same selection via a
    // window over the recursive-CTE closure + identical token SQL.
    Entry("q_dedup_keep_best",
      (s, d) => {
        // Tokenize AFTER the join (r20): the label table is
        // clusters-sized, so the token count evaluates on cluster
        // members only instead of over the whole corpus —
        // output-identical, one corpus-wide tokenization removed.
        val labeled = dedupComponents(s, d)
          .withColumnRenamed("id", "doc_id")
          .join(docs(s, d).select(col("doc_id"), col("text")), "doc_id")
          .select(col("doc_id"), col("comp"),
            TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
        labeled.groupBy(col("comp"))
          .agg(count(lit(1)).as("sz"),
            max(struct(col("n_tokens"), (-col("doc_id")).as("negid")))
              .as("m"))
          .select(col("comp"), col("sz"),
            col("m.n_tokens").as("n_tokens"),
            (-col("m.negid")).as("keep_id"))
          .orderBy("comp")
      },
      Some {
        val cc = Dedup.connectedComponentsSql(
          Dedup.ngramJaccardPairsSql("documents", "doc_id", "text", 3, 0.5,
            maxShingleDf = 100))
        s"""WITH cc AS ($cc),
t AS (SELECT doc_id, CAST(${TextOps.tokenCountSql("text")} AS BIGINT)
  AS n_tokens FROM documents),
j AS (SELECT cc.id AS doc_id, cc.comp, t.n_tokens
  FROM cc JOIN t ON t.doc_id = cc.id),
r AS (SELECT comp, doc_id, n_tokens,
  row_number() OVER (PARTITION BY comp
    ORDER BY n_tokens DESC, doc_id ASC) AS rn,
  count(*) OVER (PARTITION BY comp) AS sz FROM j)
SELECT comp, CAST(sz AS BIGINT) AS sz, n_tokens, doc_id AS keep_id
FROM r WHERE rn = 1 ORDER BY comp"""
      }),
    // Scale-audit twin of q_dedup_keep_best: the IDENTICAL generic
    // pipeline (capped posting lists → map-side pair generation →
    // label-propagation components → one max(struct) keep-best
    // aggregation) run at jaccard threshold 1.0 — where the closure is
    // an EQUIVALENCE (jaccard==1 iff the rare-shingle sets are equal),
    // so the oracle is a linear GROUP BY over a canonical set
    // fingerprint instead of a recursive CTE. The 0.5-threshold
    // entry's recursive-CTE oracle dies on DuckDB spill at derived
    // 100x (replication-sized cliques); this one scales with the
    // operator, so the decade audit can gate keep-best at ANY sf.
    // Exact-set matching is not a toy: it is the containment-dedup
    // criterion run before fuzzy passes in curation pipelines.
    Entry("q_dedup_keep_best_eq",
      (s, d) => {
        // The base corpus has no equal-set groups at small sf, so the
        // entry PLANTS one duplicate of every 50th doc — offset
        // DERIVED from the data (max id + 1), never a fixed constant:
        // derived-scale dirs push doc_ids to ~1e15 where any fixed
        // offset eventually collides (the q_merge_upsert lesson). Both
        // engines compute the same offset, so ids stay comparable.
        val base = docs(s, d).select(col("doc_id"), col("text"))
        val off = base.agg(max(col("doc_id"))).head().getLong(0) + 1L
        val all = base.unionByName(
          base.filter(pmod(col("doc_id"), lit(50)) === 0)
            .select((col("doc_id") + lit(off)).as("doc_id"), col("text")))
        // Planted duplicates are byte-identical texts, so their
        // shingle rows are exactly the source docs' shingle rows with
        // shifted ids — derived from the SHARED corpus shingle
        // materialization (r20) instead of re-tokenizing and
        // re-shingling the whole unioned corpus on every call. The
        // resulting (id, shingle) table is row-identical to
        // explodeShingles(all) by construction.
        val shBase = docShingles(s, d)
        val shAll = shBase.unionByName(
          shBase.filter(pmod(col("id"), lit(50)) === 0)
            .select((col("id") + lit(off)).as("id"), col("shingle")))
        // r21: at threshold 1.0 the PREFIX-filtered strategy is the
        // cheap one — each doc's prefix is its single rarest shingle
        // (|x| − ⌈1.0·|x|⌉ + 1 = 1), so candidates are docs sharing
        // their rarest shingle and the posting-list cap²/2 pair
        // expansion never happens. Output equality of the two
        // strategies is spec-pinned at every threshold incl. 1.0
        // (OpsSpec "prefix-filtered jaccard join equals the
        // posting-list pipeline"), and this entry's oracle hash-gates
        // the final keep-best rows.
        val pairs = Dedup.ngramJaccardPairsPrefix(
          shAll, 1.0, maxShingleDf = 100)
        // Tokenize AFTER the join (r20): cluster members only, not
        // the whole unioned corpus — output-identical.
        val labeled = Dedup.connectedComponents(pairs, "id_a", "id_b",
          reliableEvery = reliableIterateRounds(s))
          .withColumnRenamed("id", "doc_id")
          .join(all, "doc_id")
          .select(col("doc_id"), col("comp"),
            TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
        labeled.groupBy(col("comp"))
          .agg(count(lit(1)).as("sz"),
            max(struct(col("n_tokens"), (-col("doc_id")).as("negid")))
              .as("m"))
          .select(col("comp"), col("sz"),
            col("m.n_tokens").as("n_tokens"),
            (-col("m.negid")).as("keep_id"))
          .orderBy("comp")
      },
      Some {
        // Rare-shingle-set fingerprint groups: same tokenization,
        // same distinct 3-gram shingles, same df<=100 rarity cap as
        // the Spark pipeline; a cluster is a >=2-doc group sharing the
        // exact rare set (tokens cannot contain whitespace, so the
        // newline-joined sorted set is collision-free).
        s"""WITH uni AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents), text
  FROM documents WHERE doc_id % 50 = 0
), toks AS (
  SELECT doc_id AS id, u.tok, u.pos
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS arr
        FROM uni),
  LATERAL (SELECT unnest(arr) AS tok, generate_subscripts(arr, 1) AS pos) u
), sh0 AS (
  SELECT DISTINCT id, tok || ' ' || lead(tok, 1) OVER w || ' ' ||
    lead(tok, 2) OVER w AS shingle
  FROM toks WINDOW w AS (PARTITION BY id ORDER BY pos)
  QUALIFY lead(tok, 2) OVER w IS NOT NULL
), sh AS (
  SELECT id, shingle FROM sh0
  WHERE shingle IN (SELECT shingle FROM sh0 GROUP BY shingle
                    HAVING count(*) <= 100)
), k AS (
  SELECT id, md5(string_agg(shingle, chr(10) ORDER BY shingle)) AS fp
  FROM sh GROUP BY id
), grp AS (
  SELECT fp, CAST(count(*) AS BIGINT) AS sz, min(id) AS comp
  FROM k GROUP BY fp HAVING count(*) >= 2
), t AS (
  SELECT doc_id, CAST(${TextOps.tokenCountSql("text")} AS BIGINT)
    AS n_tokens FROM uni
), j AS (
  SELECT k.id AS doc_id, grp.comp, grp.sz, t.n_tokens
  FROM k JOIN grp USING (fp) JOIN t ON t.doc_id = k.id
), r AS (
  SELECT comp, sz, doc_id, n_tokens,
    row_number() OVER (PARTITION BY comp
      ORDER BY n_tokens DESC, doc_id ASC) AS rn
  FROM j)
SELECT comp, sz, n_tokens, doc_id AS keep_id
FROM r WHERE rn = 1 ORDER BY comp"""
      }),
    // Leakage-safe train/val/test split: every near-dup CLUSTER lands
    // in exactly one split (split = hash of the cluster's canonical
    // min-id representative, singletons keep their own id) — the
    // eval-contamination guard a per-document hash split cannot give.
    // No cluster can span splits BY CONSTRUCTION; the artifact's
    // per-split doc and group counts hash-check the composition of
    // components + hash-split against the recursive-CTE closure.
    // Cluster labels are shared with q_dedup_components (computed once
    // per dir); the label table is clusters-sized, so the left join
    // broadcasts.
    Entry("q_leakage_split",
      (s, d) => docs(s, d)
        .join(dedupComponents(s, d).withColumnRenamed("id", "doc_id"),
          Seq("doc_id"), "left")
        .select(coalesce(col("comp"), col("doc_id")).as("rep"))
        .select(Corpus.hashSplit(col("rep")).as("split"), col("rep"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("rep")).as("n_groups"))
        .orderBy("split"),
      Some {
        val cc = Dedup.connectedComponentsSql(
          Dedup.ngramJaccardPairsSql("documents", "doc_id", "text", 3, 0.5,
            maxShingleDf = 100))
        val rep = "coalesce(c.comp, d.doc_id)"
        s"""SELECT split, count(*) AS n_docs,
  count(DISTINCT rep) AS n_groups
FROM (
  SELECT $rep AS rep, ${Corpus.hashSplitSql(rep)} AS split
  FROM documents d LEFT JOIN ($cc) c ON c.id = d.doc_id)
GROUP BY split ORDER BY split"""
      }),
    // Incremental (continuous-ingestion) dedup: the doc_id%5==0 slice
    // arrives as a new batch; the rest is the frozen corpus whose
    // fingerprint index the batch anti-joins. Batch-vs-corpus overlap
    // and within-batch dups both exercised (this corpus has exact
    // duplicate texts across the split).
    Entry("q_incremental_dedup",
      (s, d) => Dedup.incrementalDedup(
        docs(s, d).filter(pmod(col("doc_id"), lit(5)) === 0),
        docs(s, d).filter(pmod(col("doc_id"), lit(5)) =!= 0),
        "doc_id", "text"),
      Some(Dedup.incrementalDedupSql(
        "SELECT * FROM documents WHERE doc_id % 5 = 0",
        "SELECT * FROM documents WHERE doc_id % 5 <> 0",
        "doc_id", "text"))),
    // Gopher repetition filters (top-2-gram / duplicate-5-gram char
    // fractions) per document — integer-count divisions, hash-checked.
    Entry("q_repetition",
      (s, d) => TextOps.repetitionSignals(docs(s, d), "doc_id", "text"),
      Some(TextOps.repetitionSignalsSql("documents", "doc_id", "text"))),
    // Unicode canonicalization (codegen'd NFC Expression — Spark has no
    // built-in — plus control-strip + whitespace collapse). The text is
    // decorated IDENTICALLY on both sides with decomposed sequences
    // (e+U+0301, A+U+030A), a control char, and double spaces, so the
    // oracle checks real normalization work, not an ASCII no-op:
    // len_clean < len_raw iff NFC actually composed characters.
    Entry("q_text_normalize",
      (s, d) => {
        graft.functions.NfcNormalize.ensureRegistered(s)
        docs(s, d)
        .select(col("doc_id"),
          concat(substring(col("text"), 1, 40),
            lit(" cafe\u0301  A\u030Arhus \u0007 x ")).as("raw"))
        .select(col("doc_id"), length(col("raw")).as("len_raw"),
          TextOps.cleanText(col("raw")).as("cleaned"))
        .select(col("doc_id"), col("len_raw"),
          length(col("cleaned")).as("len_clean"),
          md5(col("cleaned")).as("md5_clean"))
        .orderBy("doc_id")
      },
      Some {
        val raw = "substring(text, 1, 40) || ' cafe' || chr(769) || " +
          "'  A' || chr(778) || 'rhus ' || chr(7) || ' x '"
        val cleaned = TextOps.cleanTextSql(raw)
        s"SELECT doc_id, CAST(length($raw) AS INTEGER) AS len_raw, " +
          s"CAST(length($cleaned) AS INTEGER) AS len_clean, " +
          s"md5($cleaned) AS md5_clean FROM documents ORDER BY doc_id"
      }),
    // Pure-SQL surface of the registered function ladder: the codegen'd
    // NFC Expression invoked BY NAME from SQL text (the graft_nfc name
    // GraftExtensions injects; ensureRegistered is the extensions-free
    // twin) — a SQL-only user of the library gets the custom function
    // without touching the Scala API, and the result lands under the
    // oracle gate via DuckDB's native nfc_normalize. Complements
    // q_text_normalize, which exercises the same Expression through the
    // Column API.
    Entry("q_sql_functions",
      (s, d) => {
        graft.functions.NfcNormalize.ensureRegistered(s)
        docs(s, d).createOrReplaceTempView("documents")
        s.sql(
          "SELECT doc_id, " +
            "md5(graft_nfc(concat(substring(text, 1, 40), " +
            "' café Å'))) AS nfc_md5, " +
            "length(graft_nfc(concat(substring(text, 1, 40), " +
            "' café Å'))) AS len_nfc " +
            "FROM documents WHERE doc_id % 25 = 0 ORDER BY doc_id")
      },
      Some("SELECT doc_id, " +
        "md5(nfc_normalize(substr(text, 1, 40) || ' cafe' || chr(769) || " +
        "' A' || chr(778))) AS nfc_md5, " +
        "CAST(length(nfc_normalize(substr(text, 1, 40) || ' cafe' || " +
        "chr(769) || ' A' || chr(778))) AS INTEGER) AS len_nfc " +
        "FROM documents WHERE doc_id % 25 = 0 ORDER BY doc_id")),
    // Heavy hitters via the Misra–Gries custom aggregate: O(k) state
    // per buffer, k-entry summaries are the only shuffled bytes — the
    // frequent-token scan that works against an open-web vocabulary
    // where groupBy(term).count shuffles a row per distinct term. The
    // exact counts are joined alongside as the measured-accuracy
    // harness (underestimate ≤ N/(k+1), asserted in OpsSpec across
    // partition layouts); the surviving tail-term set is
    // partitioning-dependent by design -> rows-only.
    Entry("q_heavy_hitters",
      (s, d) => {
        graft.functions.MisraGriesTopK.ensureRegistered(s)
        val toks = docs(s, d)
          .select(explode(split(trim(col("text")), "\\s+")).as("tok"))
        val mg = toks
          .agg(expr(s"${graft.functions.MisraGriesTopK.name}(tok, 64)")
            .as("hh"))
          .select(explode(col("hh")).as("h"))
          .select(col("h.term").as("term"), col("h.est").as("est"))
        val exact = toks.groupBy(col("tok").as("term"))
          .agg(count(lit(1)).as("exact_cnt"))
        mg.join(exact, "term")
          .withColumn("underestimate", col("exact_cnt") - col("est"))
          .orderBy(desc("exact_cnt"), col("term"))
      },
      None),
    // The Misra–Gries GUARANTEE itself, oracle-ized: any term whose
    // exact count exceeds N/(k+1) MUST survive the k-counter summary,
    // so the guaranteed head — MG output ∩ {exact_cnt > N/(k+1)}, exact
    // counts joined — is a deterministic, partitioning-independent set
    // that DuckDB reproduces from exact counts alone. If the aggregate
    // ever dropped a guaranteed term, the inner join would lose its row
    // and the hash check would fail: the oracle gate IS the containment
    // proof (complementing OpsSpec's cross-layout property test).
    Entry("q_heavy_hitters_head",
      (s, d) => {
        graft.functions.MisraGriesTopK.ensureRegistered(s)
        val toks = docs(s, d)
          .select(explode(split(trim(col("text")), "\\s+")).as("tok"))
        val mg = toks
          .agg(expr(s"${graft.functions.MisraGriesTopK.name}(tok, 64)")
            .as("hh"))
          .select(explode(col("hh")).as("h"))
          .select(col("h.term").as("term"))
        val exact = toks.groupBy(col("tok").as("term"))
          .agg(count(lit(1)).as("exact_cnt"))
        val total = toks.agg(count(lit(1)).as("n_tok"))
        mg.join(exact, "term")
          .crossJoin(broadcast(total))
          .filter(col("exact_cnt") > col("n_tok") / 65.0)
          .select(col("term"), col("exact_cnt"))
          .orderBy("term")
      },
      Some("""WITH toks AS (
  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS term
  FROM documents
), tot AS (SELECT count(*) AS n_tok FROM toks)
SELECT term, count(*) AS exact_cnt FROM toks, tot
GROUP BY term, n_tok HAVING count(*) > n_tok / 65.0 ORDER BY term""")),
    // Exact per-group top-k via the bounded-buffer NATIVE aggregate
    // (functions/BoundedTopK.scala) — the single-pass successor of
    // q_topk_per_group's two-phase mapPartitions prune: one
    // ObjectHashAggregate whose buffers hold <= k (score, id) pairs, so
    // only k-entry summaries cross the exchange, group skew collapses
    // at the mappers, and no second window pass runs at all. The
    // tie-break (score DESC, id ASC) is total, so the result is
    // deterministic and the ORACLE IS the window form — the equality
    // gate proves the two plans compute the same relation while the
    // spec pins the plan shape (partial ObjectHashAggregate, no
    // data-sized sort).
    Entry("q_topk_agg",
      (s, d) => {
        graft.functions.BoundedTopK.ensureRegistered(s)
        Tables.read(s, d, "customer")
          .groupBy(col("c_nationkey"))
          .agg(expr(s"${graft.functions.BoundedTopK.name}" +
            "(c_acctbal, c_custkey, 3)").as("top"))
          .select(col("c_nationkey"), posexplode(col("top")))
          .select(col("c_nationkey"),
            (col("pos") + 1).cast("int").as("rank"),
            col("col.id").as("c_custkey"),
            col("col.score").as("c_acctbal"))
          .orderBy("c_nationkey", "rank")
      },
      Some("""SELECT c_nationkey, CAST(rn AS INTEGER) AS rank, c_custkey, c_acctbal
FROM (SELECT c_nationkey, c_custkey, c_acctbal,
        row_number() OVER (PARTITION BY c_nationkey
          ORDER BY c_acctbal DESC, c_custkey) AS rn
      FROM customer)
WHERE rn <= 3 ORDER BY c_nationkey, rank""")),
    // MLlib Pipeline ops (the north star's named surface): TF-IDF stats
    // and MinHashLSH candidates. Deterministic but engine-specific
    // hashing -> rows-only checks.
    Entry("q_tfidf_stats",
      (s, d) => graft.ops.MlPipeline.tfidfStats(docs(s, d), "doc_id", "text"),
      None),
    // Guarantee-gate twin of q_tfidf_stats: HashingTF bucket counts are
    // engine-specific (murmur3 mod 2^14), but hashing can only MERGE
    // terms, never split them — per doc, the occupied-bucket count is
    // ≤ min(exact distinct tokens, numFeatures) and ≥ 1 iff the doc has
    // any token. The exact distinct-token count (raw bytes, no
    // lowercasing — a superset bound of the tokenizer's lowercased
    // vocabulary, so the inequality is locale-proof) is byte-identical
    // arithmetic both engines compute, so the contract is hash-checked
    // for every doc.
    Entry("q_tfidf_gate",
      (s, d) => {
        val stats = graft.ops.MlPipeline.tfidfStats(
          docs(s, d), "doc_id", "text")
        val exact = docs(s, d).select(col("doc_id"),
          coalesce(size(array_distinct(filter(
            split(col("text"), "\\s+"), x => length(x) > 0))), lit(0))
            .cast("long").as("n_exact_terms"))
        stats.join(exact, "doc_id")
          .select(col("doc_id"), col("n_exact_terms"),
            ((col("n_terms") <= least(col("n_exact_terms"), lit(16384L))) &&
              ((col("n_terms") >= 1) === (col("n_exact_terms") >= 1)))
              .as("ok"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
  CAST(len(list_filter(list_distinct(
    regexp_split_to_array(coalesce(text, ''), '\s+')), x -> x <> ''))
    AS BIGINT) AS n_exact_terms,
  true AS ok FROM documents ORDER BY doc_id""")),
    // Exact-integer df/tf census beside the float TF-IDF stats
    // (closing an r12 rows-only-tail ask): per lowercased whitespace
    // term — mirroring MLlib's Tokenizer normalization — the document
    // frequency (the IDF sufficient statistic) and total term
    // frequency, top-100 by (df, tf, term). Pure integer counts, so
    // the census that DRIVES the rows-only TF-IDF weights is itself
    // under the oracle. One explode feeds one (term, doc) distinct
    // aggregation; the ranked prefix runs as TakeOrdered — the
    // vocabulary-census shape that scales to any corpus.
    Entry("q_tfidf_census",
      (s, d) => docs(s, d)
        .select(col("doc_id"),
          explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
        .filter(col("term") =!= "")
        .groupBy("term")
        .agg(countDistinct(col("doc_id")).as("df"),
          count(lit(1)).as("tf"))
        .orderBy(col("df").desc, col("tf").desc, col("term"))
        .limit(100),
      Some("""WITH toks AS (
  SELECT doc_id, u.term
  FROM (SELECT doc_id,
          regexp_split_to_array(lower(trim(text)), '\s+') AS arr
        FROM documents),
  LATERAL (SELECT unnest(arr) AS term) u
  WHERE u.term <> '')
SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
  CAST(count(*) AS BIGINT) AS tf
FROM toks GROUP BY term
ORDER BY df DESC, tf DESC, term LIMIT 100""")),
    // Model-based quality filter (LR over the quality signals, weak
    // labels from the Gopher thresholds): the classifier step of a
    // GPT-3/CCNet-style pipeline. rows-only (LBFGS float accumulation
    // is not engine-portable); the signal columns and the threshold
    // labels ARE hash-checked via q_quality_scores/q_quality_filter.
    Entry("q_quality_classifier",
      (s, d) => classifierScores(s, d),
      None),
    // Guarantee-gate twin of q_quality_classifier: the LBFGS
    // probabilities stay rows-only, but (a) the weak-label count is
    // exact threshold arithmetic DuckDB reproduces from the same
    // signals, and (b) the fitted model must have LEARNED the signal —
    // mean p_keep strictly higher on weak-positives than on
    // weak-negatives, and ≥60% label agreement (the weak labels are a
    // CONJUNCTION of thresholds, which a linear model can only
    // approximate — measured 69% at sf0.01 — so the bar gates
    // direction + majority recovery, not separability the model class
    // cannot deliver). Deterministic for fixed data: LBFGS over a
    // fixed frame converges to the same optimum.
    Entry("q_classifier_gate",
      (s, d) => {
        import s.implicits._
        val out = classifierScores(s, d)
        val a = out.agg(count(lit(1)).as("n"),
          sum(col("weak_label")).cast("long").as("pos"),
          sum(when(col("model_keep") === col("weak_label"), 1L)
            .otherwise(0L)).as("agree"),
          avg(when(col("weak_label") === 1.0, col("p_keep"))).as("p_pos"),
          avg(when(col("weak_label") === 0.0, col("p_keep"))).as("p_neg"))
          .head()
        Seq(("classifier_weak_agreement", a.getLong(1),
          a.getLong(2).toDouble / a.getLong(0) >= 0.6 &&
            a.getDouble(3) > a.getDouble(4)))
          .toDF("metric", "exact_ref", "ok")
      },
      Some {
        val qs = TextOps.qualityScoresSql("text").toMap
        "SELECT 'classifier_weak_agreement' AS metric, " +
          s"CAST(sum(CASE WHEN (${qs("n_tokens")}) >= 30 " +
          s"AND COALESCE(${qs("stopword_ratio")}, 0) > 0 " +
          s"AND COALESCE(${qs("dup_token_frac")}, 0) < 0.6 " +
          "THEN 1 ELSE 0 END) AS BIGINT) AS exact_ref, " +
          "true AS ok FROM documents"
      }),
    // Exact TF-IDF over real whitespace terms — the declarative,
    // engine-portable twin of the hashed MLlib pipeline above, so the
    // TF-IDF family has a hash-checked row (the MLlib entry is rows-only
    // by nature of HashingTF's engine-specific buckets).
    Entry("q_tfidf_exact",
      (s, d) => TextOps.tfidfExact(docs(s, d), "doc_id", "text"),
      Some(TextOps.tfidfExactSql("documents", "doc_id", "text"))),
    // Zipf power-law fit over the term-frequency distribution: the
    // closed-form log-log least-squares slope/intercept over the top-N
    // ranks — a one-row "does this corpus look like natural language"
    // gate (slope ≈ −1 is Zipfian). One term-keyed shuffle +
    // TakeOrdered; the regression folds N rows inside the plan.
    Entry("q_zipf_fit",
      (s, d) => TextOps.zipfFit(docs(s, d), "text", topN = 30),
      Some(TextOps.zipfFitSql("documents", "text", topN = 30))),
    // N-gram language-model counts: top-50 bigrams by OCCURRENCE (not
    // the dedup pipeline's distinct-shingle sets). Map-side explode +
    // one partial-agg shuffle; the ranked prefix runs as TakeOrdered.
    // Ties broken by the bigram itself so the top-50 set is unique.
    Entry("q_bigram_counts",
      (s, d) => docs(s, d)
        .select(explode(TextOps.ngramArray(col("text"), 2)).as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("bigram")).limit(50),
      Some(bigramCte + """
SELECT bigram, count(*) AS cnt FROM grams
GROUP BY bigram ORDER BY cnt DESC, bigram LIMIT 50""")),
    // Bigram language-model familiarity: each document scored by the
    // summed corpus frequency of its bigram occurrences — the
    // integer-exact analog of KenLM-style perplexity filtering
    // (log-prob sums would float-diverge across engines; counts
    // cannot). The expensive explode feeds ONE (doc, bigram)
    // term-frequency aggregation; the global counts and the join both
    // derive from that shuffle, so exchange reuse runs the explode once
    // (joining raw occurrences against counts instead ran it twice —
    // measured 2× the time at sf0.3). Single-token docs have no bigrams
    // and drop out of both sides identically.
    Entry("q_lm_familiarity",
      (s, d) => {
        val tf = docs(s, d).select(col("doc_id"),
          explode(TextOps.ngramArray(col("text"), 2)).as("bigram"))
          .groupBy("doc_id", "bigram").agg(count(lit(1)).as("tf"))
        val global = tf.groupBy("bigram").agg(sum(col("tf")).as("cnt"))
        tf.join(global, "bigram")
          .groupBy("doc_id")
          .agg(sum(col("tf")).as("n_bigrams"),
            sum(col("tf") * col("cnt")).as("familiarity"))
          .orderBy("doc_id")
      },
      Some(bigramCte + """
, cnts AS (SELECT bigram, count(*) AS cnt FROM grams GROUP BY bigram)
SELECT doc_id, count(*) AS n_bigrams,
  CAST(sum(cnt) AS BIGINT) AS familiarity
FROM grams JOIN cnts USING (bigram)
GROUP BY doc_id ORDER BY doc_id""")),
    // PMI collocation mining (word2phrase / phrase-detection): bigrams
    // whose corpus lift c_xy·N / (c_x·c_y) exceeds 3/2, selected by
    // INTEGER cross-multiplication (2·c_xy·N > 3·c_x·c_y) so the float
    // log never exists and both engines compare exact BIGINTs. The
    // min-count filter runs BEFORE the unigram joins (candidate
    // pruning first), and the unigram table is vocab-sized — both
    // joins broadcast; the only corpus-sized shuffles are the two
    // censuses. Overflow envelope is require()d loud on the ACTUAL
    // products (r11 advisor fix): both sides of the comparison are
    // bounded by the max unigram count — c_xy <= c_max gives
    // 2·c_xy·N <= 2·c_max·N and 3·c_x·c_y <= 3·c_max² — so the guard
    // checks those two envelopes in double arithmetic (a raw
    // n < 2^42 bound passes long after 3·c_x·c_y wraps, and Spark
    // wraps silently under non-ANSI while DuckDB errors).
    Entry("q_pmi_colloc",
      (s, d) => {
        val toks = docs(s, d).filter(trim(col("text")) =!= "")
          .select(explode(split(trim(col("text")), "\\s+")).as("tok"))
        val uni = toks.groupBy("tok").agg(count(lit(1)).as("c"))
        // One scalar action yields both N (= sum of unigram counts)
        // and c_max — same single corpus pass the old count() paid.
        val env = uni.agg(coalesce(sum(col("c")), lit(0L)),
          coalesce(max(col("c")), lit(0L))).head()
        val n = env.getLong(0)
        val cMax = env.getLong(1)
        require(3.0 * cMax * cMax < Long.MaxValue.toDouble &&
          2.0 * cMax * n < Long.MaxValue.toDouble,
          s"q_pmi_colloc: unigram envelope (n=$n, c_max=$cMax) would " +
            "overflow the integer cross-multiplication; rescale counts " +
            "by a common 2^k before comparing lifts")
        val big = docs(s, d)
          .select(explode(TextOps.ngramArray(col("text"), 2)).as("bigram"))
          .groupBy("bigram").agg(count(lit(1)).as("c_xy"))
          .filter(col("c_xy") >= 10)
        big
          .withColumn("l", split(col("bigram"), " ").getItem(0))
          .withColumn("r", split(col("bigram"), " ").getItem(1))
          .join(broadcast(uni.select(col("tok").as("l"),
            col("c").as("c_x"))), "l")
          .join(broadcast(uni.select(col("tok").as("r"),
            col("c").as("c_y"))), "r")
          .filter(lit(2L) * col("c_xy") * lit(n) >
            lit(3L) * col("c_x") * col("c_y"))
          .select(col("bigram"), col("c_xy"), col("c_x"), col("c_y"))
          .orderBy("bigram")
      },
      Some(bigramCte + """
, uni AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
n AS (SELECT count(*) AS n FROM toks),
big AS (SELECT bigram, count(*) AS c_xy FROM grams GROUP BY bigram
        HAVING count(*) >= 10)
SELECT bigram, c_xy, ul.c AS c_x, ur.c AS c_y
FROM big
JOIN uni ul ON split_part(bigram, ' ', 1) = ul.tok
JOIN uni ur ON split_part(bigram, ' ', 2) = ur.tok
CROSS JOIN n
WHERE 2 * c_xy * n.n > 3 * ul.c * ur.c
ORDER BY bigram""")),
    // DSIR-style importance statistics (Xie et al., "Data Selection
    // for Language Models via Importance Resampling"): per document,
    // the EXACT sufficient statistics of the n-gram importance weight
    // against a target slice (lang='en') vs the background (the rest)
    // — summed target-corpus and background-corpus frequencies of the
    // doc's token occurrences, plus the corpus totals needed to
    // normalize. The float log-ratio weight itself is a driver-side
    // detail (and would float-diverge across engines); the integer
    // statistics it is computed from cannot. Scale shape: one token
    // explode feeds ONE (token) frequency aggregation carrying both
    // slice counts as sum(when) — a single shuffle — then a
    // token-keyed join back and a doc-keyed partial agg.
    Entry("q_dsir_stats",
      (s, d) => {
        val toks = docs(s, d).filter(trim(col("text")) =!= "")
          .select(col("doc_id"), col("lang"),
            explode(split(trim(col("text")), "\\s+")).as("tok"))
        val freq = toks.groupBy("tok")
          .agg(sum(when(col("lang") === "en", 1L).otherwise(0L))
              .as("cnt_t"),
            sum(when(col("lang") =!= "en", 1L).otherwise(0L)).as("cnt_b"))
        toks.join(freq, "tok")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_toks"),
            sum(col("cnt_t")).as("fam_target"),
            sum(col("cnt_b")).as("fam_background"))
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (
  SELECT doc_id, lang, unnest(regexp_split_to_array(trim(text), '\s+'))
    AS tok
  FROM documents WHERE trim(text) <> ''
), freq AS (
  SELECT tok,
    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
      AS cnt_t,
    CAST(sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT)
      AS cnt_b
  FROM toks GROUP BY tok)
SELECT doc_id, count(*) AS n_toks,
  CAST(sum(cnt_t) AS BIGINT) AS fam_target,
  CAST(sum(cnt_b) AS BIGINT) AS fam_background
FROM toks JOIN freq USING (tok)
GROUP BY doc_id ORDER BY doc_id""")),
    // BPE-ish tokenizer vocabulary build: top-50 pre-tokens (letter
    // runs / digit runs / single symbols) by corpus frequency — the
    // vocabulary-candidate scan a tokenizer-training pipeline starts
    // from. Same RE2-safe pattern as the per-doc count entry.
    Entry("q_bpe_vocab",
      (s, d) => docs(s, d)
        .select(explode(regexp_extract_all(col("text"),
          lit(TextOps.bpeTokenPattern), lit(0))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token")).limit(50),
      Some("SELECT token, count(*) AS cnt FROM (SELECT " +
        s"unnest(regexp_extract_all(text, '${TextOps.bpeTokenPattern}')) " +
        "AS token FROM documents) GROUP BY token " +
        "ORDER BY cnt DESC, token LIMIT 50")),
    // BPE merge LEARNING — tokenizer training as a catalog operator:
    // the first 6 merge rules learned from the corpus (most-frequent
    // adjacent symbol pair per round, greedy regex application, ties
    // broken lexicographically). One corpus shuffle builds the word
    // frequency table; every round after that is vocab-sized. The
    // oracle unrolls the identical 6 rounds as chained DuckDB CTEs.
    Entry("q_bpe_merges",
      (s, d) => TextOps.bpeMerges(docs(s, d), "text", k = 6),
      Some(TextOps.bpeMergesSql("documents", "text", k = 6))),
    // BPE ENCODE — the other half of the tokenizer lifecycle (vocab
    // scan → merge learning → APPLY): the top-30 symbol distribution
    // the 6-merge tokenizer produces over the corpus. Same one-corpus-
    // shuffle + vocab-sized-rounds shape as the learner; the histogram
    // is one more vocab-sized aggregate. Oracle: the identical 6
    // unrolled stages, then the histogram over the final word table.
    Entry("q_bpe_encode",
      (s, d) => TextOps.bpeEncodedVocab(docs(s, d), "text", k = 6,
        topN = 30),
      Some(TextOps.bpeEncodedVocabSql("documents", "text", k = 6,
        topN = 30))),
    // MLlib LSH interop via the bucket-CAPPED candidate join: the same
    // fitted MinHashLSHModel supplies the hash values, but candidates
    // come from a (table, hash)-bucket self-join with a count-window
    // cap — the approxSimilarityJoin failure mode (one hot bucket →
    // B² join rows) cannot occur, so the entry runs UNSLICED at any
    // scale factor. Parity with the uncapped library join on cap-free
    // corpora is spec-pinned (OpsSpec); the uncapped wrapper survives
    // as the interop cross-check it always was.
    Entry("q_minhash_lsh_ml",
      (s, d) => graft.ops.MlPipeline.minhashLshCandidatesCapped(
        docs(s, d),
        "doc_id", "text", numHashTables = 5, maxJaccardDist = 0.5,
        maxBucketSize = 64),
      None),
    // Multimodal binary-column stats (documents lifted into the
    // binary-asset schema; oracle via DuckDB BLOB functions).
    Entry("q_multimodal_stats",
      (s, d) => Multimodal.stats(
        Multimodal.fromText(docs(s, d), "doc_id", "text")),
      Some(Multimodal.statsSql("documents", "doc_id", "text"))),
    // Batched per-partition byte-histogram features over binary payloads
    // (real mapPartitions decode plumbing). Oracle-checked since r9:
    // rounding entropy AND the Float-normalized bin (whose float cast
    // the DuckDB SQL mirrors with a REAL round-trip) to 6 decimals
    // makes the full feature arithmetic engine-portable — the
    // math.round(x·1e6)/1e6 convention q_multimodal_bytes proved green.
    Entry("q_multimodal_features",
      (s, d) => Multimodal.byteHistogramFeatures(
        Multimodal.fromText(docs(s, d), "doc_id", "text"), bins = 16)
        .select(col("asset_id"),
          (floor(col("byte_entropy") * 1e6 + 0.5) / 1e6).as("byte_entropy"),
          (floor(element_at(col("features"), 1).cast("double") * 1e6 + 0.5)
            / 1e6).as("f0"))
        .orderBy("asset_id"),
      Some(Multimodal.featureProjectionSql("documents", "doc_id", "text"))),
    // REAL multi-frame VIDEO decode — the last modality off the stub
    // path (r11 verdict ask #6): four deterministic RGB frames per doc
    // id, each compressed to actual PNG bytes by ImageIO and packed
    // into a length-prefixed container (the motion-JPEG/NAL stream
    // shape), then the container is walked, every frame decoded
    // through the same codec, and the exact integer stats must equal
    // the closed form — including the LAST frame's red sum, which
    // pins frame order. Encode and decode are both mapPartitions over
    // the binary column: per-split, shuffle-free, the 100 TB media
    // pipeline shape.
    Entry("q_multimodal_decode",
      (s, d) => Multimodal.decodeVideoStats(
        Multimodal.videoAssets(docs(s, d), "doc_id", edge = 8,
          nFrames = 4))
        .orderBy("asset_id"),
      Some(Multimodal.decodeVideoStatsSql("documents", "doc_id",
        edge = 8, nFrames = 4))),
    // REAL image decode — the former honest-frontier stub closed for
    // the image modality: a deterministic RGB image per doc id is
    // compressed to actual PNG bytes by the JDK's ImageIO codec on
    // executors, decoded BACK through the same codec, and the exact
    // integer channel sums must equal the generator's closed form —
    // PNG is lossless, so any codec/byte-order/color-model defect
    // breaks the hash loudly. Both encode and decode are
    // mapPartitions over the binary column: the exact shape a 100 TB
    // crawl pipeline runs per input split, no shuffle. (Audio/video
    // codecs remain absent from the container; their plumbing stays
    // on the documented stub path above.)
    Entry("q_image_decode",
      (s, d) => Multimodal.decodeImageStats(
        Multimodal.pngAssets(docs(s, d), "doc_id", edge = 8))
        .orderBy("asset_id"),
      Some(Multimodal.decodeImageStatsSql("documents", "doc_id",
        edge = 8))),
    // Decode + THUMBNAIL resize: the same real PNG decode followed by
    // a factor-2 nearest-neighbor downsample — the sampling rule is
    // chosen closed-form (output (x,y) = input (2x,2y)); an
    // area-averaging resampler's rounding is platform arithmetic and
    // belongs behind a bounds gate, not a hash gate.
    Entry("q_image_resize",
      (s, d) => Multimodal.decodeResizeStats(
        Multimodal.pngAssets(docs(s, d), "doc_id", edge = 8))
        .orderBy("asset_id"),
      Some(Multimodal.decodeResizeStatsSql("documents", "doc_id",
        edge = 8))),
    // REAL audio decode — javax.sound's WAV codec end-to-end:
    // deterministic 16-bit PCM wrapped as actual WAV bytes on
    // executors, parsed back through the same codec; frame count,
    // sample rate, and the exact integer sample sum gate the container
    // parsing, endianness, and sign handling against the generator's
    // closed form (PCM-in-WAV is lossless). Video containers remain
    // absent from the JDK — that half stays on the documented stub.
    Entry("q_audio_decode",
      (s, d) => Multimodal.decodeWavStats(
        Multimodal.wavAssets(docs(s, d), "doc_id", nSamples = 64))
        .orderBy("asset_id"),
      Some(Multimodal.decodeWavStatsSql("documents", "doc_id",
        nSamples = 64))),
    // Frame sampling over binary payloads (every 4th 64-byte frame as
    // its own row) — the keyframe-extraction stage of a video pipeline
    // with the decode replaced by a byte-exact slice, so the whole
    // explode/sample/emit plumbing is hash-checked against DuckDB's
    // hex-dump substring arithmetic. Map-side only; no shuffle.
    Entry("q_multimodal_frames",
      (s, d) => Multimodal.frameSample(
        Multimodal.fromText(docs(s, d), "doc_id", "text"))
        .orderBy("asset_id", "frame_idx"),
      Some(Multimodal.frameSampleSql("documents", "doc_id", "text"))),
    // The byte-histogram feature arithmetic hash-checked: bins=16 makes
    // a bin the byte's high nibble (= one hex char of the payload's hex
    // dump), so DuckDB can tally bins without blob indexing. Runs the
    // same mapPartitions plumbing + histEntropy core as the feature
    // entry above; only the final Float normalization stays rows-only.
    Entry("q_multimodal_bytes",
      (s, d) => Multimodal.byteHistogramOracle(
        Multimodal.fromText(docs(s, d), "doc_id", "text")),
      Some(Multimodal.byteHistogramOracleSql("documents", "doc_id", "text"))),
    // BM25 keyword retrieval (Robertson/Spärck Jones; k1=1.2, b=0.75,
    // the Lucene-default +1 idf smoothing): top-10 docs per query term.
    // Scale shape is the inverted-index one: the only full-corpus work
    // is the document-length table (one doc_id shuffle — the artifact a
    // real index precomputes); tf/df and the scoring join touch ONLY
    // the posting lists of the query terms, and the per-term top-k is a
    // window over posting-sized partitions. Corpus stats (N, avgdl, the
    // 3 df values) are scalar collects (bounded-collect class). The
    // checked artifact is the integer ranking (term, rank, doc_id, tf,
    // dl) — the float score orders it but never crosses engines: ranks
    // flip only on exact (tf, dl) ties, which tie-break by doc_id
    // identically in both engines (verify-skill float rule).
    Entry("q_bm25_topk",
      (s, d) => {
        val terms = Seq("hash", "join", "scan")
        val toks = docs(s, d).filter(trim(col("text")) =!= "")
          .select(col("doc_id"),
            explode(split(trim(col("text")), "\\s+")).as("tok"))
        val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
        val stats = dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("sdl"))
          .head()
        val n = stats.getLong(0)
        val avgdl = stats.getLong(1).toDouble / n
        val tf = toks.filter(col("tok").isin(terms: _*))
          .groupBy(col("doc_id"), col("tok").as("term"))
          .agg(count(lit(1)).as("tf"))
        val dfc = tf.groupBy("term").agg(count(lit(1)).as("df")).collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        require(terms.forall(dfc.contains),
          s"q_bm25_topk: query term absent from corpus (df: $dfc)")
        val idf = map(terms.flatMap(t => Seq(lit(t),
          lit(math.log((n - dfc(t) + 0.5) / (dfc(t) + 0.5) + 1.0)))): _*)
        val scored = tf.join(dl, "doc_id")
          .withColumn("score", element_at(idf, col("term")) *
            (col("tf") * lit(2.2)) /
            (col("tf") + lit(1.2) *
              (lit(0.25) + lit(0.75) * col("dl") / lit(avgdl))))
        val w = Window.partitionBy("term")
          .orderBy(col("score").desc, col("doc_id"))
        scored.withColumn("rnk", row_number().over(w).cast("int"))
          .filter(col("rnk") <= 10)
          .select(col("term"), col("rnk"), col("doc_id"), col("tf"),
            col("dl"))
          .orderBy("term", "rnk")
      },
      Some("""WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
  FROM documents WHERE trim(text) <> ''),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
stats AS (SELECT count(*) AS n, sum(dl) AS sdl FROM dl),
q(term) AS (SELECT unnest(['hash', 'join', 'scan'])),
tf AS (SELECT toks.doc_id, q.term, count(*) AS tf
       FROM toks JOIN q ON toks.tok = q.term GROUP BY 1, 2),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.term, tf.doc_id, tf.tf, dl.dl,
    ln((stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0) *
      (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl /
        (CAST(stats.sdl AS DOUBLE) / stats.n))) AS score
  FROM tf JOIN dl USING (doc_id) JOIN dfreq USING (term) CROSS JOIN stats)
SELECT term,
  CAST(row_number() OVER (PARTITION BY term ORDER BY score DESC, doc_id)
    AS INT) AS rnk,
  doc_id, tf, dl
FROM scored QUALIFY rnk <= 10 ORDER BY term, rnk""")),
    // Readability census (the integer sufficient statistics of
    // Flesch/Gunning-FOG: words, vowel-group syllables, 3+-syllable
    // complex words, characters — the float index itself is a
    // driver-side detail, the q_dsir_stats precedent): per-language
    // corpus profile a curriculum builder reads before mixing. One
    // token explode, map-side regexp counting, one 5-group aggregate.
    Entry("q_readability",
      (s, d) => docs(s, d).filter(trim(col("text")) =!= "")
        .select(col("doc_id"), col("lang"),
          explode(split(trim(col("text")), "\\s+")).as("tok"))
        .withColumn("syl",
          size(regexp_extract_all(col("tok"), lit("[aeiouy]+"), lit(0))))
        .groupBy("lang")
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_words"),
          sum(col("syl").cast("long")).as("n_syllables"),
          sum(when(col("syl") >= 3, 1L).otherwise(0L)).as("n_complex"),
          sum(length(col("tok")).cast("long")).as("n_chars"))
        .orderBy("lang"),
      Some("""WITH toks AS (
  SELECT doc_id, lang,
    unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
  FROM documents WHERE trim(text) <> ''),
syl AS (SELECT doc_id, lang, tok,
  len(regexp_extract_all(tok, '[aeiouy]+')) AS syl FROM toks)
SELECT lang, count(DISTINCT doc_id) AS n_docs, count(*) AS n_words,
  CAST(sum(syl) AS BIGINT) AS n_syllables,
  CAST(sum(CASE WHEN syl >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_complex,
  CAST(sum(len(tok)) AS BIGINT) AS n_chars
FROM syl GROUP BY lang ORDER BY lang"""))
  )

  // ---- similarity search over embeddings (north star; SURVEY §7.5) ----

  private def emb(s: SparkSession, d: String) = Tables.read(s, d, "embeddings")

  /** Offset used to mint planted duplicate vec_ids (q_embed_neardup,
    * q_semdedup). A fixed additive offset collides with real keys if
    * vec_ids ever reach it (the q_merge_upsert lesson), and negation is
    * unavailable here because min-id retention must keep the BASE row —
    * so the guard below fails LOUDLY (once per session+dir, memoized)
    * if the data outgrows the offset, instead of silently corrupting
    * the closed-form oracle. */
  private val plantedOffset = lit(10000000L)
  private val plantedGuard =
    scala.collection.mutable.Set.empty[(SparkSession, String)]
  private def requirePlantedOffsetSafe(s: SparkSession, d: String): Unit =
    plantedGuard.synchronized {
      if (!plantedGuard.contains((s, d))) {
        // The exact unsafe condition — a minted id landing on a real
        // one — not a max-id proxy: derived-scale dirs shift ids by
        // ~1e12 strides (far past 1e7) yet stay collision-free because
        // each copy's ids span far less than the offset. id-only
        // self-join, memoized once per (session, dir).
        val ids = emb(s, d).select(col("vec_id"))
        val hits = ids
          .join(ids.filter(pmod(col("vec_id"), lit(50)) === 0)
            .select((col("vec_id") + plantedOffset).as("vec_id")),
            "vec_id")
          .count()
        require(hits == 0L,
          s"planted-id offset 1e7 collides with $hits real vec_ids")
        plantedGuard += ((s, d))
      }
    }

  /** Deterministic query vector (seeded, data-independent so the DuckDB
    * oracle SQL is static). Testdata embeddings are 64-dim. */
  private val annQueryVec: Array[Float] = {
    val rng = new java.util.Random(20260812L)
    Array.fill(64)(rng.nextGaussian().toFloat)
  }

  val embeddingEntries: Seq[Entry] = Seq(
    // Brute-force cosine top-k — exact baseline, DuckDB-checked with a
    // bit-identical left-assoc double expression on both sides.
    Entry("q_ann_topk",
      (s, d) => Similarity.bruteForceTopKIds(emb(s, d), "vec_id", "embedding",
        annQueryVec, 10),
      Some(Similarity.bruteForceTopKIdsSql("embeddings", "vec_id", "embedding",
        annQueryVec, 10))),
    // Sign-LSH bucketed approximate top-k — the scale path (prunes the
    // scan to the query's bucket + Hamming-1 probes). Approximate by
    // design -> rows-only check.
    Entry("q_ann_lsh_topk",
      (s, d) => Similarity.lshTopK(emb(s, d), "vec_id", "embedding",
        annQueryVec, 10),
      None),
    // IVF (k-means inverted file) approximate top-k — the second ANN
    // scale path: probe the 2 nearest of 8 cells (rows-only).
    Entry("q_ann_ivf_topk",
      (s, d) => {
        val df = emb(s, d)
        val centroids = Similarity.kmeansCentroids(df, "embedding", k = 8)
        Similarity.ivfTopK(df, "vec_id", "embedding", annQueryVec, 10,
          centroids, nProbe = 2)
      },
      None),
    // ANN quality harness: recall@10 of the LSH and IVF paths vs the
    // brute-force truth over an 8-query batch — the tuning measurement
    // a production ANN deployment runs, as a queryable entry (the
    // 'brute' row is the 1.0 self-check). Deterministic for fixed
    // data/seed but engine-specific → rows-only. Expect LOW absolute
    // recall here: the synthetic embeddings are near-orthogonal (no
    // cluster structure), the ANN worst case — the harness exists to
    // measure exactly that; on clustered data (OpsSpec) recall is high.
    Entry("q_ann_recall",
      (s, d) => Similarity.annRecall(emb(s, d), "vec_id", "embedding",
        k = 10, numQueries = 8),
      None),
    // Bounded-gate twin of q_ann_recall (the q_sketch_bounds
    // precedent): 10 exact duplicates of every query are planted at
    // negative ids, so each query's true top-10 is exactly its planted
    // clique and every path — brute, LSH (same bucket by
    // construction), IVF (same nearest cell) — must recall ALL of it.
    // recall is a ratio of integers, so ==1.0 is exact arithmetic and
    // the hashed artifact is the boolean CONTRACT, not the
    // engine-specific recall value of the unplanted harness.
    Entry("q_ann_recall_bounds",
      (s, d) => Similarity.annRecall(emb(s, d), "vec_id", "embedding",
          k = 10, numQueries = 8, plantDups = 10)
        .select(col("method"), col("n_queries"),
          (col("mean_recall") === 1.0 && col("min_recall") === 1.0)
            .as("recall_floor_met"))
        .orderBy("method"),
      Some("""SELECT * FROM (VALUES
  ('brute', CAST(8 AS BIGINT), true),
  ('ivf',   CAST(8 AS BIGINT), true),
  ('lsh',   CAST(8 AS BIGINT), true))
  AS t(method, n_queries, recall_floor_met) ORDER BY method""")),
    // Planted-ground-truth ANN gate (q_embed_neardup precedent): an
    // exact duplicate of each query vector is planted at -(id+1); an
    // exact dup shares the query's LSH bucket and nearest IVF cell BY
    // CONSTRUCTION and cosine 1.0 dominates the near-orthogonal
    // corpus, so brute/LSH/IVF top-1 = the planted id is a
    // DETERMINISTIC contract on the bucketing/probing/topk machinery —
    // hash-checkable where recall thresholds on this data would be
    // meaningless (see q_ann_recall's comment).
    Entry("q_ann_planted",
      (s, d) => Similarity.annPlantedTopk(emb(s, d), "vec_id",
        "embedding", numQueries = 8),
      Some("""WITH q AS (
  SELECT CAST(vec_id AS BIGINT) AS query_id FROM embeddings
  ORDER BY vec_id LIMIT 8)
SELECT query_id, -(query_id + 1) AS brute_top1,
  -(query_id + 1) AS lsh_top1, -(query_id + 1) AS ivf_top1
FROM q ORDER BY query_id""")),
    // Embedding-cosine near-dup pairs via bucketed self-join. The
    // synthetic embeddings are near-orthogonal (max real pair cosine
    // ~0.6), so we plant exact duplicates of a 1-in-50 id slice: exact
    // dups share every sign-LSH bucket deterministically and score
    // cosine 1.0, while no non-planted pair clears 0.9 -- making the
    // approximate operator's output exact and oracle-checkable. (The
    // slice is deliberately thin: exact dups concentrate into identical
    // buckets and densify the per-bucket join.) Row order comes from
    // nearDupPairs' own sort; the round() projection preserves it.
    Entry("q_embed_neardup",
      (s, d) => {
        val base = emb(s, d).select(col("vec_id"), col("embedding"))
        requirePlantedOffsetSafe(s, d)
        val planted = base.filter(pmod(col("vec_id"), lit(50)) === 0)
          .select((col("vec_id") + plantedOffset).as("vec_id"),
            col("embedding"))
        Similarity.nearDupPairs(base.unionByName(planted),
            "vec_id", "embedding", threshold = 0.9)
          .withColumn("cosine", round(col("cosine"), 6))
      },
      Some("SELECT vec_id AS id_a, vec_id + 10000000 AS id_b, " +
        "CAST(1.0 AS DOUBLE) AS cosine FROM embeddings " +
        "WHERE vec_id % 50 = 0 ORDER BY id_a, id_b")),
    // SemDeDup-style SEMANTIC dedup END-TO-END: embedding near-dup
    // pairs (banded sign-LSH buckets + exact cosine threshold) →
    // connected components → keep the min-id representative per
    // cluster, everything else dropped. Same planted-ground-truth gate
    // as q_embed_neardup: exact duplicates of a 1-in-50 slice are the
    // ONLY pairs clearing 0.9 on this near-orthogonal corpus, so the
    // kept set is exactly the base table and the oracle is closed-form.
    // Scale shape: the pair join is bucket-capped (nearDupPairs),
    // components shuffle (id,label) pairs only, and retention is one
    // left_anti join — text/embeddings never shuffle beyond the
    // banded buckets.
    Entry("q_semdedup",
      (s, d) => {
        val base = emb(s, d)
          .select(col("vec_id"), col("embedding"), col("label"))
        requirePlantedOffsetSafe(s, d)
        val planted = base.filter(pmod(col("vec_id"), lit(50)) === 0)
          .select((col("vec_id") + plantedOffset).as("vec_id"),
            col("embedding"), col("label"))
        val all = base.unionByName(planted)
        val pairs = Similarity.nearDupPairs(
          all.select(col("vec_id"), col("embedding")),
          "vec_id", "embedding", threshold = 0.9)
        val comps = graft.ops.Dedup.connectedComponents(
          pairs.select(col("id_a"), col("id_b")), "id_a", "id_b")
        val dropped = comps.filter(col("id") =!= col("comp"))
          .select(col("id").as("vec_id"))
        val kept = all.join(dropped, Seq("vec_id"), "left_anti")
        all.groupBy(col("label")).agg(count(lit(1)).as("n_candidates"))
          .join(kept.groupBy(col("label")).agg(count(lit(1)).as("n_kept")),
            Seq("label"))
          .orderBy("label")
      },
      Some("""SELECT label,
  CAST(count(*) + sum(CASE WHEN vec_id % 50 = 0 THEN 1 ELSE 0 END)
    AS BIGINT) AS n_candidates,
  CAST(count(*) AS BIGINT) AS n_kept
FROM embeddings GROUP BY label ORDER BY label""")),
    // Int8 embedding quantization checksums (the 4× ANN memory lever
    // at 100 TB): per-vector symmetric scale, floor(+0.5) codes, and
    // a sum/min/max checksum that any single-element error breaks —
    // hash-gated against DuckDB running the identical double
    // arithmetic. Map-side only; the q_vec payload itself ships as
    // tinyint, 1/4 the float width.
    Entry("q_embed_quantize",
      (s, d) => Similarity.quantizeChecksums(emb(s, d), "vec_id",
        "embedding"),
      Some(Similarity.quantizeChecksumsSql("embeddings", "vec_id",
        "embedding"))),
    // Quantized ANN end-to-end: int8 integer-dot prefilter over the
    // 4×-smaller codes, exact float-cosine rerank of the top 3k — the
    // memory-bound scale path, hash-gated (the integer prefilter is
    // exactly reproducible cross-engine, so unlike LSH/IVF this
    // approximate path has a full oracle, not just a planted gate).
    Entry("q_ann_int8_topk",
      (s, d) => Similarity.int8TopKIds(emb(s, d), "vec_id", "embedding",
        annQueryVec, 10),
      Some(Similarity.int8TopKIdsSql("embeddings", "vec_id", "embedding",
        annQueryVec, 10))),
    // Source sanity over the embeddings table (oracle-checked).
    Entry("q_embed_stats",
      (s, d) => emb(s, d)
        .groupBy(col("label"))
        .agg(count(lit(1)).as("cnt"),
          countDistinct(col("vec_id")).as("n_ids"),
          min(size(col("embedding"))).as("min_dim"),
          max(size(col("embedding"))).as("max_dim"))
        .orderBy("label"),
      Some("SELECT label, count(*) AS cnt, count(DISTINCT vec_id) AS n_ids, " +
        "CAST(min(len(embedding)) AS INTEGER) AS min_dim, " +
        "CAST(max(len(embedding)) AS INTEGER) AS max_dim " +
        "FROM embeddings GROUP BY label ORDER BY label")),
    // Distributed Lloyd's k-means over the FULL embedding table
    // (ops/Clustering.scala) — the full-data complement of the sampled
    // driver-side codebook training (Similarity.kmeansCentroids, which
    // feeds q_ann_ivf_topk). Oracle design (planted-structure family,
    // q_semdedup / q_ann_planted precedent): every vector is rebuilt as
    // anchor(vec_id % 4) + a ±0.009 single-dimension jitter, anchors
    // being the 4 lowest-id real embeddings (unit vectors, pairwise L2
    // >= 0.5 — require()d). Init = anchors displaced 0.05 on dim 0, so
    // the margin argument is airtight: d(point, own init) <= 0.059 vs
    // d(point, other init) >= 0.44, hence cluster i == vec_id % 4 at
    // every iteration, means are stable after one step, Lloyd's MUST
    // converge (require()d), and the census is closed-form in DuckDB.
    // Scale shape: per iteration one map-side pass with broadcast
    // centroids, a k-key reduceByKey of (count, sumVec) partials, no
    // vector shuffle — MLlib's own plan; assignment is one more
    // broadcast map.
    Entry("q_kmeans",
      (s, d) => {
        val base = emb(s, d).select(col("vec_id"), col("embedding"))
        val anchors = base.orderBy("vec_id").limit(4).collect()
          .map(_.getSeq[Float](1).map(_.toDouble).toArray)
        require(anchors.length == 4, "q_kmeans: needs 4 anchor vectors")
        for (i <- anchors.indices; j <- i + 1 until anchors.length)
          require(graft.ops.Clustering.sqDist(anchors(i), anchors(j)) > 0.25,
            s"q_kmeans: anchors $i,$j violate the planted-separation contract")
        val dim = anchors(0).length
        val anchorArr = array(anchors.map(a =>
          array(a.map(x => lit(x.toFloat)): _*)): _*)
        val grp = pmod(col("vec_id"), lit(4)).cast("int")
        val jitterDim = pmod(col("vec_id"), lit(dim)).cast("int")
        val jitterVal = (pmod(col("vec_id"), lit(7)).cast("int") - lit(3))
          .cast("float") * lit(0.003f)
        val planted = base.select(col("vec_id"),
          transform(element_at(anchorArr, grp + 1),
            (x, i) => x + when(i === jitterDim, jitterVal)
              .otherwise(lit(0.0f))).as("vec"))
        val init = anchors.map { a => val c = a.clone(); c(0) += 0.05; c }
        val model = graft.ops.Clustering.lloyds(planted, "vec", init,
          maxIters = 5)
        require(model.converged,
          s"q_kmeans: Lloyd's did not converge in ${model.iters} iters")
        graft.ops.Clustering.assign(planted, "vec_id", "vec", model.centroids)
          .groupBy(col("cluster"))
          .agg(count(lit(1)).as("n"), sum(col("vec_id")).as("sum_id"),
            min(col("vec_id")).as("min_id"), max(col("vec_id")).as("max_id"))
          .orderBy("cluster")
      },
      Some("""SELECT CAST(vec_id % 4 AS INT) AS cluster, count(*) AS n,
  CAST(sum(vec_id) AS BIGINT) AS sum_id,
  min(vec_id) AS min_id, max(vec_id) AS max_id
FROM embeddings GROUP BY 1 ORDER BY 1"""))
  )

  // ---- neural estimator suite (SURVEY §2.4-2.6) ----

  /** Columns the lineitem density model covers: the small-domain subset
    * (the reference likewise models a column subset, datasets.py:11-15).
    */
  private val modelCols =
    Seq("l_returnflag", "l_linestatus", "l_quantity", "l_discount", "l_tax")

  /** Driver-side exact conjunction counter over a COLLECTED small
    * table — the probe backend for the grid-rewrite gates. This is the
    * reference's own oracle architecture (bin matrix + domain masks,
    * estimators.py:219-236, 226-236): each column's values map to
    * domain slots once, a probe ANDs per-column [[Pred.domainMask]]s
    * and scans the slot arrays — microseconds, not a Spark job. The
    * r16 bench found the difference matters: exact-registration probes
    * as `df.filter(...).count()` cost one job-scheduling round-trip
    * EACH, and a 30-query probe-grid workload paid 229 s of scheduler
    * overhead for ~seconds of actual counting. Mask semantics are the
    * library's own (cross-type compares, null-never-qualifies, the
    * IsNull slot) — the mask-vs-filter equivalence is itself gated by
    * q_null_mask_card. */
  private[graft] final class LocalExact(df: org.apache.spark.sql.DataFrame,
      cols: Seq[String]) {
    // Metas in ONE aggregation pass (Dictionary.tableMeta: collect_set
    // + null flag per column in a single partial-aggregated scan)
    // instead of one distinct+sort job per column — the r20 build-cost
    // fix: an N-column LocalExact paid N+1 Spark jobs per construction
    // and the min-of-2 bench re-paid all of them every repeat.
    private val metas: Map[String, graft.core.ColumnMeta] =
      Dictionary.tableMeta(df, "local_exact", cols)
        .columns.map(m => m.name -> m).toMap
    // Driver-safety guard (VERDICT r16): the collect is intentional —
    // this is the reference's in-memory oracle for gate-sized tables —
    // but without a bound a future gate pointing it at a large-SF fact
    // table would OOM the driver silently. limit(N+1) makes misuse
    // fail loudly at N rows instead of materializing everything.
    // Only the dictionary-encoded slot arrays are RETAINED (4
    // bytes/row/column); the boxed Row array is released as soon as
    // encoding finishes, so a cached instance (see localExact below)
    // costs slots, not rows.
    private val slotsAndN: (Map[String, Array[Int]], Int) = {
      val collected = df.select(cols.map(col): _*)
        .limit(LocalExact.MaxRows + 1).collect()
      require(collected.length <= LocalExact.MaxRows,
        s"LocalExact is a driver-side gate oracle capped at " +
          s"${LocalExact.MaxRows} rows; this table exceeds it — " +
          "use a distributed estimator instead")
      val encoded = cols.zipWithIndex.map { case (c, i) =>
        val slotOf = metas(c).domain.zipWithIndex.toMap
        c -> collected.map(r => slotOf(r.get(i)))
      }.toMap
      (encoded, collected.length)
    }
    private def slots = slotsAndN._1
    private def nRows = slotsAndN._2
    private val nWords = (nRows + 63) >>> 6
    // Per-Pred ROW-BITMAP cache (r17): a probe grid re-issues the same
    // predicates across combos and queries (the WHERE conjuncts are
    // shared by every combo; each group-Eq appears once per domain
    // value), so each distinct Pred's qualifying-row set is
    // materialized ONCE as a bitset (one O(rows) pass through its
    // domain mask) and every probe is then an AND + popcount over
    // rows/64 words — ~100× less work than the r16 per-probe
    // O(rows × preds) slot scan, which at sf0.1 made the 30-query grid
    // gate re-pay ~1B row checks. Mask semantics are unchanged
    // (bitmaps are built FROM Pred.domainMask). Concurrent:
    // registrations outlive the single-threaded gate context
    // (GraftRuntime is process-wide), so the cache must not corrupt
    // under concurrent queries (ADVICE r16).
    private val bitCache =
      new java.util.concurrent.ConcurrentHashMap[Pred, Array[Long]]()
    private def bitmap(p: Pred): Array[Long] =
      bitCache.computeIfAbsent(p, { pp =>
        val mask = pp.domainMask(metas(pp.col))
        val slot = slots(pp.col)
        val words = new Array[Long](nWords)
        var i = 0
        while (i < slot.length) {
          if (mask(slot(i))) words(i >>> 6) |= 1L << (i & 63)
          i += 1
        }
        words
      })
    /** The full sorted domain (null-first when nullable) of one of the
      * oracle's columns — already computed by the one-pass tableMeta,
      * so gate entries that also register per-column domains can read
      * them here instead of re-running a distinct+sort job per column
      * per call. */
    def domainOf(c: String): Seq[Any] = metas(c).domain.toSeq
    def count(preds: Seq[Pred]): Long = {
      if (preds.isEmpty) return nRows.toLong
      val bms = preds.map(bitmap)
      val first = bms.head
      var n = 0L
      var w = 0
      while (w < nWords) {
        var acc = first(w)
        var j = 1
        while (j < bms.size && acc != 0L) { acc &= bms(j)(w); j += 1 }
        n += java.lang.Long.bitCount(acc)
        w += 1
      }
      n
    }
  }

  private object LocalExact {
    /** Driver-safe collect bound: ~4M 5-col rows ≈ a few hundred MB of
      * Row objects — well inside the gate JVM, far above every gate
      * table (lineitem sf0.1 ≈ 600k). */
    val MaxRows = 4000000
  }

  /** Run `write` once per (process, dir): the gate tables derived into
    * /tmp are deterministic functions of the sfDir and the dir name
    * embeds the pid, so a cached dir means this process already
    * materialized byte-identical data — a min-of-N bench repeat (and a
    * Verify pass in the same JVM) must not re-pay the derivation writes.
    * First writes are charged to the setup ledger. The dir is deleted at
    * JVM exit, NOT per entry call: conservative fall-through gate
    * queries scan the files on every call, so a per-call delete would
    * break the repeat. */
  private val derivedDirs = new KeyedCache[String, Unit](
    ledger = Some(KeyedCache.setupLabel("drv_", _)))
  // Dirs registered for deletion at JVM exit — ONE shutdown hook
  // draining the set instead of one hook thread per dir (ADVICE r20).
  private val dirsToDelete =
    java.util.Collections.synchronizedSet(new java.util.HashSet[String]())
  private lazy val deleteHookInstalled: Boolean = {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      dirsToDelete.forEach(d =>
        org.apache.commons.io.FileUtils.deleteQuietly(
          new java.io.File(d)))))
    true
  }

  private def deriveOnce(dir: String)(write: => Unit): Unit =
    derivedDirs(dir) {
      write
      require(deleteHookInstalled)
      dirsToDelete.add(dir); ()
    }

  /** Keyed [[graft.core.Dictionary.columnMeta]] cache — the localExact
    * convention applied to the other registration-time metadata build
    * (VERDICT r20 next #7): every gate entry re-ran one distinct+sort
    * job per registered join-key/domain column per call, and min-of-2
    * repeats re-paid all of them. Keys embed the sfDir-qualified source
    * (plus a derivation tag where the df is not a bare table read);
    * first builds are charged to the setup ledger. NOT used by entries
    * whose MEASURED operator is the dictionary build itself
    * (q_vocab_quantity, q_discretize) — caching those would memoize the
    * timed work, which the no-precomputation rule bans. Cleared in
    * releaseAllShared with the localExact cache. */
  private val columnMetaCache = new KeyedCache[String, graft.core.ColumnMeta](
    ledger = Some(KeyedCache.setupLabel("cm_", _)))
  private def cachedColumnMeta(key: String,
      df: => org.apache.spark.sql.DataFrame,
      c: String): graft.core.ColumnMeta =
    columnMetaCache(key + "|" + c)(Dictionary.columnMeta(df, c))

  /** Keyed LocalExact cache (PLANS r17: "expensive pure-function-of-sfDir
    * setup should be cached per sfDir or the repeat re-pays it"): a
    * LocalExact build is one tableMeta aggregation + one bounded
    * collect over a deterministic function of the sfDir, re-paid by
    * every min-of-N bench repeat AND by every entry probing the same
    * (table, columns) pair — the lineitem/customer/nation gate oracles
    * were being rebuilt dozens of times per roster. Keys embed the
    * source path (sfDir- and derivation-qualified) plus the column
    * list; the slots-only representation above keeps a cached instance
    * at 4 bytes/row/column. First builds are charged to the setup
    * ledger; cleared by [[releaseAllShared]] with the rest of the
    * end-of-roster lifecycle. */
  private val localExactCache = new KeyedCache[String, LocalExact](
    ledger = Some(KeyedCache.setupLabel("lx_", _)))
  private def localExact(key: String,
      df: => org.apache.spark.sql.DataFrame,
      cols: Seq[String]): LocalExact =
    localExactCache(key + "|" + cols.mkString(","))(new LocalExact(df, cols))

  /** One seed-derived grouped-aggregate query for the probe-grid
    * workload gate (q_approx_grid_workload): `inner` carries the
    * GRID_TBL placeholder so the IDENTICAL text runs on Spark (temp
    * view) and DuckDB (derivation CTE). */
  private final case class GridQuery(qid: String, inner: String,
      keys: Seq[String], metrics: Seq[String])

  /** The 30-query corpus, a pure function of the seed — re-derived
    * identically wherever referenced (entry + oracle builder), the
    * q_sql_front_workload discipline. Columns: g1 nullable string
    * (5-type domain + null), g2 long 0..4, w nullable integral double
    * (13 values + null), v continuous double (WHERE-only). */
  private lazy val gridWorkload: Seq[GridQuery] = {
    val rng = new scala.util.Random(20260816L)
    val types = Seq("click", "error", "purchase", "signup", "view")
    def pick[T](xs: Seq[T]): T = xs(rng.nextInt(xs.size))
    val wVals = (0 until 13).map(_.toDouble)
    def filterClause(): String = rng.nextInt(3) match {
      case 0 => s"v <= ${pick(Seq(40, 80, 150, 250, 350))}.0"
      case 1 => s"g2 <= ${rng.nextInt(4)}"
      case 2 => "w IS NOT NULL"
    }
    def whereConj(): String = rng.nextInt(8) match {
      case 0 => s"v <= ${pick(Seq(30, 60, 120, 200, 300, 400))}.0"
      case 1 =>
        val vs = rng.shuffle(types).take(1 + rng.nextInt(3)).sorted
        s"g1 IN (${vs.map(t => s"'$t'").mkString(", ")})"
      case 2 => s"g1 != '${pick(types)}'"
      case 3 => s"g2 >= ${rng.nextInt(4)}"
      case 4 => if (rng.nextBoolean()) "w IS NULL" else "w IS NOT NULL"
      case 5 =>
        val vs = rng.shuffle(wVals).take(1 + rng.nextInt(3)).sorted
        s"w NOT IN (${vs.mkString(", ")})"
      case 6 => s"w <= ${pick(wVals)}"
      // r17: prefix LIKE through the grid (the StartsWith extraction
      // path); prefixes are type-name prefixes so selectivity varies
      case 7 => s"g1 LIKE '${pick(types).take(1 + rng.nextInt(3))}%'"
    }
    (1 to 30).map { i =>
      val keys = rng.nextInt(10) match {
        case n if n < 4 => Seq("g1")
        case n if n < 7 => Seq("g2")
        case _ => Seq("g1", "g2")
      }
      val metrics = (1 to 1 + rng.nextInt(2)).map(j => s"m$j")
      val cells = metrics.map { m =>
        val core = rng.nextInt(8) match {
          case 0 => "count(*)"
          case 1 => "count(w)"
          case 2 => "count(DISTINCT w)"
          case 3 => "sum(w)"
          case 4 => "avg(w)"
          case 5 => "min(w)"
          case 6 => "max(w)"
          case 7 => "sum(DISTINCT w)"
        }
        // No FILTER on DISTINCT cells: Catalyst's
        // RewriteDistinctAggregates expands distinct+filter aggregates
        // into Expand-based plans in the MAIN optimizer batches, so
        // the grid rule (extraOptimizations, post-batches) never sees
        // the Aggregate shape — found live by this corpus's first run.
        val f = if (!core.contains("DISTINCT") && rng.nextInt(4) == 0)
          s" FILTER (WHERE ${filterClause()})" else ""
        s"$core$f AS $m"
      }
      val where = rng.nextInt(3) match {
        case 0 => ""
        case 1 => s" WHERE ${whereConj()}"
        case 2 => s" WHERE ${whereConj()} AND ${whereConj()}"
      }
      val sel = (keys ++ cells).mkString(", ")
      GridQuery("w%02d".format(i),
        s"SELECT $sel FROM GRID_TBL$where GROUP BY ${keys.mkString(", ")}",
        keys, metrics)
    }
  }

  /** DuckDB oracle for the grid workload: the identical query texts
    * over the identical derivation, unpivoted to the entry's (query,
    * group, metric, value) artifact. Group values render through
    * VARCHAR casts that match the Scala side's formatting (long
    * toString, '<NULL>' sentinel). */
  private lazy val gridWorkloadOracleSql: String = {
    val branches = gridWorkload.flatMap { q =>
      val grpExpr = q.keys
        .map(k => s"coalesce(CAST($k AS VARCHAR), '<NULL>')") match {
        case Seq(one) => one
        case parts => s"concat(${parts.mkString(", '|', ")})"
      }
      q.metrics.map { m =>
        s"""SELECT '${q.qid}' AS query_id, $grpExpr AS grp,
  '$m' AS metric, CAST($m AS DOUBLE) AS x
FROM (${q.inner.replace("GRID_TBL", "ev")})"""
      }
    }
    s"""WITH ev AS (
  SELECT CASE WHEN event_id % 7 = 0 THEN NULL
              ELSE event_type END AS g1,
         event_id % 5 AS g2,
         CASE WHEN event_id % 11 = 0 THEN NULL
              ELSE CAST(event_id % 13 AS DOUBLE) END AS w,
         value AS v
  FROM events)
SELECT * FROM (
${branches.mkString("\nUNION ALL\n")}
)
ORDER BY query_id, grp, metric"""
  }

  /** Derived grid-workload table + driver-side exact counter, cached
    * per sfDir (r17, VERDICT r16 #7): a pure function of the sfDir, so
    * bench repeats and Verify share one build, charged to the setup
    * ledger by [[deriveOnce]] and [[localExact]]. The cache also spares
    * each call the parquet schema read (one Spark job per table). */
  private val gridDataCache = new KeyedCache[String,
    (String, org.apache.spark.sql.DataFrame, Map[String, Seq[Any]],
      LocalExact)]()

  private[graft] def gridWorkloadData(s: SparkSession, d: String)
      : (String, org.apache.spark.sql.DataFrame,
        Map[String, Seq[Any]], LocalExact) = gridDataCache(d) {
    val dir = "/tmp/graft_gridw/" + d.replaceAll("[^A-Za-z0-9]", "_") +
      "_" + ProcessHandle.current().pid()
    deriveOnce(dir) {
      Tables.read(s, d, "events")
        .select(
          when(pmod(col("event_id"), lit(7)) === 0,
            lit(null).cast("string"))
            .otherwise(col("event_type")).as("g1"),
          pmod(col("event_id"), lit(5)).as("g2"),
          when(pmod(col("event_id"), lit(11)) === 0,
            lit(null).cast("double"))
            .otherwise(pmod(col("event_id"), lit(13)).cast("double"))
            .as("w"),
          col("value").as("v"))
        .write.mode("overwrite").parquet(dir)
    }
    val ev = s.read.parquet(dir)
    val le = localExact(dir, ev, Seq("g1", "g2", "w", "v"))
    val doms = Seq("g1", "g2", "w").map(c => c -> le.domainOf(c)).toMap
    (dir, ev, doms, le)
  }

  /** One seed-derived query for the join-matrix workload gate
    * (q_approx_join_workload): `inner` carries F_TBL / D1_TBL / D2_TBL
    * placeholders so the IDENTICAL text runs on Spark (temp views) and
    * DuckDB (derivation CTEs). Grouping keys are aliased gk1..gkN,
    * metrics m1..mM. */
  private final case class JoinWQuery(qid: String, inner: String,
      nKeys: Int, metrics: Seq[String])

  /** The 42-query join-matrix corpus (r18 VERDICT r17 #1; widened r19
    * VERDICT r18 #5), a pure function of the seed: inner chains/stars,
    * composite keys, EXISTS / NOT EXISTS / IN / NOT IN,
    * LEFT/RIGHT/FULL outer joins, attribute + derived (year/month)
    * groupings, value aggregates, cross-column OR and prefix-LIKE side
    * predicates; r19 adds UNION ALL partition counts + value
    * aggregates, null-aware NOT IN, nested EXISTS, outer joins INSIDE
    * trees, and single-side FILTER cells — appended after the original
    * 30 so those stay seed-identical. Menu discipline keeps every
    * query inside the probe budgets (value/DISTINCT cells get at most
    * one grouping key; OR only on ungrouped shapes; star groupings
    * stay on small domains) so the entry's per-query scan-free
    * require() holds by construction.
    * Tables: f (fact: k1 0..4, k2 0..2, g nullable string, w nullable
    * integral double 0..11, dt date over 300 days), d1 (dim: k1, k2,
    * a 0..3, s string), d2 (dim: k2, b 0..5), d3 (outer-side dim with
    * collision-free names: m1 0..2, c 0..3). */
  private lazy val joinWorkload: Seq[JoinWQuery] = {
    val rng = new scala.util.Random(20260818L)
    val types = Seq("click", "error", "purchase", "signup", "view")
    def pick[T](xs: Seq[T]): T = xs(rng.nextInt(xs.size))
    def fPred(): String = rng.nextInt(5) match {
      case 0 => s"f.w <= ${pick(Seq(3, 6, 9))}.0"
      case 1 =>
        val vs = rng.shuffle(types).take(1 + rng.nextInt(2)).sorted
        s"f.g IN (${vs.map(t => s"'$t'").mkString(", ")})"
      case 2 => s"f.g LIKE '${pick(types).take(1 + rng.nextInt(2))}%'"
      case 3 => if (rng.nextBoolean()) "f.w IS NOT NULL" else "f.g IS NULL"
      case 4 => s"f.w != ${pick(Seq(1, 5))}.0"
    }
    def fOr(): String =
      s"(f.g = '${pick(types)}' OR f.w <= ${pick(Seq(2, 4))}.0)"
    def dPred(p: String): String = rng.nextInt(3) match {
      case 0 => s"${p}a >= ${1 + rng.nextInt(2)}"
      case 1 => s"${p}s != '${pick(types)}'"
      case 2 => s"${p}s LIKE '${pick(types).take(1 + rng.nextInt(2))}%'"
    }
    def d2Pred(p: String): String = s"${p}b <= ${2 + rng.nextInt(3)}"
    val fKeys = Seq("f.g", "f.k2", "year(f.dt)", "month(f.dt)")
    val dKeys = Seq("d1.a", "d1.s")
    val valueCells = Seq("sum(f.w)", "avg(f.w)", "min(f.w)", "max(f.w)",
      "count(DISTINCT f.w)")
    val cheapCells = Seq("count(*)", "count(f.w)")
    // unaliased count cells for UNION ALL subselect shapes (r19)
    val cheapCellsBare = Seq("count(*)", "count(w)")
    def sel(keys: Seq[String], cells: Seq[String])
        : (String, Seq[String]) = {
      val ms = cells.indices.map(i => s"m${i + 1}")
      val keyCols = keys.zipWithIndex.map { case (k, i) =>
        s"$k AS gk${i + 1}" }
      ((keyCols ++ cells.zip(ms).map { case (c, m) => s"$c AS $m" })
        .mkString(", "), ms)
    }
    val first30 = (1 to 30).map { i =>
      val qid = "jw%02d".format(i)
      val (inner, nKeys, ms) = (i - 1) % 6 match {
        case 0 => // inner 2-table, single-key equi-join
          val from = "F_TBL f JOIN D1_TBL d1 ON f.k1 = d1.k1"
          if (rng.nextInt(10) < 7) {
            val key = pick(fKeys ++ dKeys)
            val cells =
              if (rng.nextBoolean()) Seq(pick(valueCells))
              else (1 to 1 + rng.nextInt(2)).map(_ =>
                pick(cheapCells)).distinct
            val where = rng.nextInt(3) match {
              case 0 => ""
              case 1 => s" WHERE ${fPred()}"
              case 2 => s" WHERE ${dPred("d1.")}"
            }
            val (s0, ms0) = sel(Seq(key), cells)
            (s"SELECT $s0 FROM $from$where GROUP BY $key", 1, ms0)
          } else {
            val cell = pick(valueCells ++ cheapCells)
            val conjs = (1 to rng.nextInt(3)).map(_ =>
              if (rng.nextInt(3) == 0) fOr()
              else pick(Seq(fPred(), dPred("d1."))))
            val where =
              if (conjs.isEmpty) ""
              else s" WHERE ${conjs.mkString(" AND ")}"
            val (s0, ms0) = sel(Nil, Seq(cell))
            (s"SELECT $s0 FROM $from$where", 0, ms0)
          }
        case 1 => // inner 2-table, composite key
          val from =
            "F_TBL f JOIN D1_TBL d1 ON f.k1 = d1.k1 AND f.k2 = d1.k2"
          val keyOpt =
            if (rng.nextBoolean()) Some(pick(Seq("f.g", "d1.a", "d1.s")))
            else None
          val cells =
            if (rng.nextBoolean()) Seq(pick(valueCells))
            else Seq(pick(cheapCells))
          val where =
            if (rng.nextBoolean()) s" WHERE ${dPred("d1.")}" else ""
          keyOpt match {
            case Some(k) =>
              val (s0, ms0) = sel(Seq(k), cells)
              (s"SELECT $s0 FROM $from$where GROUP BY $k", 1, ms0)
            case None =>
              val (s0, ms0) = sel(Nil, cells)
              (s"SELECT $s0 FROM $from$where", 0, ms0)
          }
        case 2 => // 3-table star (f-d1 on k1, f-d2 on k2)
          val from = "F_TBL f JOIN D1_TBL d1 ON f.k1 = d1.k1 " +
            "JOIN D2_TBL d2 ON f.k2 = d2.k2"
          val where = rng.nextInt(3) match {
            case 0 => ""
            case 1 => s" WHERE ${dPred("d1.")}"
            case 2 => s" WHERE ${d2Pred("d2.")}"
          }
          if (rng.nextBoolean()) {
            val key = pick(Seq("f.g", "d1.a"))
            val (s0, ms0) = sel(Seq(key), Seq(pick(cheapCells)))
            (s"SELECT $s0 FROM $from$where GROUP BY $key", 1, ms0)
          } else {
            val (s0, ms0) = sel(Nil, Seq(pick(valueCells ++ cheapCells)))
            (s"SELECT $s0 FROM $from$where", 0, ms0)
          }
        case 3 => // EXISTS / NOT EXISTS over d1 (composite key or a
          // join-tree subquery — the r18 shapes)
          val not = if (rng.nextBoolean()) "NOT " else ""
          val ex = rng.nextInt(3) match {
            case 0 => s"${not}EXISTS (SELECT 1 FROM D1_TBL r " +
              s"WHERE r.k1 = f.k1 AND r.k2 = f.k2 AND ${dPred("r.")})"
            case 1 => s"${not}EXISTS (SELECT 1 FROM D1_TBL r " +
              s"WHERE r.k1 = f.k1 AND ${dPred("r.")})"
            case 2 => s"${not}EXISTS (SELECT 1 FROM D1_TBL r " +
              "JOIN D2_TBL r2 ON r.k2 = r2.k2 " +
              s"WHERE r.k1 = f.k1 AND ${d2Pred("r2.")})"
          }
          val fw = if (rng.nextBoolean()) s"${fPred()} AND " else ""
          if (rng.nextBoolean()) {
            val key = pick(fKeys)
            val (s0, ms0) = sel(Seq(key), Seq(pick(cheapCells)))
            (s"SELECT $s0 FROM F_TBL f WHERE $fw$ex GROUP BY $key",
              1, ms0)
          } else {
            val (s0, ms0) = sel(Nil, Seq(pick(valueCells ++ cheapCells)))
            (s"SELECT $s0 FROM F_TBL f WHERE $fw$ex", 0, ms0)
          }
        case 4 => // IN / NOT IN subquery on the shared key
          val not = if (rng.nextBoolean()) "NOT " else ""
          val in = s"f.k1 ${not}IN (SELECT r.k1 FROM D1_TBL r " +
            s"WHERE ${dPred("r.")})"
          val fw = if (rng.nextBoolean()) s" AND ${fPred()}" else ""
          if (rng.nextBoolean()) {
            val key = pick(Seq("f.g", "f.k2", "year(f.dt)"))
            val (s0, ms0) = sel(Seq(key), Seq(pick(cheapCells)))
            (s"SELECT $s0 FROM F_TBL f WHERE $in$fw GROUP BY $key",
              1, ms0)
          } else {
            val (s0, ms0) = sel(Nil, Seq(pick(valueCells ++ cheapCells)))
            (s"SELECT $s0 FROM F_TBL f WHERE $in$fw", 0, ms0)
          }
        case 5 => // outer join (single or composite key; side
          // predicates live in subselects)
          val jt = pick(Seq("LEFT", "RIGHT", "FULL"))
          val dSub =
            if (rng.nextBoolean())
              s"(SELECT * FROM D1_TBL WHERE ${dPred("")}) d1"
            else "D1_TBL d1"
          val fSub =
            if (rng.nextInt(3) == 0)
              "(SELECT * FROM F_TBL WHERE w IS NOT NULL) f"
            else "F_TBL f"
          val on =
            if (rng.nextInt(3) == 0) "f.k1 = d1.k1 AND f.k2 = d1.k2"
            else "f.k1 = d1.k1"
          val from = s"$fSub $jt JOIN $dSub ON $on"
          if (rng.nextBoolean()) {
            // derived keys over outer joins are r18 surface too
            val key = pick(Seq("f.g", "d1.a", "d1.s", "f.k2",
              "year(f.dt)"))
            val cells =
              if (rng.nextInt(3) == 0) Seq(pick(valueCells))
              else Seq(pick(Seq("count(*)", "count(f.w)", "count(d1.a)")))
            val (s0, ms0) = sel(Seq(key), cells)
            (s"SELECT $s0 FROM $from GROUP BY $key", 1, ms0)
          } else {
            val cell = pick(valueCells ++
              Seq("count(*)", "count(d1.a)", "sum(d1.a)"))
            val (s0, ms0) = sel(Nil, Seq(cell))
            (s"SELECT $s0 FROM $from", 0, ms0)
          }
      }
      JoinWQuery(qid, inner, nKeys, ms)
    }
    // r19 widen (VERDICT r18 #5): 12 more seeded queries covering the
    // r18/r19 additions — UNION ALL partition counts, union VALUE
    // aggregates, null-aware NOT IN, nested EXISTS, outer joins INSIDE
    // trees (via the collision-free d3 dim), and single-side FILTER
    // cells. Appended AFTER the 30-query block so their rng draws
    // leave the original corpus byte-identical. Same menu discipline:
    // every query stays inside the probe budgets by construction.
    def fPredBare(): String = rng.nextInt(5) match {
      case 0 => s"w <= ${pick(Seq(3, 6, 9))}.0"
      case 1 =>
        val vs = rng.shuffle(types).take(1 + rng.nextInt(2)).sorted
        s"g IN (${vs.map(t => s"'$t'").mkString(", ")})"
      case 2 => s"g LIKE '${pick(types).take(1 + rng.nextInt(2))}%'"
      case 3 => if (rng.nextBoolean()) "w IS NOT NULL" else "g IS NULL"
      case 4 => s"w != ${pick(Seq(1, 5))}.0"
    }
    def fUnion(): String =
      s"SELECT * FROM F_TBL WHERE ${fPredBare()} UNION ALL " +
        s"SELECT * FROM F_TBL WHERE ${fPredBare()}"
    val extra = (31 to 42).map { i =>
      val qid = "jw%02d".format(i)
      val (inner, nKeys, ms) = (i - 31) % 6 match {
        case 0 => // UNION ALL partition counts (grouped + plain)
          val u = fUnion()
          if (rng.nextBoolean()) {
            val key = pick(Seq("k2", "g"))
            val (s0, ms0) = sel(Seq(key), Seq(pick(cheapCellsBare)))
            (s"SELECT $s0 FROM ($u) GROUP BY $key", 1, ms0)
          } else {
            val (s0, ms0) = sel(Nil, Seq(pick(cheapCellsBare)))
            (s"SELECT $s0 FROM ($u)", 0, ms0)
          }
        case 1 => // UNION ALL value aggregates (r19)
          val u = fUnion()
          val vc = Seq("sum(w)", "avg(w)", "min(w)", "max(w)",
            "count(DISTINCT w)")
          if (rng.nextBoolean()) {
            val key = pick(Seq("k2", "g"))
            val (s0, ms0) = sel(Seq(key), Seq(pick(vc)))
            (s"SELECT $s0 FROM ($u) GROUP BY $key", 1, ms0)
          } else {
            val (s0, ms0) = sel(Nil, Seq(pick(vc)))
            (s"SELECT $s0 FROM ($u)", 0, ms0)
          }
        case 2 => // null-aware NOT IN (nullable left key g)
          val in = "f.g NOT IN (SELECT r.s FROM D1_TBL r WHERE " +
            s"${dPred("r.")})"
          val fw = if (rng.nextBoolean()) s" AND ${fPred()}" else ""
          if (rng.nextBoolean()) {
            val key = pick(Seq("f.k2", "year(f.dt)"))
            val (s0, ms0) = sel(Seq(key), Seq(pick(cheapCells)))
            (s"SELECT $s0 FROM F_TBL f WHERE $in$fw GROUP BY $key",
              1, ms0)
          } else {
            val (s0, ms0) = sel(Nil, Seq(pick(valueCells ++ cheapCells)))
            (s"SELECT $s0 FROM F_TBL f WHERE $in$fw", 0, ms0)
          }
        case 3 => // nested EXISTS (a semi leaf whose left is a semi leaf)
          val ex = "EXISTS (SELECT 1 FROM D1_TBL r WHERE r.k1 = f.k1 " +
            "AND EXISTS (SELECT 1 FROM D2_TBL r2 WHERE r2.k2 = r.k2 " +
            s"AND ${d2Pred("r2.")}))"
          val fw = if (rng.nextBoolean()) s"${fPred()} AND " else ""
          if (rng.nextBoolean()) {
            val key = pick(fKeys)
            val (s0, ms0) = sel(Seq(key), Seq(pick(cheapCells)))
            (s"SELECT $s0 FROM F_TBL f WHERE $fw$ex GROUP BY $key",
              1, ms0)
          } else {
            val (s0, ms0) = sel(Nil, Seq(pick(valueCells ++ cheapCells)))
            (s"SELECT $s0 FROM F_TBL f WHERE $fw$ex", 0, ms0)
          }
        case 4 => // outer join INSIDE the tree (two-sided leaf, r19)
          val jt = pick(Seq("LEFT", "FULL"))
          val from = s"F_TBL f $jt JOIN D3_TBL d3 ON f.k1 = d3.m1 " +
            "JOIN D2_TBL d2 ON f.k2 = d2.k2"
          if (rng.nextBoolean()) {
            val key = pick(Seq("d3.c", "f.g"))
            val cells = Seq(pick(Seq("count(*)", "count(f.w)",
              "sum(f.w)", "count(d3.c)")))
            val (s0, ms0) = sel(Seq(key), cells)
            (s"SELECT $s0 FROM $from GROUP BY $key", 1, ms0)
          } else {
            val cell = pick(Seq("count(*)", "sum(f.w)", "count(d3.c)"))
            val (s0, ms0) = sel(Nil, Seq(cell))
            (s"SELECT $s0 FROM $from", 0, ms0)
          }
        case 5 => // single-side FILTER cells over the star (r19)
          val from = "F_TBL f JOIN D1_TBL d1 ON f.k1 = d1.k1"
          val key = pick(Seq("d1.a", "f.k2", "f.g"))
          val cells = Seq(
            s"count(*) FILTER (WHERE ${fPred()})",
            s"sum(f.w) FILTER (WHERE ${dPred("d1.")})")
            .take(1 + rng.nextInt(2))
          val (s0, ms0) = sel(Seq(key), cells)
          (s"SELECT $s0 FROM $from GROUP BY $key", 1, ms0)
      }
      JoinWQuery(qid, inner, nKeys, ms)
    }
    // r19 second pass: four more shapes for the FILTER completion —
    // ungrouped FILTER over the star, per-side FILTER over an outer
    // join, per-branch FILTER over a union, FILTER beside EXISTS.
    val extra2 = (43 to 46).map { i =>
      val qid = "jw%02d".format(i)
      val (inner, nKeys, ms) = (i - 43) % 4 match {
        case 0 => // ungrouped FILTER aggregate over the star
          val from = "F_TBL f JOIN D1_TBL d1 ON f.k1 = d1.k1"
          val cell = pick(Seq(
            s"count(*) FILTER (WHERE ${dPred("d1.")})",
            s"sum(f.w) FILTER (WHERE ${fPred()})",
            s"count(f.w) FILTER (WHERE ${dPred("d1.")})"))
          val fw = if (rng.nextBoolean()) s" WHERE ${fPred()}" else ""
          val (s0, ms0) = sel(Nil, Seq(cell))
          (s"SELECT $s0 FROM $from$fw", 0, ms0)
        case 1 => // per-side FILTER cells over an outer join
          val jt = pick(Seq("LEFT", "FULL"))
          val from = s"F_TBL f $jt JOIN D1_TBL d1 ON f.k1 = d1.k1"
          val key = pick(Seq("d1.a", "f.k2"))
          val cells = Seq("count(*)",
            s"count(*) FILTER (WHERE ${dPred("d1.")})",
            s"sum(f.w) FILTER (WHERE ${fPred()})")
          val (s0, ms0) = sel(Seq(key), cells)
          (s"SELECT $s0 FROM $from GROUP BY $key", 1, ms0)
        case 2 => // per-branch FILTER over a union
          val u = fUnion()
          val cell = pick(Seq(
            "count(*) FILTER (WHERE w <= 6.0)",
            "sum(w) FILTER (WHERE k != 2)",
            "count(w) FILTER (WHERE g IS NOT NULL)"))
          if (rng.nextBoolean()) {
            val (s0, ms0) = sel(Seq("k2"), Seq("count(*)", cell))
            (s"SELECT $s0 FROM ($u) GROUP BY k2", 1, ms0)
          } else {
            val (s0, ms0) = sel(Nil, Seq(cell))
            (s"SELECT $s0 FROM ($u)", 0, ms0)
          }
        case 3 => // FILTER beside an EXISTS (semi-leaf left fold)
          val ex = s"EXISTS (SELECT 1 FROM D1_TBL r WHERE " +
            s"r.k1 = f.k1 AND ${dPred("r.")})"
          val cell = pick(Seq(
            s"count(*) FILTER (WHERE ${fPred()})",
            s"sum(f.w) FILTER (WHERE ${fPred()})"))
          val (s0, ms0) = sel(Nil, Seq(cell))
          (s"SELECT $s0 FROM F_TBL f WHERE $ex", 0, ms0)
      }
      JoinWQuery(qid, inner, nKeys, ms)
    }
    // r19 third pass: cross-FEATURE interactions — the compositions
    // where the leaf recursion, FILTER attribution, and union merge
    // meet (tree leaves under unions, FILTER over outer-in-tree,
    // outer-join branches inside unions, EXISTS pushed through a
    // union into every branch).
    val starB = "SELECT f.* FROM F_TBL f JOIN D3_TBL d3 " +
      "ON f.k1 = d3.m1"
    val extra3 = (47 to 51).map { i =>
      val qid = "jw%02d".format(i)
      val (inner, nKeys, ms) = (i - 47) % 5 match {
        case 0 => // FILTER cell over the outer-in-tree shape
          val from = "F_TBL f LEFT JOIN D3_TBL d3 ON f.k1 = d3.m1 " +
            "JOIN D2_TBL d2 ON f.k2 = d2.k2"
          val key = pick(Seq("d3.c", "f.k2"))
          val cells = Seq("count(*)",
            s"count(*) FILTER (WHERE ${fPred()})")
          val (s0, ms0) = sel(Seq(key), cells)
          (s"SELECT $s0 FROM $from GROUP BY $key", 1, ms0)
        case 1 => // union of STARS (inner-tree leaves per branch)
          val u = s"$starB WHERE ${fPred()} UNION ALL " +
            s"$starB WHERE ${fPred()}"
          val cell = pick(Seq("count(*)", "count(w)", "sum(w)"))
          val (s0, ms0) = sel(Nil, Seq(cell))
          (s"SELECT $s0 FROM ($u)", 0, ms0)
        case 2 => // grouped union of stars
          val u = s"$starB WHERE ${fPred()} UNION ALL $starB"
          val key = pick(Seq("k2", "g"))
          val cell = pick(Seq("count(*)", "sum(w)", "min(w)"))
          val (s0, ms0) = sel(Seq(key), Seq(cell))
          (s"SELECT $s0 FROM ($u) GROUP BY $key", 1, ms0)
        case 3 => // an OUTER-join branch inside a union
          val u = "SELECT f.k2 AS k2, d3.c AS c FROM F_TBL f " +
            "LEFT JOIN D3_TBL d3 ON f.k1 = d3.m1 UNION ALL " +
            "SELECT f.k2, d3.c FROM F_TBL f JOIN D3_TBL d3 " +
            "ON f.k1 = d3.m1"
          if (rng.nextBoolean()) {
            val (s0, ms0) = sel(Seq("k2"), Seq("count(*)", "count(c)"))
            (s"SELECT $s0 FROM ($u) GROUP BY k2", 1, ms0)
          } else {
            val (s0, ms0) = sel(Nil, Seq(pick(Seq("count(*)",
              "count(c)"))))
            (s"SELECT $s0 FROM ($u)", 0, ms0)
          }
        case 4 => // EXISTS above a union: the semi join pushes into
          // every branch (union of semi-filtered leaves)
          val u = s"SELECT * FROM F_TBL WHERE ${fPredBare()} " +
            "UNION ALL SELECT * FROM F_TBL"
          val (s0, ms0) = sel(Nil, Seq(pick(cheapCellsBare)))
          (s"SELECT $s0 FROM ($u) u WHERE u.k1 IN " +
            s"(SELECT r.k1 FROM D1_TBL r WHERE ${dPred("r.")})",
            0, ms0)
      }
      JoinWQuery(qid, inner, nKeys, ms)
    }
    first30 ++ extra ++ extra2 ++ extra3
  }

  /** DuckDB oracle for the join workload: the identical query texts
    * over the identical derivation, unpivoted to (query, group,
    * metric, value). */
  private lazy val joinWorkloadOracleSql: String = {
    def repl(x: String) = x.replace("F_TBL", "f")
      .replace("D1_TBL", "d1").replace("D2_TBL", "d2")
      .replace("D3_TBL", "d3")
    val branches = joinWorkload.flatMap { q =>
      val grpExpr =
        if (q.nKeys == 0) "''"
        else (1 to q.nKeys)
          .map(k => s"coalesce(CAST(gk$k AS VARCHAR), '<NULL>')") match {
          case Seq(one) => one
          case parts => s"concat(${parts.mkString(", '|', ")})"
        }
      q.metrics.map { m =>
        s"""SELECT '${q.qid}' AS query_id, $grpExpr AS grp,
  '$m' AS metric, CAST($m AS DOUBLE) AS x
FROM (${repl(q.inner)})"""
      }
    }
    s"""WITH f AS (SELECT event_id % 5 AS k1, event_id % 3 AS k2,
         CASE WHEN event_id % 7 = 0 THEN NULL ELSE event_type END AS g,
         CASE WHEN event_id % 11 = 0 THEN NULL
              ELSE CAST(event_id % 12 AS DOUBLE) END AS w,
         DATE '2023-12-01' + CAST(event_id % 300 AS INTEGER) AS dt
       FROM events WHERE event_id % 13 = 0),
d1 AS (SELECT (event_id + 1) % 5 AS k1, event_id % 3 AS k2,
         event_id % 4 AS a, event_type AS s
       FROM events WHERE event_id % 291 = 0),
d2 AS (SELECT (event_id + 2) % 3 AS k2, event_id % 6 AS b
       FROM events WHERE event_id % 485 = 0),
d3 AS (SELECT event_id % 3 AS m1, event_id % 4 AS c
       FROM events WHERE event_id % 211 = 0)
SELECT * FROM (
${branches.mkString("\nUNION ALL\n")}
)
ORDER BY query_id, grp, metric"""
  }

  /** Derived join-workload tables + driver-side exact counters, cached
    * per sfDir (the gridWorkloadData pattern). */
  private val joinWDataCache = new KeyedCache[String,
    (String, Map[String, org.apache.spark.sql.DataFrame],
      Map[(String, String), Seq[Any]], Map[String, LocalExact])]()

  private[graft] def joinWorkloadData(s: SparkSession, d: String)
      : (String, Map[String, org.apache.spark.sql.DataFrame],
        Map[(String, String), Seq[Any]], Map[String, LocalExact]) =
    joinWDataCache(d) {
      val dir = "/tmp/graft_joinw/" + d.replaceAll("[^A-Za-z0-9]", "_") +
        "_" + ProcessHandle.current().pid()
      deriveOnce(dir) {
        val ev = Tables.read(s, d, "events")
        ev.filter(pmod(col("event_id"), lit(13)) === 0)
          .select(
            pmod(col("event_id"), lit(5)).as("k1"),
            pmod(col("event_id"), lit(3)).as("k2"),
            when(pmod(col("event_id"), lit(7)) === 0,
              lit(null).cast("string"))
              .otherwise(col("event_type")).as("g"),
            when(pmod(col("event_id"), lit(11)) === 0,
              lit(null).cast("double"))
              .otherwise(pmod(col("event_id"), lit(12)).cast("double"))
              .as("w"),
            date_add(to_date(lit("2023-12-01")),
              pmod(col("event_id"), lit(300)).cast("int")).as("dt"))
          .write.mode("overwrite").parquet(s"$dir/f.parquet")
        ev.filter(pmod(col("event_id"), lit(291)) === 0)
          .select(
            pmod(col("event_id") + 1, lit(5)).as("k1"),
            pmod(col("event_id"), lit(3)).as("k2"),
            pmod(col("event_id"), lit(4)).as("a"),
            col("event_type").as("s"))
          .write.mode("overwrite").parquet(s"$dir/d1.parquet")
        ev.filter(pmod(col("event_id"), lit(485)) === 0)
          .select(
            pmod(col("event_id") + 2, lit(3)).as("k2"),
            pmod(col("event_id"), lit(6)).as("b"))
          .write.mode("overwrite").parquet(s"$dir/d2.parquet")
        // r19: an outer-side dim with COLLISION-FREE column names (the
        // two-sided outer leaf routes conjuncts by name, so names
        // shared with the fact would be excluded as ambiguous).
        // Modulus 211 is coprime to 3 and 4, so m1 and c both vary.
        ev.filter(pmod(col("event_id"), lit(211)) === 0)
          .select(
            pmod(col("event_id"), lit(3)).as("m1"),
            pmod(col("event_id"), lit(4)).as("c"))
          .write.mode("overwrite").parquet(s"$dir/d3.parquet")
      }
      val colsByTable = Map(
        "f" -> Seq("k1", "k2", "g", "w", "dt"),
        "d1" -> Seq("k1", "k2", "a", "s"),
        "d2" -> Seq("k2", "b"),
        "d3" -> Seq("m1", "c"))
      val dfs = colsByTable.keys.map(t =>
        t -> s.read.parquet(s"$dir/$t.parquet")).toMap
      val les = colsByTable.map { case (t, cs) =>
        t -> localExact(s"$dir/$t.parquet", dfs(t), cs) }.toMap
      val doms = colsByTable.flatMap { case (t, cs) =>
        cs.map(c => (t, c) -> les(t).domainOf(c))
      }.toMap
      (dir, dfs, doms, les)
    }

  /** One scan + driver collect of the encoded lineitem matrix, shared by
    * every 100k-row model trainer in the session (MADE, tied-embed MADE,
    * and the two extra ensemble orderings would otherwise each re-scan
    * and re-collect the identical sample). */
  private val encodedCache =
    new KeyedCache[String, (Array[Array[Int]], TableMeta)]()

  private def lineitemEncoded(s: SparkSession, d: String): (Array[Array[Int]], TableMeta) =
    encodedCache(d) {
      val df = li(s, d).select(modelCols.map(col): _*)
      val meta = Dictionary.tableMeta(df, "lineitem", modelCols)
      val data = Trainer.collectEncoded(df, meta.columns, maxRows = 100000,
        totalRows = meta.cardinality)
      // Seeded in-place shuffle: collectEncoded returns rows in scan
      // order, so a PREFIX of it (the transformer's 30k / maxdiff's
      // 50k budget) would be a file-position-biased subset, not a
      // uniform subsample. After the shuffle any prefix is uniform.
      val rng = new java.util.Random(987654321L)
      var i = data.length - 1
      while (i > 0) {
        val j = rng.nextInt(i + 1)
        val t = data(i); data(i) = data(j); data(j) = t
        i -= 1
      }
      (data, meta)
    }

  /** Train-once-per-sfDir cache so Verify/Bench don't retrain per entry. */
  private val modelCache = new KeyedCache[String, (Made, TableMeta)]()

  /** Customer-side MADE over (c_mktsegment, c_nationkey), shared by
    * the learned join gates (q_approx_join_count_bounds trained it
    * per-entry through r16; the grouped twin would have re-trained the
    * identical model). */
  private val customerModelCache = new KeyedCache[String, (Made, TableMeta)]()

  def customerModel(s: SparkSession, d: String): (Made, TableMeta) =
    customerModelCache(d) {
      val cols = Seq("c_mktsegment", "c_nationkey")
      val cdf = s.read.parquet(s"$d/customer.parquet")
        .select(cols.map(col): _*)
      val meta = Dictionary.tableMeta(cdf, "customer", cols)
      val data = Trainer.collectEncoded(cdf, meta.columns)
      val model = new Made(
        nin = cols.length,
        hiddenSizes = Seq(64, 64),
        inputBins = meta.columns.map(_.distributionSize).toArray,
        inputEncoding = "one_hot",
        residual = true,
        doDirectIo = true,
        columnMasking = true,
        seed = 20260816L)
      Trainer.train(model, data, epochs = 8, batchSize = 512,
        schedule = Trainer.ConstantLr(2e-3f), seed = 1L)
      (model, meta)
    }

  /** ResMADE over the lineitem subset, trained deterministically:
    * dictionary + encode + entropy on the cluster, minibatch loop on the
    * driver (reference train_model.py:330-447 shape).
    */
  def lineitemModel(s: SparkSession, d: String): (Made, TableMeta) =
    modelCache(d) {
      val (data, meta) = lineitemEncoded(s, d)
      val model = new Made(
        nin = modelCols.length,
        hiddenSizes = Seq(64, 64),
        inputBins = meta.columns.map(_.distributionSize).toArray,
        inputEncoding = "one_hot",
        residual = true,
        doDirectIo = true,
        columnMasking = true,
        seed = 11123L)
      Trainer.train(model, data, epochs = 2, batchSize = 1024,
        schedule = Trainer.ConstantLr(2e-3f), seed = 0L)
      (model, meta)
    }

  private val embedModelCache = new KeyedCache[String, (Made, TableMeta)]()

  /** Tied-embedding ResMADE (inputEncoding=embed + outputEncoding=embed,
    * made.py:645-674): wide domains (here l_quantity, dom 50 > embedSize
    * 16) get embedSize-wide tied heads instead of full one-hot heads.
    */
  def lineitemEmbedModel(s: SparkSession, d: String): (Made, TableMeta) =
    embedModelCache(d) {
      val (data, meta) = lineitemEncoded(s, d)
      val model = new Made(
        nin = modelCols.length,
        hiddenSizes = Seq(64, 64),
        inputBins = meta.columns.map(_.distributionSize).toArray,
        inputEncoding = "embed",
        outputEncoding = "embed",
        embedSize = 16,
        residual = true,
        doDirectIo = true,
        columnMasking = true,
        seed = 11123L)
      Trainer.train(model, data, epochs = 2, batchSize = 1024,
        schedule = Trainer.ConstantLr(2e-3f), seed = 0L)
      (model, meta)
    }

  private val ensembleCache = new KeyedCache[String, (Made, TableMeta)]()

  /** Multi-ordering ensemble via ONE multi-mask MADE (made.py:277-311
    * update_masks cycling; estimators.py:372-418 averages per-ordering
    * estimates of a single model): three orderings (natural, reversed,
    * one fixed shuffle) cycled per minibatch during training, so the
    * ensemble costs 1× training and 1× parameters instead of the 3×
    * that one-model-per-ordering (train_model.py:210-228) pays.
    */
  def lineitemEnsemble(s: SparkSession, d: String): (Made, TableMeta) =
    ensembleCache(d) {
      val (data, meta) = lineitemEncoded(s, d)
      val model = new Made(
        nin = modelCols.length,
        hiddenSizes = Seq(64, 64),
        inputBins = meta.columns.map(_.distributionSize).toArray,
        inputEncoding = "one_hot",
        residual = true,
        doDirectIo = true,
        columnMasking = true,
        seed = 11123L,
        numMasks = 3,
        orderings = Seq(Array(0, 1, 2, 3, 4), Array(4, 3, 2, 1, 0),
          Array(2, 0, 4, 1, 3)))
      Trainer.train(model, data, epochs = 2, batchSize = 1024,
        schedule = Trainer.ConstantLr(2e-3f), seed = 0L)
      (model, meta)
    }

  private val transformerCache =
    new KeyedCache[String, (graft.nn.Transformer, TableMeta)]()

  /** Small decoder-only Transformer over the same lineitem subset — the
    * second model family (transformer.py:267-598). Reuses the shared
    * encoded matrix + dictionary ([[lineitemEncoded]]) instead of
    * re-scanning and re-collecting — the transformer's smaller 30k
    * training budget is a prefix of the shared 100k sample. */
  def lineitemTransformer(s: SparkSession, d: String): (graft.nn.Transformer, TableMeta) =
    transformerCache(d) {
      val (full, meta) = lineitemEncoded(s, d)
      val data = full.take(30000)
      val model = new graft.nn.Transformer(
        nin = modelCols.length,
        inputBins = meta.columns.map(_.distributionSize).toArray,
        dModel = 16, dFf = 32, numHeads = 2, numBlocks = 2,
        columnMasking = true, seed = 11123L)
      Trainer.train(model, data, epochs = 2, batchSize = 1024,
        schedule = Trainer.ConstantLr(5e-3f), seed = 0L)
      (model, meta)
    }

  private val maxdiffCache = new KeyedCache[String, graft.est.MaxDiffHistogram]()

  def lineitemMaxdiff(s: SparkSession, d: String): graft.est.MaxDiffHistogram =
    maxdiffCache(d) {
      // Shared encoded matrix; the histogram's 50k budget is a prefix.
      val (full, meta) = lineitemEncoded(s, d)
      graft.est.MaxDiffHistogram.build(meta, full.take(50000), limit = 200)
    }

  private val bnCache = new KeyedCache[String, BayesNet]()

  /** Chow–Liu BN over the same lineitem subset (fit once per sfDir). */
  def lineitemBn(s: SparkSession, d: String): BayesNet =
    bnCache(d) {
      val df = li(s, d).select(modelCols.map(col): _*)
      // dense-pair fast path; all narrow domains are <= 64 so no
      // column is rebinned and the result is exactly fit()'s
      // (equivalence asserted in BayesNetSpec) — but the C(n,2)-way
      // grouping-sets Expand over the encoded table is replaced by
      // one raw-value frequency pass + per-partition dense arrays
      BayesNet.fitRebinned(df, "lineitem", modelCols, maxBins = 64)
    }

  private val bnWideCache = new KeyedCache[String, BayesNet]()

  /** Wide-domain BN (modelCols + l_shipdate, equal-freq rebinned to 64
    * cells), fit once per sfDir and shared by `q_bn_card_wide` and the
    * q-error report's bayesnet_wide row. */
  def lineitemBnWide(s: SparkSession, d: String): BayesNet =
    bnWideCache(d) {
      val wideCols = modelCols :+ "l_shipdate"
      val df = li(s, d).select(wideCols.map(col): _*)
      // fused fast path: dictionary + marginals from one grouping-sets
      // job (see BayesNet.fitRebinned) — the tableMeta aggregation,
      // the encode persist, and the singles job collapse into it
      BayesNet.fitRebinned(df, "lineitem", wideCols, maxBins = 64)
    }

  /** The evaluation workload over the modeled columns (seeded generator,
    * eval_model.py:175-217), cached (r21): like the fixed-domain
    * [[gridWorkload]]/[[fixedWorkload]] corpora it is a pure function of
    * its inputs, but its anchors come from two bounded Spark jobs
    * (approx-distinct + systematic slice), which every bench repeat
    * re-paid. The key carries every input of the generator: the sfDir
    * and n fix the anchors, and `meta` enters through the name and
    * domain size of each column. First builds are charged to the setup
    * ledger. */
  private val workloadCache =
    new KeyedCache[(String, Int, Seq[(String, Int)]), Seq[Seq[Pred]]](
      ledger = Some { case (d, n, shape) => KeyedCache.setupLabel("wl_",
        s"$d/lineitem.parquet|workload_$n|${shape.mkString(",")}") })
  def lineitemWorkload(s: SparkSession, d: String,
      meta: TableMeta, n: Int): Seq[Seq[Pred]] =
    workloadCache((d, n, meta.columns.map(c => c.name -> c.distributionSize))) {
      val anchors = Workload.anchorRows(li(s, d), modelCols, n)
      Workload.generate(meta, modelCols, anchors, n,
        minFilters = 2, maxFilters = 4, seed = 1234L)
    }

  /** SF-invariant lineitem domains (fixed by the TPC-H spec), so the
    * seeded workload below is a pure function — its oracle SQL exists
    * before any query runs (no runtime side-channel). Domain sizes match
    * the data: 3 / 2 / 50 / 11 / 9.
    */
  private val fixedDomains: Seq[(String, IndexedSeq[Any])] = Seq(
    "l_returnflag" -> IndexedSeq[Any]("A", "N", "R"),
    "l_linestatus" -> IndexedSeq[Any]("O", "F"),
    "l_quantity" -> (1 to 50).map(q => (q.toDouble: Any)),
    "l_discount" -> (0 to 10).map(i => ((i / 100.0): Any)),
    "l_tax" -> (0 to 8).map(i => ((i / 100.0): Any)))

  /** The oracle-checked evaluation workload (pure; see [[fixedDomains]]). */
  lazy val fixedWorkload: Seq[Seq[Pred]] =
    Workload.generateFixed(fixedDomains, 20,
      minFilters = 2, maxFilters = 4, seed = 1234L)

  val neuralEntries: Seq[Entry] = Seq(
    // Seeded-workload true cardinalities: generator determinism + the
    // one-pass count-if oracle, DuckDB-checked per query. The workload
    // is the pure fixed-domain one so the oracle SQL is a constant.
    Entry("q_workload_truths",
      (s, d) => Workload.trueCardsDf(s, li(s, d), fixedWorkload),
      Some(Workload.trueCardsSql("lineitem", fixedWorkload))),
    // The FULL seeded workload routed through the SQL seam (r15): the
    // generator's WHERE text (Pred.whereSql) round-trips through
    // SqlFront for a 200-query parse-fidelity corpus — parsed preds
    // must be STRUCTURALLY identical and produce identical one-pass
    // true counts — and the 20-query oracle workload runs through
    // ProgressiveSampling as SQL text via querySql with per-query
    // structural parse identity required (which, with instance
    // determinism, implies the r15 twin-run estimate identity at half
    // the model cost — VERDICT r15 #8), making the front-end
    // load-bearing for the flagship eval path. The q-error quantiles
    // of the SQL-seam run gate the band AcceptanceSpec holds. DuckDB
    // independently recomputes sum(true cards) from the same texts.
    // Scale shape: two single-pass 200-column count-if aggregations +
    // one 20-column pass; parsing is driver-side metadata work.
    Entry("q_sql_front_workload",
      (s, d) => {
        import s.implicits._
        val corpus = Workload.generateFixed(fixedDomains, 200,
          minFilters = 2, maxFilters = 4, seed = 777L)
        val sqlTexts = corpus.map(q =>
          s"SELECT count(*) FROM lineitem WHERE ${Pred.whereSql(q)}")
        // r18 (VERDICT r17 #8): the 200 front-end parses are
        // independent driver-side pure functions (SparkSqlParser is
        // stateless per call) — fan them out; sequential they were a
        // third of this gate's wall-clock.
        val parsed = Fanout.map(sqlTexts)(t => graft.query.SqlFront.parse(s, t))
        val nParse = corpus.zip(parsed).count { case (q, (t, ps)) =>
          t == "lineitem" && ps == q }
        val df = li(s, d)
        // ONE count-if pass for native-200 + the 20-query truths
        // (r17 merged three scans into one; r18 drops the parsed-200
        // duplicate block entirely, VERDICT r17 #8): structural parse
        // identity (ps == q, checked per query above) IMPLIES count
        // identity — trueCards is a pure function of the pred list, so
        // two structurally equal lists cannot produce different
        // counts. That is the same implication the r16 trim used for
        // the model twin, applied to the count twin: the 420-column
        // aggregation (whose driver-side Catalyst ANALYSIS, not the
        // scan, dominated this gate's cost) becomes a 220-column one.
        val allCards = Workload.trueCards(df, corpus ++ fixedWorkload)
        val nativeCards = allCards.slice(0, corpus.size)
        val truths = allCards.takeRight(fixedWorkload.size)
        val nCount = nParse
        // model seam: the 20-query oracle workload through the SQL
        // path. r16 trim (VERDICT r15 #8): the r15 entry ran same-seed
        // twins (40 model runs) to require native-vs-SQL ESTIMATE
        // identity; estimate identity is implied by structural pred
        // identity + instance determinism (an estimator instance is a
        // pure function of seed and query sequence — two same-seed
        // instances fed structurally equal sequences cannot diverge),
        // so the gate now requires the cheap half — structural
        // identity of the parsed preds, per query — and runs the model
        // ONCE per query through querySql, keeping the SQL seam
        // load-bearing for the q-error band at half the model cost.
        val (model, meta) = lineitemModel(s, d)
        val psSql = new ProgressiveSampling(model, meta,
          numSamples = 1000, shortcircuit = true)
        val modelPairs = fixedWorkload.map { q =>
          val txt = s"SELECT count(*) FROM lineitem WHERE ${Pred.whereSql(q)}"
          val (t, parsedQ) = graft.query.SqlFront.parse(s, txt)
          (t == "lineitem" && parsedQ == q,
            psSql.querySql(s, txt, Some("lineitem")))
        }
        val nModel = modelPairs.count(_._1)
        val errs = modelPairs.map(_._2.toDouble).zip(truths).map {
          case (e, t) => Workload.qError(math.max(e, 1.0), t.toDouble) }
        val rep = Workload.report("sql_seam", errs, 0.0)
        Seq(
          // r19 rename (ADVICE r18): this row gates PARSE identity —
          // count identity follows by inference (trueCards is a pure
          // function of the pred list), it is NOT independently
          // re-counted over the parsed lists.
          ("count_identity_via_parse_of_200", nCount.toLong, nCount == 200),
          ("model_parse_identical_of_20", nModel.toLong, nModel == 20),
          ("parse_identical_of_200", nParse.toLong, nParse == 200),
          ("sql_seam_qerr_band", fixedWorkload.size.toLong,
            rep.median <= 2.0 && rep.p95 <= 20.0 && rep.max.isFinite),
          ("sum_true_cards", nativeCards.sum, true))
          .toDF("metric", "value", "ok").orderBy("metric")
      },
      Some(s"""SELECT 'count_identity_via_parse_of_200' AS metric,
  CAST(200 AS BIGINT) AS value, true AS ok
UNION ALL
SELECT 'model_parse_identical_of_20', CAST(20 AS BIGINT), true
UNION ALL
SELECT 'parse_identical_of_200', CAST(200 AS BIGINT), true
UNION ALL
SELECT 'sql_seam_qerr_band', CAST(20 AS BIGINT), true
UNION ALL
SELECT 'sum_true_cards', CAST((SELECT sum(card) FROM (
${Workload.trueCardsSql("lineitem",
        Workload.generateFixed(fixedDomains, 200,
          minFilters = 2, maxFilters = 4, seed = 777L))})) AS BIGINT), true
ORDER BY metric""")),
    // ProgressiveSampling flagship estimate on W1 (model-based; seeded
    // deterministic but not SQL-expressible -> rows-only check).
    Entry("q_psample_card",
      (s, d) => {
        import s.implicits._
        val (model, meta) = lineitemModel(s, d)
        val ps = new ProgressiveSampling(model, meta, numSamples = 1000,
          shortcircuit = true)
        Seq(ps.query(W1)).toDF("est_card")
      },
      None),
    // SampleFromModel estimate on the same workload (estimators.py:421-477).
    Entry("q_model_sample_card",
      (s, d) => {
        import s.implicits._
        val (model, meta) = lineitemModel(s, d)
        val sm = new SampleFromModel(model, meta, numSamplesPerQuery = 2000)
        Seq(sm.query(W1)).toDF("est_card")
      },
      None),
    // MaxDiff(V,A) histogram estimate on W1 (estimators.py:1000-1408;
    // deterministic build -> rows-only check).
    Entry("q_maxdiff_card",
      (s, d) => {
        import s.implicits._
        Seq(lineitemMaxdiff(s, d).query(W1)).toDF("est_card")
      },
      None),
    // Tied-embedding MADE (embed input + embed output, made.py:645-674)
    // driving progressive sampling — exercises the wide-domain
    // head-compression path through the driver (rows-only: model-based).
    Entry("q_psample_embed",
      (s, d) => {
        import s.implicits._
        val (model, meta) = lineitemEmbedModel(s, d)
        val ps = new ProgressiveSampling(model, meta, numSamples = 1000,
          shortcircuit = true)
        Seq(ps.query(W1)).toDF("est_card")
      },
      None),
    // Multi-ordering ensemble estimate on W1 (estimators.py:409-418):
    // mean of per-ordering ProgressiveSampling estimates of ONE
    // multi-mask model, numSamples split across the 3 orderings
    // (rows-only: model-based).
    Entry("q_psample_ensemble",
      (s, d) => {
        import s.implicits._
        val (model, meta) = lineitemEnsemble(s, d)
        val ens = new MultiMaskProgressiveSampling(model, meta,
          numSamples = 1000, shortcircuit = true)
        Seq(ens.query(W1)).toDF("est_card")
      },
      None),
    // Transformer-backed progressive sampling on W1 (the second model
    // family; seeded deterministic, model-based -> rows-only check).
    Entry("q_psample_transformer",
      (s, d) => {
        import s.implicits._
        val (model, meta) = lineitemTransformer(s, d)
        val ps = new ProgressiveSampling(model, meta, numSamples = 1000,
          shortcircuit = true)
        Seq(ps.query(W1)).toDF("est_card")
      },
      None),
    // Catalyst-CBO optimizer estimate on W1 — the reference's Postgres
    // EXPLAIN baseline (estimators.py:619-677) re-expressed as ANALYZE
    // TABLE + FilterEstimation (rows-only: engine-internal estimate).
    Entry("q_cbo_card",
      (s, d) => {
        import s.implicits._
        val tbl = "graft_cbo_" + d.replaceAll("[^A-Za-z0-9]", "_")
        graft.est.Cbo.ensureAnalyzed(s,
          li(s, d).select(modelCols.map(col): _*), tbl)
        Seq(graft.est.Cbo.estimate(s, tbl, W1)).toDF("est_card")
      },
      None),
    // The Catalyst AQP rule end-to-end through the driver's session: a
    // SQL COUNT(*) WHERE <conj> answered by the learned estimator via
    // the GraftExtensions optimizer rule (plans/GraftExtensions.scala) —
    // at 100 TB this replaces a full scan + shuffle with a millisecond
    // driver-side model probe. The rule is attached to the existing
    // session via experimental.extraOptimizations (the same
    // Rule[LogicalPlan] the withExtensions path injects); the entry
    // REQUIRES the rewrite to fire (optimized plan must be the injected
    // LocalRelation), so a silent fall-through to the exact scan fails
    // loudly instead of passing vacuously. Rows-only: model-based.
    Entry("q_approx_count",
      (s, d) => {
        import s.implicits._
        val (model, meta) = lineitemModel(s, d)
        val ps = new ProgressiveSampling(model, meta, numSamples = 1000,
          shortcircuit = true)
        graft.plans.ApproxCountRule.attachIfMissing(s)
        // Scoped registration: save and restore the registry + flag so
        // the entry never clobbers a user's own enableApproxCount state.
        val savedRegistry = graft.plans.GraftRuntime.snapshot()
        val savedEnabled =
          s.conf.getOption(graft.plans.GraftRuntime.EnabledKey)
        graft.plans.GraftRuntime.register(s"$d/lineitem.parquet",
          modelCols.toSet, ps.query)
        s.conf.set(graft.plans.GraftRuntime.EnabledKey, "true")
        try {
          s.read.parquet(s"$d/lineitem.parquet")
            .createOrReplaceTempView("graft_aqp_lineitem")
          val df = s.sql(
            "SELECT count(*) AS est_card FROM graft_aqp_lineitem WHERE " +
              "l_quantity <= 24.0 AND l_discount >= 0.05 AND l_returnflag = 'R'")
          val plan = df.queryExecution.optimizedPlan.toString
          require(plan.trim.startsWith("LocalRelation"),
            s"AQP rewrite did not fire; optimized plan:\n$plan")
          Seq(df.collect()(0).getLong(0)).toDF("est_card")
        } finally {
          savedEnabled match {
            case Some(v) => s.conf.set(graft.plans.GraftRuntime.EnabledKey, v)
            case None => s.conf.unset(graft.plans.GraftRuntime.EnabledKey)
          }
          graft.plans.GraftRuntime.restore(savedRegistry)
        }
      },
      None),
    // Guarantee-gate twin of q_approx_count (the q_sketch_bounds
    // precedent, closing an r12 rows-only-tail ask): the AQP rewrite's
    // answer is model-based and stays rows-only, but its CONTRACT —
    // the learned estimate within a fixed q-error band of the exact
    // count — is exact arithmetic both engines check. Same model, same
    // W1 conjunction, same optimizer-rule path (the LocalRelation
    // require() is kept, so this gates the END-TO-END AQP answer, not
    // a direct model probe); exact_ref is the full-scan count. Band:
    // q-error <= 2.0 — measured <= 1.15 at all three test SFs for the
    // MADE family on W1; 2.0 is the scale-robust contract and matches
    // the reference's own acceptance currency (q-error quantiles).
    Entry("q_approx_count_bounds",
      (s, d) => {
        import s.implicits._
        val (model, meta) = lineitemModel(s, d)
        val ps = new ProgressiveSampling(model, meta, numSamples = 1000,
          shortcircuit = true)
        graft.plans.ApproxCountRule.attachIfMissing(s)
        val savedRegistry = graft.plans.GraftRuntime.snapshot()
        val savedEnabled =
          s.conf.getOption(graft.plans.GraftRuntime.EnabledKey)
        // Exact reference BEFORE the rewrite is enabled: the AQP rule
        // matches count(*)-over-registered-path-with-registered-
        // conjuncts, which is exactly what the reference query is —
        // computed inside the enabled window it would be silently
        // answered by the model and the gate would compare the
        // estimate against itself (caught by the sf0.01 oracle run).
        val exact = Exact.oracle(li(s, d), W1).head().getLong(0)
        graft.plans.GraftRuntime.register(s"$d/lineitem.parquet",
          modelCols.toSet, ps.query)
        s.conf.set(graft.plans.GraftRuntime.EnabledKey, "true")
        try {
          s.read.parquet(s"$d/lineitem.parquet")
            .createOrReplaceTempView("graft_aqp_lineitem")
          val df = s.sql(
            "SELECT count(*) AS est_card FROM graft_aqp_lineitem WHERE " +
              "l_quantity <= 24.0 AND l_discount >= 0.05 AND l_returnflag = 'R'")
          require(df.queryExecution.optimizedPlan.toString.trim
              .startsWith("LocalRelation"),
            "AQP rewrite did not fire")
          val est = math.max(df.collect()(0).getLong(0), 1L)
          val qerr = math.max(est.toDouble / exact, exact.toDouble / est)
          Seq(("approx_count_qerror", exact, qerr <= 2.0))
            .toDF("metric", "exact_ref", "ok")
        } finally {
          savedEnabled match {
            case Some(v) => s.conf.set(graft.plans.GraftRuntime.EnabledKey, v)
            case None => s.conf.unset(graft.plans.GraftRuntime.EnabledKey)
          }
          graft.plans.GraftRuntime.restore(savedRegistry)
        }
      },
      Some("""SELECT 'approx_count_qerror' AS metric,
  CAST(count(*) AS BIGINT) AS exact_ref, true AS ok
FROM lineitem
WHERE l_quantity <= 24.0 AND l_discount >= 0.05 AND l_returnflag = 'R'""")),
    // Approximate GROUP BY through the optimizer (r16): `SELECT c,
    // count(*) … GROUP BY c` rewritten into |domain(c)| model probes —
    // the learned joint density IS the per-group count vector,
    // surfaced one Eq mask at a time (the null group, when present,
    // is the IsNull mask). At 100 TB this turns a scan + shuffle into
    // a handful of driver-side probes. Registered estimator here is
    // the EXACT filter count, so the rewrite is lossless and every
    // per-group row hash-gates against DuckDB's GROUP BY over the
    // identical texts; each query REQUIRES the rewritten
    // LocalRelation plan. g2 has no WHERE (probe preds are the bare
    // Eq); g3's WHERE uses the extended vocabulary (NOT IN) so the
    // grouped path composes with the r16 op extraction; zero-count
    // groups are dropped exactly like SQL drops empty groups.
    Entry("q_approx_groupby",
      (s, d) => {
        import s.implicits._
        graft.plans.ApproxCountRule.attachIfMissing(s)
        val savedRegistry = graft.plans.GraftRuntime.snapshot()
        val savedEnabled =
          s.conf.getOption(graft.plans.GraftRuntime.EnabledKey)
        val liDf = s.read.parquet(s"$d/lineitem.parquet")
        val domains: Map[String, Seq[Any]] = Seq("l_returnflag",
          "l_linestatus").map(c => c ->
          cachedColumnMeta(s"$d/lineitem.parquet", liDf.select(c), c).domain.toSeq).toMap
        graft.plans.GraftRuntime.register(
          s"$d/lineitem.parquet", modelCols.toSet,
          preds => liDf.filter(Pred.conj(preds)).count(),
          domain = name => domains.get(name))
        s.conf.set(graft.plans.GraftRuntime.EnabledKey, "true")
        try {
          liDf.createOrReplaceTempView("graft_aqp_gb_lineitem")
          val texts = Seq(
            "g1_where" -> ("SELECT l_returnflag AS grp, count(*) AS n " +
              "FROM graft_aqp_gb_lineitem WHERE l_quantity <= 10.0 " +
              "GROUP BY l_returnflag"),
            "g2_no_where" -> ("SELECT l_linestatus AS grp, count(*) AS n " +
              "FROM graft_aqp_gb_lineitem GROUP BY l_linestatus"),
            "g3_vocab_where" ->
              ("SELECT l_linestatus AS grp, count(*) AS n " +
                "FROM graft_aqp_gb_lineitem WHERE l_returnflag NOT IN " +
                "('A') AND l_quantity <= 5.0 GROUP BY l_linestatus"))
          val rows = texts.flatMap { case (qid, sql) =>
            val df = s.sql(sql)
            val plan = df.queryExecution.optimizedPlan.toString
            require(!plan.contains("Aggregate") &&
              plan.contains("LocalRelation"),
              s"GROUP BY rewrite did not fire on $qid; plan:\n$plan")
            df.collect().map(r => (qid, r.getString(0), r.getLong(1)))
          }
          rows.toDF("query_id", "grp", "n_rows")
            .orderBy("query_id", "grp")
        } finally {
          savedEnabled match {
            case Some(v) => s.conf.set(graft.plans.GraftRuntime.EnabledKey, v)
            case None => s.conf.unset(graft.plans.GraftRuntime.EnabledKey)
          }
          graft.plans.GraftRuntime.restore(savedRegistry)
        }
      },
      Some("""SELECT 'g1_where' AS query_id, l_returnflag AS grp,
  CAST(count(*) AS BIGINT) AS n_rows FROM lineitem
  WHERE l_quantity <= 10.0 GROUP BY l_returnflag
UNION ALL
SELECT 'g2_no_where', l_linestatus, CAST(count(*) AS BIGINT)
  FROM lineitem GROUP BY l_linestatus
UNION ALL
SELECT 'g3_vocab_where', l_linestatus, CAST(count(*) AS BIGINT)
  FROM lineitem
  WHERE l_returnflag NOT IN ('A') AND l_quantity <= 5.0
  GROUP BY l_linestatus
ORDER BY query_id, grp""")),
    // Guarantee-gate twin: the same GROUP BY rewrite answered by the
    // LEARNED model (ProgressiveSampling probes, one per group), gated
    // per group — every group the exact answer has must come back with
    // q-error <= 2.0, and no phantom groups may appear. The exact
    // reference is computed BEFORE the rewrite is enabled (the
    // q_approx_count_bounds discipline); the DuckDB oracle recomputes
    // the per-group exact counts from the identical text.
    Entry("q_approx_groupby_bounds",
      (s, d) => {
        import s.implicits._
        val (model, meta) = lineitemModel(s, d)
        val ps = new ProgressiveSampling(model, meta, numSamples = 1000,
          shortcircuit = true)
        graft.plans.ApproxCountRule.attachIfMissing(s)
        val savedRegistry = graft.plans.GraftRuntime.snapshot()
        val savedEnabled =
          s.conf.getOption(graft.plans.GraftRuntime.EnabledKey)
        val sqlTxt = "SELECT l_returnflag AS grp, count(*) AS n " +
          "FROM graft_aqp_gbb_lineitem WHERE l_quantity <= 24.0 " +
          "GROUP BY l_returnflag"
        val exact = li(s, d).filter(col("l_quantity") <= 24.0)
          .groupBy(col("l_returnflag")).count()
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        graft.plans.GraftRuntime.register(
          s"$d/lineitem.parquet", modelCols.toSet, ps.query,
          domain = name => if (name == "l_returnflag")
            Some(meta.column("l_returnflag").domain.toSeq) else None)
        s.conf.set(graft.plans.GraftRuntime.EnabledKey, "true")
        try {
          s.read.parquet(s"$d/lineitem.parquet")
            .createOrReplaceTempView("graft_aqp_gbb_lineitem")
          val df = s.sql(sqlTxt)
          val plan = df.queryExecution.optimizedPlan.toString
          require(!plan.contains("Aggregate") &&
            plan.contains("LocalRelation"),
            s"GROUP BY rewrite did not fire; plan:\n$plan")
          val est = df.collect().map(r =>
            r.getString(0) -> r.getLong(1)).toMap
          val noPhantoms = est.keySet.subsetOf(exact.keySet)
          val rows = exact.toSeq.map { case (g, n) =>
            val e = math.max(est.getOrElse(g, 0L), 1L)
            val qerr = math.max(e.toDouble / n, n.toDouble / e)
            (g, n, noPhantoms && qerr <= 2.0)
          }
          rows.toDF("grp", "exact_n", "ok").orderBy("grp")
        } finally {
          savedEnabled match {
            case Some(v) => s.conf.set(graft.plans.GraftRuntime.EnabledKey, v)
            case None => s.conf.unset(graft.plans.GraftRuntime.EnabledKey)
          }
          graft.plans.GraftRuntime.restore(savedRegistry)
        }
      },
      Some("""SELECT l_returnflag AS grp,
  CAST(count(*) AS BIGINT) AS exact_n, true AS ok
FROM lineitem WHERE l_quantity <= 24.0
GROUP BY l_returnflag ORDER BY grp""")),
    // Estimator-driven JOIN PLANNING — the second half of the
    // optimizer-integration north star (the COUNT(*) rewrite above
    // ANSWERS from the model; this lets the model STEER the planner):
    // the same lineitem⋈orders join planned twice, once from file-size
    // statistics and once with the learned sampler's cardinality
    // injected as Statistics via EstimatedStatsRule, returning the join
    // operator Catalyst itself chose in each mode plus the (identical)
    // result count. The model knows the conjunct keeps a few hundred
    // rows, so its plan broadcasts what file-size stats shuffle — the
    // entry hard-fails unless BOTH modes pick the expected operator.
    // Oracle-checked since r9: the require() pins the two plan-name
    // strings (a failed flip throws → red row, never a wrong-but-
    // matching output), so the full output — including n_rows, the
    // answer BOTH steered plans must produce — is engine-portable:
    // DuckDB computes the same join count and the literal mode/exec
    // labels the contract guarantees. Both flip directions are
    // additionally spec-asserted in JoinPlanSpec.
    Entry("q_join_plan_inject",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
        val (model, meta) = lineitemModel(s, d)
        val ps = new ProgressiveSampling(model, meta, numSamples = 1000,
          shortcircuit = true)
        graft.plans.EstimatedStatsRule.attachIfMissing(s)
        val savedRegistry = graft.plans.GraftRuntime.snapshot()
        val savedEnabled =
          s.conf.getOption(graft.plans.EstimatedStatsRule.EnabledKey)
        val savedThresh = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
        val savedAqe = s.conf.get("spark.sql.adaptive.enabled")
        graft.plans.GraftRuntime.register(s"$d/lineitem.parquet",
          modelCols.toSet, ps.query)
        def joined() = {
          val liF = s.read.parquet(s"$d/lineitem.parquet")
            .filter(col("l_quantity") <= 1.0 && col("l_discount") <= 0.0 &&
              col("l_returnflag") === "R")
            .select(col("l_orderkey"), col("l_quantity"))
          val ord = Tables.read(s, d, "orders")
            .select(col("o_orderkey"), col("o_totalprice"))
          liF.join(ord, liF("l_orderkey") === ord("o_orderkey"))
        }
        def chosenJoin(df: org.apache.spark.sql.DataFrame): String = {
          var name = "unknown"
          df.queryExecution.executedPlan.foreach {
            case _: BroadcastHashJoinExec => name = "BroadcastHashJoin"
            case _: SortMergeJoinExec => name = "SortMergeJoin"
            case _ => ()
          }
          name
        }
        try {
          // static plans (AQE would re-decide from runtime sizes —
          // which is the complementary mechanism, not the one under
          // test). Scale-free threshold: the geometric mean of the
          // scan's file size and the model's estimated output size
          // sits strictly between them at ANY scale factor, so the
          // file-size plan shuffles and the model plan broadcasts
          // from sf0.01 to a 10x derived dir alike.
          s.conf.set("spark.sql.adaptive.enabled", "false")
          val fileBytes = new java.io.File(s"$d/lineitem.parquet")
            .length.toDouble
          val estBytes = ps.query(Seq(
            graft.query.Pred("l_quantity", graft.query.Op.Leq, 1.0),
            graft.query.Pred("l_discount", graft.query.Op.Leq, 0.0),
            graft.query.Pred("l_returnflag", graft.query.Op.Eq, "R")))
            .toDouble * 52
          val thresh = math.sqrt(fileBytes * math.max(estBytes, 1.0)).toLong
          s.conf.set("spark.sql.autoBroadcastJoinThreshold",
            thresh.toString)
          s.conf.set(graft.plans.EstimatedStatsRule.EnabledKey, "false")
          val base = joined()
          val basePlan = chosenJoin(base)
          val baseRows = base.count()
          s.conf.set(graft.plans.EstimatedStatsRule.EnabledKey, "true")
          val injected = joined()
          val injPlan = chosenJoin(injected)
          val injRows = injected.count()
          require(basePlan == "SortMergeJoin" &&
              injPlan == "BroadcastHashJoin" && baseRows == injRows,
            s"stats injection did not flip the join: base=$basePlan/" +
              s"$baseRows injected=$injPlan/$injRows")
          Seq(("file_size_stats", basePlan, baseRows),
            ("model_stats", injPlan, injRows))
            .toDF("mode", "join_exec", "n_rows").orderBy("mode")
        } finally {
          savedEnabled match {
            case Some(v) =>
              s.conf.set(graft.plans.EstimatedStatsRule.EnabledKey, v)
            case None =>
              s.conf.unset(graft.plans.EstimatedStatsRule.EnabledKey)
          }
          s.conf.set("spark.sql.autoBroadcastJoinThreshold", savedThresh)
          s.conf.set("spark.sql.adaptive.enabled", savedAqe)
          graft.plans.GraftRuntime.restore(savedRegistry)
        }
      },
      Some("""WITH n AS (SELECT count(*) AS n_rows FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_quantity <= 1.0 AND l.l_discount <= 0.0
    AND l.l_returnflag = 'R')
SELECT 'file_size_stats' AS mode, 'SortMergeJoin' AS join_exec, n_rows FROM n
UNION ALL
SELECT 'model_stats', 'BroadcastHashJoin', n_rows FROM n
ORDER BY mode""")),
    // The DEMOTE direction of estimator-driven join planning — at
    // 100 TB the more important one: file-size stats after column
    // pruning make a filtered fact side look broadcastable, but the
    // model knows the predicate keeps ~everything, so injecting its
    // estimate demotes the broadcast to a shuffle join BEFORE the
    // build side OOMs every executor. Threshold calibration is
    // self-adapting: both sides' size-only statistics and the
    // injected statistic are read off the optimized plans at runtime
    // and the threshold set to their geometric mean (margin-checked),
    // so the entry holds from sf0.01 to derived 10x dirs without
    // baked-in width arithmetic. Same contract shape as
    // q_join_plan_inject: require() pins both plan names and answer
    // equality, making the output engine-portable and hash-gated.
    Entry("q_join_plan_demote",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
        val (model, meta) = lineitemModel(s, d)
        val ps = new ProgressiveSampling(model, meta, numSamples = 1000,
          shortcircuit = true)
        graft.plans.EstimatedStatsRule.attachIfMissing(s)
        val savedRegistry = graft.plans.GraftRuntime.snapshot()
        val savedEnabled =
          s.conf.getOption(graft.plans.EstimatedStatsRule.EnabledKey)
        val savedThresh = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
        val savedAqe = s.conf.get("spark.sql.adaptive.enabled")
        graft.plans.GraftRuntime.register(s"$d/lineitem.parquet",
          modelCols.toSet, ps.query)
        // The shapes the planner will actually see after column
        // pruning: build = join key only below the wide filter; probe
        // = key + the two flag columns the aggregate reads.
        def buildSide() = s.read.parquet(s"$d/lineitem.parquet")
          .filter(col("l_quantity") <= 50.0).select(col("l_orderkey"))
        // The l_linenumber slice bounds EXECUTION cost (the
        // deliberately-bad broadcast plan still runs, over a fraction
        // of the probe rows) without touching the planning contract: a
        // Filter leaves size-only statistics unchanged, so the
        // calibration and both plan choices are identical with or
        // without it; l_linenumber is unregistered so the stats rule
        // never wraps the probe, and — unlike a slice on the join key
        // — the predicate cannot constraint-propagate onto the build
        // side's Filter (a pmod-on-key slice did exactly that, pushed
        // an unparseable conjunct into the build filter, and silently
        // disabled the injection).
        def probeSide() = s.read.parquet(s"$d/lineitem.parquet")
          .filter(col("l_linenumber") <= 2)
          .select(col("l_orderkey"), col("l_returnflag"),
            col("l_linestatus"))
        def joined() = {
          val build = s.read.parquet(s"$d/lineitem.parquet")
            .filter(col("l_quantity") <= 50.0)
            .select(col("l_orderkey").as("bk"))
          val probe = probeSide()
          probe.join(build, probe("l_orderkey") === build("bk"))
            .agg(count(lit(1)).as("n_rows"),
              max(col("l_returnflag")).as("max_flag"),
              max(col("l_linestatus")).as("max_status"))
        }
        def chosenJoin(df: org.apache.spark.sql.DataFrame): String = {
          var name = "unknown"
          df.queryExecution.executedPlan.foreach {
            case _: BroadcastHashJoinExec => name = "BroadcastHashJoin"
            case _: SortMergeJoinExec => name = "SortMergeJoin"
            case _ => ()
          }
          name
        }
        try {
          s.conf.set("spark.sql.adaptive.enabled", "false")
          s.conf.set(graft.plans.EstimatedStatsRule.EnabledKey, "false")
          val b0 = buildSide().queryExecution.optimizedPlan.stats
            .sizeInBytes
          val p0 = probeSide().queryExecution.optimizedPlan.stats
            .sizeInBytes
          s.conf.set(graft.plans.EstimatedStatsRule.EnabledKey, "true")
          val b1 = buildSide().queryExecution.optimizedPlan.stats
            .sizeInBytes
          val cap = b1.min(p0)
          require(cap * 10 > b0 * 14,
            s"demote margin too thin: build=$b0 probe=$p0 injected=$b1")
          val thresh =
            math.sqrt(b0.toDouble * cap.toDouble).toLong
          s.conf.set("spark.sql.autoBroadcastJoinThreshold",
            thresh.toString)
          s.conf.set(graft.plans.EstimatedStatsRule.EnabledKey, "false")
          val base = joined()
          val basePlan = chosenJoin(base)
          val Array(baseRow) = base.collect()
          s.conf.set(graft.plans.EstimatedStatsRule.EnabledKey, "true")
          val injected = joined()
          val injPlan = chosenJoin(injected)
          val Array(injRow) = injected.collect()
          require(basePlan == "BroadcastHashJoin" &&
              injPlan == "SortMergeJoin" && baseRow == injRow,
            s"stats injection did not demote the broadcast: " +
              s"base=$basePlan/$baseRow injected=$injPlan/$injRow " +
              s"(thresh=$thresh build=$b0 probe=$p0 injected=$b1)")
          Seq(
            ("file_size_stats", basePlan, baseRow.getLong(0),
              baseRow.getString(1), baseRow.getString(2)),
            ("model_stats", injPlan, injRow.getLong(0),
              injRow.getString(1), injRow.getString(2)))
            .toDF("mode", "join_exec", "n_rows", "max_flag", "max_status")
            .orderBy("mode")
        } finally {
          savedEnabled match {
            case Some(v) =>
              s.conf.set(graft.plans.EstimatedStatsRule.EnabledKey, v)
            case None =>
              s.conf.unset(graft.plans.EstimatedStatsRule.EnabledKey)
          }
          s.conf.set("spark.sql.autoBroadcastJoinThreshold", savedThresh)
          s.conf.set("spark.sql.adaptive.enabled", savedAqe)
          graft.plans.GraftRuntime.restore(savedRegistry)
        }
      },
      Some("""WITH j AS (
  SELECT count(*) AS n_rows, max(p.l_returnflag) AS max_flag,
    max(p.l_linestatus) AS max_status
  FROM lineitem p JOIN lineitem b ON p.l_orderkey = b.l_orderkey
  WHERE b.l_quantity <= 50.0 AND p.l_linenumber <= 2)
SELECT 'file_size_stats' AS mode, 'BroadcastHashJoin' AS join_exec,
  n_rows, max_flag, max_status FROM j
UNION ALL
SELECT 'model_stats', 'SortMergeJoin', n_rows, max_flag, max_status FROM j
ORDER BY mode""")),
    // Estimator-driven 3-way join ORDER — the completion of the
    // optimizer-integration story: beyond flipping the build side, the
    // learned estimate steers Catalyst's own CostBasedJoinReorder. The
    // query as WRITTEN joins customer⋈orders first and only then the
    // filtered lineitem; size-only statistics carry no rowCounts, so
    // the CBO reorder cannot engage and the as-written order stands.
    // With the stats rule on, all three branches carry injected
    // rowCounts — the two dimension branches their exact table counts,
    // the lineitem branch the NARU model's estimate for its 3-predicate
    // filter — and the DP reorder moves the model-tiny lineitem side
    // into the innermost join. Both logical orders are require()-pinned
    // off the optimized plans, and both runs' ANSWERS are what the
    // oracle hash-checks. Runs in the driver's plain session via
    // attachReorderIfMissing (Catalyst's own reorder rule re-invoked
    // after the stats rule; conf-gated no-op everywhere else).
    Entry("q_join_reorder_model",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
        val (model, meta) = lineitemModel(s, d)
        val ps = new ProgressiveSampling(model, meta, numSamples = 1000,
          shortcircuit = true)
        graft.plans.EstimatedStatsRule.attachReorderIfMissing(s)
        val savedRegistry = graft.plans.GraftRuntime.snapshot()
        val savedEnabled =
          s.conf.getOption(graft.plans.EstimatedStatsRule.EnabledKey)
        val savedAqe = s.conf.get("spark.sql.adaptive.enabled")
        val savedCbo = s.conf.get("spark.sql.cbo.enabled")
        val savedReord = s.conf.get("spark.sql.cbo.joinReorder.enabled")
        // Dimension branches: exact table counts (the catalog-stats
        // analog); fact branch: the learned model.
        val nOrders = Tables.read(s, d, "orders").count()
        val nCust = Tables.read(s, d, "customer").count()
        graft.plans.GraftRuntime.register(s"$d/lineitem.parquet",
          modelCols.toSet, ps.query)
        graft.plans.GraftRuntime.register(s"$d/orders.parquet",
          Set("o_custkey"), _ => nOrders)
        graft.plans.GraftRuntime.register(s"$d/customer.parquet",
          Set("c_custkey"), _ => nCust)
        def joined() = {
          val c = Tables.read(s, d, "customer")
            .filter(col("c_custkey") >= 0L)
            .select(col("c_custkey"), col("c_mktsegment"))
          val o = Tables.read(s, d, "orders")
            .filter(col("o_custkey") >= 0L)
            .select(col("o_orderkey"), col("o_custkey"))
          val liF = s.read.parquet(s"$d/lineitem.parquet")
            .filter(col("l_quantity") <= 1.0 && col("l_discount") <= 0.0 &&
              col("l_returnflag") === "R")
            .select(col("l_orderkey"), col("l_quantity"))
          c.join(o, c("c_custkey") === o("o_custkey"))
            .join(liF, o("o_orderkey") === liF("l_orderkey"))
            .agg(count(lit(1)).as("n_rows"),
              sum(col("l_quantity")).cast("long").as("qty_sum"))
        }
        /** Which side the innermost (first-executed) join touches. */
        def innermost(df: org.apache.spark.sql.DataFrame): String = {
          val joins = df.queryExecution.optimizedPlan
            .collect { case j: LJoin => j }
          val inner = joins.find(_.children.forall(
            _.collect { case jj: LJoin => jj }.isEmpty))
          val attrs = inner.map(_.output.map(_.name).toSet)
            .getOrElse(Set.empty)
          if (attrs.exists(_.startsWith("l_"))) "lineitem_first"
          else if (attrs.contains("c_custkey")) "customer_first"
          else "unknown"
        }
        try {
          s.conf.set("spark.sql.adaptive.enabled", "false")
          s.conf.set("spark.sql.cbo.enabled", "true")
          s.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
          s.conf.set(graft.plans.EstimatedStatsRule.EnabledKey, "false")
          val base = joined()
          val baseOrder = innermost(base)
          val Array(baseRow) = base.collect()
          s.conf.set(graft.plans.EstimatedStatsRule.EnabledKey, "true")
          val injected = joined()
          val injOrder = innermost(injected)
          val Array(injRow) = injected.collect()
          require(baseOrder == "customer_first" &&
              injOrder == "lineitem_first" && baseRow == injRow,
            s"model stats did not reorder the join: base=$baseOrder " +
              s"injected=$injOrder rows=$baseRow/$injRow")
          Seq(
            ("file_size_stats", baseOrder, baseRow.getLong(0),
              baseRow.getLong(1)),
            ("model_stats", injOrder, injRow.getLong(0), injRow.getLong(1)))
            .toDF("mode", "inner_join", "n_rows", "qty_sum")
            .orderBy("mode")
        } finally {
          savedEnabled match {
            case Some(v) =>
              s.conf.set(graft.plans.EstimatedStatsRule.EnabledKey, v)
            case None =>
              s.conf.unset(graft.plans.EstimatedStatsRule.EnabledKey)
          }
          s.conf.set("spark.sql.adaptive.enabled", savedAqe)
          s.conf.set("spark.sql.cbo.enabled", savedCbo)
          s.conf.set("spark.sql.cbo.joinReorder.enabled", savedReord)
          graft.plans.GraftRuntime.restore(savedRegistry)
        }
      },
      Some("""WITH j AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
    CAST(sum(l.l_quantity) AS BIGINT) AS qty_sum
  FROM customer c
  JOIN orders o ON c.c_custkey = o.o_custkey
  JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  WHERE c.c_custkey >= 0 AND o.o_custkey >= 0
    AND l.l_quantity <= 1.0 AND l.l_discount <= 0.0
    AND l.l_returnflag = 'R')
SELECT 'file_size_stats' AS mode, 'customer_first' AS inner_join,
  n_rows, qty_sum FROM j
UNION ALL
SELECT 'model_stats', 'lineitem_first', n_rows, qty_sum FROM j
ORDER BY mode""")),
    // Estimator-driven 4-way join TREE — extends q_join_reorder_model
    // from flipping the innermost pair to restructuring the WHOLE
    // tree: customer⋈orders⋈lineitem⋈supplier as WRITTEN joins
    // (((c⋈o)⋈l)⋈s); with the learned stats injected (exact counts on
    // the three dims, the NARU estimate on lineitem's 3-predicate
    // filter), Catalyst's DP reorder rebuilds the chain around the
    // model-tiny lineitem — every interior node of the tree changes,
    // not just one pair. Both optimized trees are serialized to a
    // canonical string and require()-pinned; both runs' answers are
    // what the oracle hash-checks.
    Entry("q_join_reorder_tree",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan,
          Join => LJoin}
        val (model, meta) = lineitemModel(s, d)
        val ps = new ProgressiveSampling(model, meta, numSamples = 1000,
          shortcircuit = true)
        graft.plans.EstimatedStatsRule.attachReorderIfMissing(s)
        val savedRegistry = graft.plans.GraftRuntime.snapshot()
        val savedEnabled =
          s.conf.getOption(graft.plans.EstimatedStatsRule.EnabledKey)
        val savedAqe = s.conf.get("spark.sql.adaptive.enabled")
        val savedCbo = s.conf.get("spark.sql.cbo.enabled")
        val savedReord = s.conf.get("spark.sql.cbo.joinReorder.enabled")
        val nOrders = Tables.read(s, d, "orders").count()
        val nCust = Tables.read(s, d, "customer").count()
        val nSup = Tables.read(s, d, "supplier").count()
        // The supplier branch's s_suppkey >= 0 propagates through the
        // l_suppkey = s_suppkey condition into lineitem's filter
        // (InferFiltersFromConstraints), so the lineitem registration
        // must also accept the key columns or the stats rule declines
        // the branch and CBO skips the whole reorder. The estimator
        // answers with the model's marginal over its OWN columns —
        // key >= 0 is selectivity-1 on this non-negative id space.
        graft.plans.GraftRuntime.register(s"$d/lineitem.parquet",
          modelCols.toSet ++ Set("l_suppkey", "l_orderkey"),
          preds => ps.query(preds.filter(p => modelCols.contains(p.col))))
        graft.plans.GraftRuntime.register(s"$d/orders.parquet",
          Set("o_custkey"), _ => nOrders)
        graft.plans.GraftRuntime.register(s"$d/customer.parquet",
          Set("c_custkey"), _ => nCust)
        graft.plans.GraftRuntime.register(s"$d/supplier.parquet",
          Set("s_suppkey"), _ => nSup)
        def joined() = {
          val c = Tables.read(s, d, "customer")
            .filter(col("c_custkey") >= 0L)
            .select(col("c_custkey"), col("c_mktsegment"))
          val o = Tables.read(s, d, "orders")
            .filter(col("o_custkey") >= 0L)
            .select(col("o_orderkey"), col("o_custkey"))
          val sup = Tables.read(s, d, "supplier")
            .filter(col("s_suppkey") >= 0L)
            .select(col("s_suppkey"), col("s_nationkey"))
          val liF = s.read.parquet(s"$d/lineitem.parquet")
            .filter(col("l_quantity") <= 1.0 && col("l_discount") <= 0.0 &&
              col("l_returnflag") === "R")
            .select(col("l_orderkey"), col("l_suppkey"), col("l_quantity"))
          c.join(o, c("c_custkey") === o("o_custkey"))
            .join(liF, o("o_orderkey") === liF("l_orderkey"))
            .join(sup, liF("l_suppkey") === sup("s_suppkey"))
            .agg(count(lit(1)).as("n_rows"),
              sum(col("l_quantity")).cast("long").as("qty_sum"))
        }
        /** Canonical join-tree string with leaves tagged by table. */
        def shape(p: LogicalPlan): String = p match {
          case j: LJoin => s"(${shape(j.left)}*${shape(j.right)})"
          case other if other.collect { case j: LJoin => j }.nonEmpty =>
            shape(other.children.head)
          case leaf =>
            val names = leaf.output.map(_.name)
            if (names.exists(_.startsWith("l_"))) "l"
            else if (names.exists(_.startsWith("s_"))) "s"
            else if (names.exists(_.startsWith("o_"))) "o"
            else if (names.exists(_.startsWith("c_"))) "c"
            else "?"
        }
        def treeOf(df: org.apache.spark.sql.DataFrame): String =
          df.queryExecution.optimizedPlan
            .collectFirst { case j: LJoin => shape(j) }.getOrElse("nojoin")
        try {
          s.conf.set("spark.sql.adaptive.enabled", "false")
          s.conf.set("spark.sql.cbo.enabled", "true")
          s.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
          s.conf.set(graft.plans.EstimatedStatsRule.EnabledKey, "false")
          val base = joined()
          val baseTree = treeOf(base)
          val Array(baseRow) = base.collect()
          s.conf.set(graft.plans.EstimatedStatsRule.EnabledKey, "true")
          val injected = joined()
          val injTree = treeOf(injected)
          val Array(injRow) = injected.collect()
          require(baseTree == "(((c*o)*l)*s)",
            s"base plan is not the as-written chain: $baseTree")
          // Observed trees (sf-dependent DP outcome, both genuine
          // full-tree restructures): sf0.001 rebuilds the chain
          // left-deep around lineitem (((l*s)*o)*c); sf0.01/0.1 go
          // BUSHY ((c*o)*(l*s)) — Catalyst's DP composing the two
          // cheap pairs. The invariant pinned: the model-tiny lineitem
          // now joins supplier directly (the (l*s) pair exists) and
          // the as-written interior node ((c*o)*l) is gone.
          require(injTree != baseTree &&
              (injTree.contains("(l*s)") || injTree.contains("(s*l)")) &&
              !injTree.contains("((c*o)*l)"),
            s"model stats did not rebuild the tree around lineitem: " +
              s"base=$baseTree injected=$injTree")
          require(baseRow == injRow,
            s"answers diverged across plans: $baseRow vs $injRow")
          Seq(
            ("file_size_stats", "as_written", baseRow.getLong(0),
              baseRow.getLong(1)),
            ("model_stats", "rebuilt_around_lineitem", injRow.getLong(0),
              injRow.getLong(1)))
            .toDF("mode", "join_tree", "n_rows", "qty_sum")
            .orderBy("mode")
        } finally {
          savedEnabled match {
            case Some(v) =>
              s.conf.set(graft.plans.EstimatedStatsRule.EnabledKey, v)
            case None =>
              s.conf.unset(graft.plans.EstimatedStatsRule.EnabledKey)
          }
          s.conf.set("spark.sql.adaptive.enabled", savedAqe)
          s.conf.set("spark.sql.cbo.enabled", savedCbo)
          s.conf.set("spark.sql.cbo.joinReorder.enabled", savedReord)
          graft.plans.GraftRuntime.restore(savedRegistry)
        }
      },
      Some("""WITH j AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
    CAST(sum(l.l_quantity) AS BIGINT) AS qty_sum
  FROM customer c
  JOIN orders o ON c.c_custkey = o.o_custkey
  JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  WHERE c.c_custkey >= 0 AND o.o_custkey >= 0 AND s.s_suppkey >= 0
    AND l.l_quantity <= 1.0 AND l.l_discount <= 0.0
    AND l.l_returnflag = 'R')
SELECT 'file_size_stats' AS mode, 'as_written' AS join_tree,
  n_rows, qty_sum FROM j
UNION ALL
SELECT 'model_stats', 'rebuilt_around_lineitem', n_rows, qty_sum FROM j
ORDER BY mode""")),
    // PER-PREDICATE selectivity as the reorder's deciding input — the
    // filtered-fact completion of the CBO capstones (the estimator's
    // actual specialty, estimators.py:134-418 analog). Where
    // q_join_reorder_model flips on stats-on-vs-off, here the stats
    // rule is ON for BOTH runs and every table-level registration is
    // IDENTICAL — the two runs differ only in lineitem's filter band:
    // a wide band (l_quantity <= 50, selectivity ~1) and a narrow
    // 3-predicate band (~1e-4). Catalyst's DP reorder therefore sees
    // the same catalog either way and flips the join order purely on
    // the learned CONDITIONAL estimate: wide keeps the as-written
    // customer⋈orders innermost; narrow moves the model-tiny filtered
    // lineitem innermost. Both orders require()-pinned; both answers
    // hash-gated.
    Entry("q_join_reorder_selectivity",
      (s, d) => joinReorderBySelectivity(s, d, aqeOn = false),
      Some("""WITH nar AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
    CAST(sum(l.l_quantity) AS BIGINT) AS qty_sum
  FROM customer c
  JOIN orders o ON c.c_custkey = o.o_custkey
  JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  WHERE c.c_custkey >= 0 AND o.o_custkey >= 0
    AND l.l_quantity <= 1.0 AND l.l_discount <= 0.0
    AND l.l_returnflag = 'R'),
wid AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
    CAST(sum(l.l_quantity) AS BIGINT) AS qty_sum
  FROM customer c
  JOIN orders o ON c.c_custkey = o.o_custkey
  JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  WHERE c.c_custkey >= 0 AND o.o_custkey >= 0
    AND l.l_quantity <= 50.0)
SELECT 'narrow_band' AS mode, 'lineitem_first' AS inner_join,
  n_rows, qty_sum FROM nar
UNION ALL
SELECT 'wide_band', 'customer_first', n_rows, qty_sum FROM wid
ORDER BY mode""")),
    // The same flip under AQE ON (VERDICT r12 ask #7): production
    // Spark runs adaptive execution, and the question the AQE-off
    // capstone leaves open is whether the estimator's stats survive
    // into the runtime re-optimization. They do, by construction:
    // CostBasedJoinReorder is a plan-time logical rule, and AQE's
    // re-optimizer (join-strategy switch, partition coalescing, skew
    // split) replans PHYSICAL choices from observed stage sizes —
    // runtime truth supersedes the estimate exactly where it should —
    // without ever revisiting the logical join order. Both orders and
    // adaptive completion are require()-pinned; answers hash-gated.
    Entry("q_join_reorder_aqe",
      (s, d) => joinReorderBySelectivity(s, d, aqeOn = true),
      Some("""WITH nar AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
    CAST(sum(l.l_quantity) AS BIGINT) AS qty_sum
  FROM customer c
  JOIN orders o ON c.c_custkey = o.o_custkey
  JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  WHERE c.c_custkey >= 0 AND o.o_custkey >= 0
    AND l.l_quantity <= 1.0 AND l.l_discount <= 0.0
    AND l.l_returnflag = 'R'),
wid AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
    CAST(sum(l.l_quantity) AS BIGINT) AS qty_sum
  FROM customer c
  JOIN orders o ON c.c_custkey = o.o_custkey
  JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  WHERE c.c_custkey >= 0 AND o.o_custkey >= 0
    AND l.l_quantity <= 50.0)
SELECT 'narrow_band' AS mode, 'lineitem_first' AS inner_join,
  n_rows, qty_sum FROM nar
UNION ALL
SELECT 'wide_band', 'customer_first', n_rows, qty_sum FROM wid
ORDER BY mode""")),
    // The DEMOTE direction under AQE ON (VERDICT r13 ask #7) — the
    // final cell of the plan-time x runtime matrix. The 100 TB hazard:
    // size-only statistics after column pruning make a filtered fact
    // side look broadcastable, and once the planner picks
    // BroadcastHashJoin, ADAPTIVE EXECUTION CANNOT UNDO IT — the
    // broadcast stage is the query's first materialization, and AQE's
    // replanner plans any join over a materialized broadcast stage as
    // a broadcast join unconditionally (LogicalQueryStageStrategy:
    // re-introducing shuffles that don't exist is not an option), so
    // "observed stage sizes" arrive only after every executor has
    // already inhaled the build side. Run 1 pins exactly that: stats
    // rule OFF, initial plan = BroadcastHashJoin, isFinalPlan=true,
    // final plan STILL BroadcastHashJoin. Run 2: the learned estimate
    // corrects the build-side cardinality at PLAN time — the only
    // point where the decision is still cheap — demoting to
    // SortMergeJoin, which survives adaptive replanning (the runtime
    // promotion cap is set strict, 1 KiB: promotions only on strong
    // evidence; every observed build side here is orders of magnitude
    // above it at any SF, and run 1's pin is threshold-independent).
    // Both initial AND final strategies require()-pinned per run;
    // both answers equal and hash-gated.
    Entry("q_join_demote_aqe",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.execution.SparkPlan
        import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
        import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
        val (model, meta) = lineitemModel(s, d)
        val ps = new ProgressiveSampling(model, meta, numSamples = 1000,
          shortcircuit = true)
        graft.plans.EstimatedStatsRule.attachIfMissing(s)
        val savedRegistry = graft.plans.GraftRuntime.snapshot()
        val savedEnabled =
          s.conf.getOption(graft.plans.EstimatedStatsRule.EnabledKey)
        val savedThresh = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
        val savedAqe = s.conf.get("spark.sql.adaptive.enabled")
        val savedAdThresh = s.conf.getOption(
          "spark.sql.adaptive.autoBroadcastJoinThreshold")
        graft.plans.GraftRuntime.register(s"$d/lineitem.parquet",
          modelCols.toSet, ps.query)
        // Same shapes as q_join_plan_demote: build = key only below
        // the keeps-everything filter; probe = key + the two flag
        // columns, execution-bounded by the unregistered l_linenumber
        // slice (a Filter leaves size-only statistics unchanged, so
        // the calibration is identical with or without it).
        def buildSide() = s.read.parquet(s"$d/lineitem.parquet")
          .filter(col("l_quantity") <= 50.0).select(col("l_orderkey"))
        def probeSide() = s.read.parquet(s"$d/lineitem.parquet")
          .filter(col("l_linenumber") <= 2)
          .select(col("l_orderkey"), col("l_returnflag"),
            col("l_linestatus"))
        def joined() = {
          val build = s.read.parquet(s"$d/lineitem.parquet")
            .filter(col("l_quantity") <= 50.0)
            .select(col("l_orderkey").as("bk"))
          val probe = probeSide()
          probe.join(build, probe("l_orderkey") === build("bk"))
            .agg(count(lit(1)).as("n_rows"),
              max(col("l_returnflag")).as("max_flag"),
              max(col("l_linestatus")).as("max_status"))
        }
        // Walks INTO query stages: Spark 4's AQE wraps the final
        // result stage in ResultQueryStageExec (a leaf holding its
        // plan as a field), so a plain children-traversal of the
        // post-execution plan never sees the join node.
        def joinName(p: SparkPlan): String = {
          var name = "unknown"
          def walk(q: SparkPlan): Unit = {
            q match {
              case _: BroadcastHashJoinExec => name = "BroadcastHashJoin"
              case _: SortMergeJoinExec => name = "SortMergeJoin"
              case st: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
                walk(st.plan)
              case _ => ()
            }
            q.children.foreach(walk)
          }
          walk(p)
          name
        }
        // (initial, final) strategy names off the SAME QueryExecution
        // the collect() ran (round-6 gotcha: count() builds its own
        // adaptive plan); isFinalPlan pinned so "final" means final.
        def runOne() = {
          val df = joined()
          val row = df.collect() match { case Array(r) => r }
          df.queryExecution.executedPlan match {
            case a: AdaptiveSparkPlanExec =>
              require(a.isFinalPlan, "adaptive execution did not finish")
              (joinName(a.initialPlan), joinName(a.executedPlan), row)
            case other =>
              throw new IllegalStateException(
                s"expected AdaptiveSparkPlanExec root, got " +
                  other.getClass.getSimpleName)
          }
        }
        try {
          s.conf.set("spark.sql.adaptive.enabled", "true")
          s.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold",
            "1024")
          // Threshold calibration identical to q_join_plan_demote
          // (geometric mean of misleading static size and injected
          // estimate, margin-checked) — stats are logical-plan
          // properties, unaffected by AQE.
          s.conf.set(graft.plans.EstimatedStatsRule.EnabledKey, "false")
          val b0 = buildSide().queryExecution.optimizedPlan.stats
            .sizeInBytes
          val p0 = probeSide().queryExecution.optimizedPlan.stats
            .sizeInBytes
          s.conf.set(graft.plans.EstimatedStatsRule.EnabledKey, "true")
          val b1 = buildSide().queryExecution.optimizedPlan.stats
            .sizeInBytes
          val cap = b1.min(p0)
          require(cap * 10 > b0 * 14,
            s"demote margin too thin: build=$b0 probe=$p0 injected=$b1")
          val thresh = math.sqrt(b0.toDouble * cap.toDouble).toLong
          s.conf.set("spark.sql.autoBroadcastJoinThreshold",
            thresh.toString)
          s.conf.set(graft.plans.EstimatedStatsRule.EnabledKey, "false")
          val (baseInit, baseFinal, baseRow) = runOne()
          s.conf.set(graft.plans.EstimatedStatsRule.EnabledKey, "true")
          val (injInit, injFinal, injRow) = runOne()
          require(baseInit == "BroadcastHashJoin" &&
              baseFinal == "BroadcastHashJoin",
            "AQE-locked mis-broadcast pin failed: " +
              s"base initial=$baseInit final=$baseFinal " +
              s"(thresh=$thresh build=$b0 probe=$p0)")
          require(injInit == "SortMergeJoin" &&
              injFinal == "SortMergeJoin",
            "estimator demote under AQE failed: " +
              s"injected initial=$injInit final=$injFinal " +
              s"(thresh=$thresh injected=$b1)")
          require(baseRow == injRow,
            s"answers diverged: base=$baseRow injected=$injRow")
          Seq(
            ("file_size_stats", baseInit, baseFinal, baseRow.getLong(0),
              baseRow.getString(1), baseRow.getString(2)),
            ("model_stats", injInit, injFinal, injRow.getLong(0),
              injRow.getString(1), injRow.getString(2)))
            .toDF("mode", "join_initial", "join_final", "n_rows",
              "max_flag", "max_status")
            .orderBy("mode")
        } finally {
          savedEnabled match {
            case Some(v) =>
              s.conf.set(graft.plans.EstimatedStatsRule.EnabledKey, v)
            case None =>
              s.conf.unset(graft.plans.EstimatedStatsRule.EnabledKey)
          }
          s.conf.set("spark.sql.autoBroadcastJoinThreshold", savedThresh)
          savedAdThresh match {
            case Some(v) => s.conf.set(
              "spark.sql.adaptive.autoBroadcastJoinThreshold", v)
            case None => s.conf.unset(
              "spark.sql.adaptive.autoBroadcastJoinThreshold")
          }
          s.conf.set("spark.sql.adaptive.enabled", savedAqe)
          graft.plans.GraftRuntime.restore(savedRegistry)
        }
      },
      Some("""WITH j AS (
  SELECT count(*) AS n_rows, max(p.l_returnflag) AS max_flag,
    max(p.l_linestatus) AS max_status
  FROM lineitem p JOIN lineitem b ON p.l_orderkey = b.l_orderkey
  WHERE b.l_quantity <= 50.0 AND p.l_linenumber <= 2)
SELECT 'file_size_stats' AS mode, 'BroadcastHashJoin' AS join_initial,
  'BroadcastHashJoin' AS join_final, n_rows, max_flag, max_status FROM j
UNION ALL
SELECT 'model_stats', 'SortMergeJoin', 'SortMergeJoin',
  n_rows, max_flag, max_status FROM j
ORDER BY mode""")),
    // The NDV cell of the optimizer-integration matrix (VERDICT r14 ask
    // #5, wired r16): learned per-column distinct counts flip
    // CostBasedJoinReorder's DP from the cartesian-costed wrong order
    // (supplier-dim first — ALL of lineitem as the intermediate) to the
    // true-fanout-cheap order (10% orders band first). Both orders
    // require()-pinned in joinReorderByNdv; the ground-truth fanout gap
    // is measured in-entry; both runs' answers reduce to the same
    // integer aggregates, hash-gated against DuckDB.
    Entry("q_join_reorder_ndv",
      (s, d) => joinReorderByNdv(s, d),
      Some("""WITH j AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
    CAST(sum(l.l_quantity) AS BIGINT) AS qty_sum,
    CAST(sum((o.o_custkey + s.s_nationkey) % 1000003) AS BIGINT) AS key_sum
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  WHERE l.l_quantity <= 50.0 AND s.s_suppkey >= 0
    AND o.o_orderkey < (SELECT max(o_orderkey) // 10 FROM orders))
SELECT 'ndv_injected' AS mode, 'orders_first' AS first_join,
  n_rows, qty_sum, key_sum FROM j
UNION ALL
SELECT 'rowcount_only', 'supplier_first', n_rows, qty_sum, key_sum FROM j
ORDER BY mode""")),
    // Learned NDV feeding AGGREGATE estimation (r16; VERDICT r15 next
    // #5 — the same attrStats channel, one operator further): Catalyst's
    // AggregateEstimation computes a group-by's output rows as the
    // product of the grouping columns' distinct counts (capped at child
    // rows) — but ONLY when every grouping column carries a ColumnStat.
    // Without it, a pre-aggregated dimension stays rows-proportional in
    // the size visitor, and the join above it pays a shuffle for a
    // build side that is actually |domain(key)| rows. The 100 TB shape:
    // "aggregate the fact by key, join back to the fact" — the single
    // most common enrichment pattern — where the aggregate output is
    // supplier-count-sized regardless of data scale. Run 1 (rowcounts
    // only): the agg side reads as ~|lineitem| rows → SortMergeJoin.
    // Run 2 (learned key NDV injected): AggregateEstimation collapses
    // the agg side to ndv(l_suppkey) rows → BroadcastHashJoin. The
    // injected-mode rowCount is require()-pinned to the NDV (the
    // estimation path, not just the flip); threshold self-calibrates
    // from both runs' optimized-plan sizes (geometric mean,
    // margin-checked) so the entry holds at any SF; both answers
    // hash-gated.
    Entry("q_agg_ndv_broadcast",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
        val (model, meta) = lineitemModel(s, d)
        val ps = new ProgressiveSampling(model, meta, numSamples = 1000,
          shortcircuit = true)
        graft.plans.EstimatedStatsRule.attachIfMissing(s)
        val savedRegistry = graft.plans.GraftRuntime.snapshot()
        val savedEnabled =
          s.conf.getOption(graft.plans.EstimatedStatsRule.EnabledKey)
        val savedThresh = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
        val savedAqe = s.conf.get("spark.sql.adaptive.enabled")
        val savedCbo = s.conf.get("spark.sql.cbo.enabled")
        val liSk = cachedColumnMeta(s"$d/lineitem.parquet",
          s.read.parquet(s"$d/lineitem.parquet"), "l_suppkey")
        val skNdv = liSk.nonNullDomain.length.toLong
        def reg(injectNdv: Boolean): Unit = {
          graft.plans.GraftRuntime.restore(savedRegistry)
          val liEst: Seq[Pred] => Long =
            preds => ps.query(preds.filter(p => modelCols.contains(p.col)))
          graft.plans.GraftRuntime.register(s"$d/lineitem.parquet",
            modelCols.toSet ++ Set("l_suppkey"),
            liEst,
            keyStats = (c, preds) =>
              if (injectNdv && c == "l_suppkey")
                Some(graft.plans.GraftRuntime.KeyStat(
                  math.min(skNdv, liEst(preds)),
                  nullCount = if (liSk.hasNull) None else Some(0L),
                  min = liSk.nonNullDomain.headOption,
                  max = liSk.nonNullDomain.lastOption))
              else None)
        }
        // The enrichment dimension: fact pre-aggregated by its key.
        def aggSide() = s.read.parquet(s"$d/lineitem.parquet")
          .filter(col("l_quantity") <= 50.0)
          .groupBy(col("l_suppkey").as("ak"))
          .agg(sum(col("l_quantity")).cast("long").as("qty"))
        def joined() = {
          val probe = s.read.parquet(s"$d/lineitem.parquet")
            .filter(col("l_linenumber") <= 2)
            .select(col("l_suppkey"), col("l_returnflag"))
          val a = aggSide()
          probe.join(a, probe("l_suppkey") === a("ak"))
            .agg(count(lit(1)).as("n_rows"),
              sum(pmod(col("qty"), lit(1000003L))).cast("long").as("qty_sum"),
              max(col("l_returnflag")).as("max_flag"))
        }
        def chosenJoin(df: org.apache.spark.sql.DataFrame): String = {
          var name = "unknown"
          df.queryExecution.executedPlan.foreach {
            case _: BroadcastHashJoinExec => name = "BroadcastHashJoin"
            case _: SortMergeJoinExec => name = "SortMergeJoin"
            case _ => ()
          }
          name
        }
        try {
          s.conf.set("spark.sql.adaptive.enabled", "false")
          s.conf.set("spark.sql.cbo.enabled", "true")
          s.conf.set(graft.plans.EstimatedStatsRule.EnabledKey, "true")
          // Calibration: the aggregate's own estimated size under each
          // registration, read off the optimized plan — rows-
          // proportional without the key stat, ndv-proportional with.
          reg(injectNdv = false)
          val aggBase = aggSide().queryExecution.optimizedPlan.stats
          reg(injectNdv = true)
          val aggInj = aggSide().queryExecution.optimizedPlan.stats
          require(aggInj.rowCount.exists(_ <= BigInt(skNdv)),
            s"AggregateEstimation did not consume the injected NDV: " +
              s"est rows ${aggInj.rowCount} vs ndv $skNdv")
          require(aggBase.sizeInBytes * 10 > aggInj.sizeInBytes * 14,
            s"calibration margin too thin: base=${aggBase.sizeInBytes} " +
              s"injected=${aggInj.sizeInBytes}")
          val thresh = math.sqrt(
            aggBase.sizeInBytes.toDouble * aggInj.sizeInBytes.toDouble)
            .toLong
          s.conf.set("spark.sql.autoBroadcastJoinThreshold",
            thresh.toString)
          reg(injectNdv = false)
          val control = joined()
          val controlExec = chosenJoin(control)
          val Array(controlRow) = control.collect()
          reg(injectNdv = true)
          val inj = joined()
          val injExec = chosenJoin(inj)
          val Array(injRow) = inj.collect()
          require(controlExec == "SortMergeJoin",
            "rows-only aggregate side was expected to look big and " +
              s"shuffle; got $controlExec (thresh=$thresh)")
          require(injExec == "BroadcastHashJoin",
            "NDV-estimated aggregate side was expected to broadcast; " +
              s"got $injExec (thresh=$thresh)")
          require(controlRow.toSeq == injRow.toSeq,
            s"plans disagree on the ANSWER: $controlRow vs $injRow")
          Seq(
            ("ndv_injected", injExec, injRow.getLong(0),
              injRow.getLong(1), injRow.getString(2)),
            ("rowcount_only", controlExec, controlRow.getLong(0),
              controlRow.getLong(1), controlRow.getString(2)))
            .toDF("mode", "join_exec", "n_rows", "qty_sum", "max_flag")
            .orderBy("mode")
        } finally {
          savedEnabled match {
            case Some(v) =>
              s.conf.set(graft.plans.EstimatedStatsRule.EnabledKey, v)
            case None =>
              s.conf.unset(graft.plans.EstimatedStatsRule.EnabledKey)
          }
          s.conf.set("spark.sql.autoBroadcastJoinThreshold", savedThresh)
          s.conf.set("spark.sql.adaptive.enabled", savedAqe)
          s.conf.set("spark.sql.cbo.enabled", savedCbo)
          graft.plans.GraftRuntime.restore(savedRegistry)
        }
      },
      Some("""WITH a AS (
  SELECT l_suppkey AS ak, CAST(sum(l_quantity) AS BIGINT) AS qty
  FROM lineitem WHERE l_quantity <= 50.0 GROUP BY l_suppkey),
j AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
    CAST(sum(a.qty % 1000003) AS BIGINT) AS qty_sum,
    max(l.l_returnflag) AS max_flag
  FROM lineitem l JOIN a ON l.l_suppkey = a.ak
  WHERE l.l_linenumber <= 2)
SELECT 'ndv_injected' AS mode, 'BroadcastHashJoin' AS join_exec,
  n_rows, qty_sum, max_flag FROM j
UNION ALL
SELECT 'rowcount_only', 'SortMergeJoin', n_rows, qty_sum, max_flag FROM j
ORDER BY mode""")),
    // Chow-Liu Bayesian-network estimate on W1 (estimators.py:680-997
    // analog; seeded deterministic, model-based -> rows-only check).
    Entry("q_bn_card",
      (s, d) => {
        import s.implicits._
        val bn = lineitemBn(s, d)
        Seq(new BayesNetEstimator(bn, numSamples = 2000).query(W1))
          .toDF("est_card")
      },
      None),
    // Distributed batch evaluation (the RunNParallel analog,
    // eval_model.py:303-375): broadcast the trained model, partition the
    // workload, one estimator replica per partition seeded by its index.
    // Rows-only (the RNG streams depend on the partitioning).
    Entry("q_psample_distributed",
      (s, d) => {
        import s.implicits._
        val (model, meta) = lineitemModel(s, d)
        val qs = lineitemWorkload(s, d, meta, 16)
        val truths = Workload.trueCards(li(s, d), qs)
        val est: Int => (Seq[Pred] => Long) = p =>
          new ProgressiveSampling(model, meta, numSamples = 200,
            shortcircuit = true, seed = 1234L + p).query
        val rows = Workload.runDistributed(s, est, qs, truths, parallelism = 4)
        rows.toSeq.toDF("query_id", "est_card", "q_error")
          .select(col("query_id"), col("est_card"))
          .orderBy("query_id")
      },
      None),
    // Table entropy computed in the engine (train_model.py:340-343).
    // Pure SQL (groupBy-all counts → log2(n) − Σc·log2(c)/n); the float
    // shuffle-sum order difference between engines is ~1e-12 bits, so
    // the 6-decimal rounding q_tfidf_exact proved out makes this
    // hash-checkable.
    Entry("q_table_bits",
      (s, d) => {
        import s.implicits._
        val bits = Trainer.tableBits(li(s, d), modelCols)
        Seq(math.round(bits * 1e6) / 1e6).toDF("table_bits")
      },
      Some(s"""SELECT ROUND(LOG2(n) - clogc / n, 6) AS table_bits FROM (
  SELECT CAST(sum(c) AS DOUBLE) AS n, sum(c * LOG2(c)) AS clogc FROM (
    SELECT CAST(count(*) AS DOUBLE) AS c FROM lineitem
    GROUP BY ${modelCols.mkString(", ")}))""")),
    // BN over a wide-domain column set (l_shipdate has ~2400 distinct
    // values, equal-freq rebinned to 64 cells; estimators.py:683-740).
    // Estimates W3, which filters the rebinned column (rows-only).
    Entry("q_bn_card_wide",
      (s, d) => {
        import s.implicits._
        val bn = lineitemBnWide(s, d)
        Seq(new graft.est.BayesNetEstimator(bn, numSamples = 2000).query(W3))
          .toDF("est_card")
      },
      None),
    // q-error quantile report for every estimator over the seeded
    // workload (RunN + ReportEsts, eval_model.py:258-300). One scan
    // computes all truths; the model estimators run on the driver.
    Entry("q_qerror_report",
      (s, d) => {
        import s.implicits._
        def trace[T](n: String)(f: => T): T = {
          val t0 = System.nanoTime(); val r = f
          if (sys.env.contains("GRAFT_TRACE"))
            println(f"[qerr] $n%-14s ${(System.nanoTime() - t0) / 1e9}%6.2f s")
          r
        }
        val (model, meta) = lineitemModel(s, d)
        val qs = trace("workload")(lineitemWorkload(s, d, meta, 30))
        val df = li(s, d)
        val n = meta.cardinality
        // For every query: the exact truth count, the heuristic's
        // per-pred count-ifs, and the systematic-sampling match count
        // (~150 partial-aggregated count-ifs total) — CHUNKED at 64
        // aggregate columns per scan (r20): one giant agg exceeds
        // spark.sql.codegen.maxFields = 100, silently falling out of
        // whole-stage codegen into interpreted row-at-a-time
        // evaluation (the r18 lesson Workload.trueCards already
        // encodes; this inline aggregate predated it). Three codegen'd
        // scans of 5 narrow columns beat one interpreted scan ~2-3x.
        val inSample = pmod(col("l_orderkey") * 7 + col("l_linenumber"),
          lit(97)) === 0
        val flat = qs.zipWithIndex.flatMap { case (q, qi) =>
          q.zipWithIndex.map { case (p, pi) =>
            sum(when(p.toColumn, 1L).otherwise(0L)).as(s"q${qi}_p$pi")
          } ++ Seq(
            sum(when(inSample && Pred.conj(q), 1L).otherwise(0L))
              .as(s"q${qi}_m"),
            sum(when(Pred.conj(q), 1L).otherwise(0L)).as(s"q${qi}_t"))
        } :+ sum(when(inSample, 1L).otherwise(0L)).as("ns")
        // r21 (guide §2.6): the three chunked scans are independent
        // jobs — overlapping them from driver threads back-fills each
        // scan's straggler tail with the next scan's tasks (results
        // merged by alias name, values unchanged).
        val sel: Map[String, Long] = trace("flatAgg") {
          Fanout.map(flat.grouped(64).toSeq) { chunk =>
            val row = df.agg(chunk.head, chunk.tail: _*).collect()(0)
            chunk.indices.map(i =>
              row.schema.fieldNames(i) -> row.getLong(i))
          }.flatten.toMap
        }
        val ns = sel("ns").toDouble
        val truths = qs.indices.map(qi => sel(s"q${qi}_t"))
        val heurEsts = qs.zipWithIndex.map { case (q, qi) =>
          val s0 = q.indices.map(pi =>
            sel(s"q${qi}_p$pi").toDouble / n).product
          math.ceil(s0 * n)
        }
        val sampEsts = qs.indices.map(qi =>
          math.ceil(sel(s"q${qi}_m") / ns * n))
        val ps = new ProgressiveSampling(model, meta, numSamples = 500,
          shortcircuit = true)
        val psEsts = trace("psample")(qs.map(q => ps.query(q).toDouble))
        // The transformer row samples 250 paths, with quantiles well
        // inside the estimator's own variance. r21 (VERDICT r20 next
        // #5): queries fan out in parallel exactly like the ensemble row
        // below — per-query seeded samplers keep the row deterministic
        // under any schedule, and concurrent inference on one
        // Transformer is safe: forwardEncoded writes no model field
        // (only the training forward keeps backward caches), whatever
        // the callers' batch sizes, a sampler's per-query buffers are
        // local to the call, and its rng is its only state. Estimates
        // differ from the r20 sequential-shared-rng row only in which
        // seeded draws each query consumes (within estimator variance;
        // no-oracle entry).
        val (tModel, tMeta) = lineitemTransformer(s, d)
        val tpsEsts = trace("transformer") {
          val acc = new Array[Double](qs.length)
          java.util.stream.IntStream.range(0, qs.length).parallel()
            .forEach { i =>
              val p = new ProgressiveSampling(tModel, tMeta,
                numSamples = 250, shortcircuit = true, seed = 1234L + i)
              acc(i) = p.query(qs(i)).toDouble
            }
          acc.toSeq
        }
        val sm = new SampleFromModel(model, meta, numSamplesPerQuery = 500)
        val smEsts = trace("msample")(qs.map(q => sm.query(q).toDouble))
        val bnEst = new BayesNetEstimator(lineitemBn(s, d), numSamples = 500)
        val bnEsts = trace("bayesnet")(qs.map(q => bnEst.query(q).toDouble))
        // Wide-domain BN (shared fit with q_bn_card_wide): the workload's
        // modelCols predicates leave l_shipdate as a wildcard.
        val bnwEst = new BayesNetEstimator(lineitemBnWide(s, d),
          numSamples = 500)
        val bnwEsts = trace("bayesnet_wide")(qs.map(q => bnwEst.query(q).toDouble))
        // Catalyst-CBO optimizer estimates (the Postgres-EXPLAIN analog);
        // -1 = optimizer declined, clamped to 1 for a defined q-error.
        val cboTbl = "graft_cbo_" + d.replaceAll("[^A-Za-z0-9]", "_")
        graft.est.Cbo.ensureAnalyzed(s,
          li(s, d).select(modelCols.map(col): _*), cboTbl)
        val cboEsts = trace("cbo")(qs.map(q =>
          math.max(1.0, graft.est.Cbo.estimate(s, cboTbl, q).toDouble)))
        val md = lineitemMaxdiff(s, d)
        val mdEsts = trace("maxdiff")(qs.map(q => md.query(q).toDouble))
        // Ensemble row: iterate masks OUTSIDE the query loop (30 mask
        // activations instead of 30×numMasks — setMask mutates shared
        // layer masks so masks activate sequentially), but within one
        // mask the 30 queries are independent: the per-mask sample
        // batches (500/3 rows) are too small for the layers' row-range
        // parallelism, so the parallelism goes over queries instead.
        // Per-(mask, query) seeded samplers keep the result
        // deterministic under any schedule; concurrent inference on one
        // model is safe because a sampler's per-query buffers are local
        // to the call, its rng is its only state, and inference writes
        // no model field (only the training forward keeps backward
        // caches).
        val ensEsts = trace("ensemble") {
          val ensModel = lineitemEnsemble(s, d)._1
          val acc = new Array[Double](qs.length)
          for (k <- 0 until ensModel.numMasks) {
            ensModel.setMask(k)
            java.util.stream.IntStream.range(0, qs.length).parallel()
              .forEach { i =>
                val p = new ProgressiveSampling(ensModel, meta,
                  numSamples = 500 / ensModel.numMasks, shortcircuit = true,
                  seed = 1234L + k * 997 + i)
                acc(i) += p.selectivity(qs(i))
              }
          }
          acc.toSeq.map(a => math.ceil(a / ensModel.numMasks * n))
        }
        val (eModel, eMeta) = lineitemEmbedModel(s, d)
        val eps = new ProgressiveSampling(eModel, eMeta, numSamples = 500,
          shortcircuit = true)
        val epsEsts = trace("embed")(qs.map(q => eps.query(q).toDouble))
        val rows = Seq(
          ("heuristic", heurEsts), ("sampling", sampEsts),
          ("psample", psEsts), ("psample_embed", epsEsts),
          ("psample_ensemble", ensEsts),
          ("psample_transformer", tpsEsts),
          ("msample", smEsts), ("bayesnet", bnEsts),
          ("bayesnet_wide", bnwEsts), ("cbo", cboEsts),
          ("maxdiff", mdEsts)
        ).map { case (name, ests) =>
          val errs = ests.zip(truths).map { case (e, t) =>
            Workload.qError(e, t.toDouble)
          }
          val r = Workload.report(name, errs, 0.0)
          (r.name, r.count, r.median, r.p95, r.p99, r.max)
        }
        rows.toDF("estimator", "n", "median", "p95", "p99", "max")
          .orderBy("estimator")
      },
      None)
  )

  /** Batch sessionization, runs verbatim in Spark SQL and DuckDB: a
    * session boundary opens when the gap to the previous event of the
    * same user exceeds 30 minutes; session ids are running sums of
    * boundaries. The batch twin of streaming EventStream.sessionize.
    * lazy: referenced from entry vals declared earlier in this object. */
  lazy val sessionizeSql: String =
    "WITH marked AS (" +
      "SELECT user_id, ts, event_id, value, CASE WHEN ts - lag(ts) OVER " +
      "(PARTITION BY user_id ORDER BY ts, event_id) <= INTERVAL 30 MINUTE " +
      "THEN 0 ELSE 1 END AS boundary " +
      "FROM events), " +
      "sess AS (SELECT user_id, value, sum(boundary) OVER " +
      "(PARTITION BY user_id ORDER BY ts, event_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id " +
      "FROM marked) " +
      // min/max are selections (float-order-safe); a float sum is not.
      "SELECT user_id, CAST(session_id AS BIGINT) AS session_id, " +
      "count(*) AS n_events, min(value) AS min_value, max(value) AS max_value " +
      "FROM sess GROUP BY user_id, session_id " +
      "ORDER BY user_id, session_id"

  /** Runs verbatim in Spark SQL and DuckDB (ANSI window functions).
    * lazy: referenced from entry vals declared earlier in this object. */
  /** ROLLUP with grouping() markers, identical SQL on both engines.
    * grouping() is cast to INTEGER (Spark emits TINYINT/BYTE natively);
    * NULLS FIRST is explicit because Spark defaults ASC NULLS FIRST
    * while DuckDB defaults NULLS LAST. */
  /** One-window ranking-function suite, identical SQL on both engines.
    * Sliced to every 50th customer so the artifact stays bounded. */
  lazy val windowSuiteSql: String =
    """SELECT o_custkey, o_orderkey,
  CAST(rank() OVER w AS BIGINT) AS rnk,
  CAST(dense_rank() OVER w AS BIGINT) AS drnk,
  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
  percent_rank() OVER w AS prnk,
  cume_dist() OVER w AS cd,
  lag(o_orderkey) OVER w AS prev_ok,
  lead(o_orderkey) OVER w AS next_ok
FROM orders WHERE o_custkey % 50 = 0
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
ORDER BY o_custkey, rnk, o_orderkey"""

  /** INTERSECT / EXCEPT cohorts between two order-years, identical SQL
    * on both engines, reduced to tagged counts. */
  lazy val setOpsSql: String =
    """SELECT 'both' AS tag, CAST(count(*) AS BIGINT) AS n FROM (
  SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
  INTERSECT
  SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996)
UNION ALL
SELECT 'only_95' AS tag, CAST(count(*) AS BIGINT) AS n FROM (
  SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
  EXCEPT
  SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996)
UNION ALL
SELECT 'only_96' AS tag, CAST(count(*) AS BIGINT) AS n FROM (
  SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
  EXCEPT
  SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995)
ORDER BY tag"""

  lazy val rollupSql: String =
    "SELECT l_returnflag, l_linestatus, count(*) AS cnt, " +
      "sum(l_quantity) AS sum_qty, " +
      "CAST(grouping(l_returnflag) AS INTEGER) AS g_rf, " +
      "CAST(grouping(l_linestatus) AS INTEGER) AS g_ls " +
      "FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus) " +
      "ORDER BY g_rf, g_ls, l_returnflag NULLS FIRST, " +
      "l_linestatus NULLS FIRST"

  /** Marginals-only GROUPING SETS, identical SQL on both engines (same
    * grouping()/NULLS FIRST conventions as rollupSql). */
  lazy val groupingSetsSql: String =
    "SELECT l_returnflag, l_linestatus, count(*) AS cnt, " +
      "sum(l_quantity) AS sum_qty, " +
      "CAST(grouping(l_returnflag) AS INTEGER) AS g_rf, " +
      "CAST(grouping(l_linestatus) AS INTEGER) AS g_ls " +
      "FROM lineitem " +
      "GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus)) " +
      "ORDER BY g_rf, g_ls, l_returnflag NULLS FIRST, " +
      "l_linestatus NULLS FIRST"

  /** Chained conditional-min funnel windows; engine-portable ANSI SQL.
    * Counts only — timestamps never surface in the output, so the
    * engines' parquet ns/µs timestamp affinity cannot leak into the
    * compared values. */
  lazy val funnelSql: String =
    "WITH s1 AS (SELECT user_id, ts, event_type, " +
      "min(CASE WHEN event_type = 'view' THEN ts END) OVER w AS t_view " +
      "FROM events WINDOW w AS (PARTITION BY user_id)), " +
      "s2 AS (SELECT user_id, ts, event_type, t_view, " +
      "min(CASE WHEN event_type = 'click' AND ts > t_view THEN ts END) " +
      "OVER w AS t_click FROM s1 WINDOW w AS (PARTITION BY user_id)), " +
      "s3 AS (SELECT user_id, t_view, t_click, " +
      "min(CASE WHEN event_type = 'purchase' AND ts > t_click THEN ts END) " +
      "OVER w AS t_purchase FROM s2 WINDOW w AS (PARTITION BY user_id)), " +
      "pu AS (SELECT DISTINCT user_id, t_view, t_click, t_purchase FROM s3) " +
      "SELECT count(*) AS n_users, count(t_view) AS n_view, " +
      "count(t_click) AS n_view_click, " +
      "count(t_purchase) AS n_view_click_purchase FROM pu"

  /** Ranked top-k per group (row_number window), identical SQL on both
    * engines; ties broken by the full key so the winner set is unique.
    * Plan shape: one shuffle on the (small-cardinality) group key, then
    * a per-partition sort — at scale prefer a partial top-k
    * (aggregate min-heap / window after a per-partition LIMIT-ish
    * prune); row_number is the semantics reference. */
  lazy val topkPerGroupSql: String =
    "SELECT l_returnflag, l_orderkey, l_linenumber, l_quantity FROM (" +
      "SELECT l_returnflag, l_orderkey, l_linenumber, l_quantity, " +
      "row_number() OVER (PARTITION BY l_returnflag " +
      "ORDER BY l_quantity DESC, l_orderkey, l_linenumber) AS rn " +
      "FROM lineitem) WHERE rn <= 3 " +
      "ORDER BY l_returnflag, l_quantity DESC, l_orderkey, l_linenumber"

  /** Exact percentile_disc (value at 0-based index floor(p·(n-1)) of
    * the sorted multiset) via the DISTINCT-VALUE histogram: the rank
    * walk runs over one row per distinct value, so the unpartitioned
    * cumulative window moves |domain| rows (50 for l_quantity), never
    * the table — the earlier row_number-over-all-rows formulation
    * single-partitioned the whole table, the exact anti-pattern this
    * repo bans. The groupBy histogram is one partial-agg shuffle. */
  /** Shared by quantilesSql and q_sketch_accuracy — the sketch entry
    * indexes its exact references by these probabilities, so the two
    * lists must not drift apart. lazy: forced from entry vals declared
    * earlier in this object (the init-order trap the verify skill
    * documents). */
  lazy val quantileProbs: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.95)

  lazy val quantilesSql: String =
    "WITH f AS (SELECT l_quantity AS v, count(*) AS c FROM lineitem " +
      "GROUP BY 1), " +
      "cum AS (SELECT v, sum(c) OVER (ORDER BY v ROWS UNBOUNDED " +
      "PRECEDING) AS cum FROM f), " +
      "tot AS (SELECT sum(c) AS n FROM f) " +
      quantileProbs.map { p =>
        s"SELECT CAST($p AS DOUBLE) AS p, (SELECT min(v) FROM cum, tot " +
          s"WHERE cum >= CAST(floor(CAST($p AS DOUBLE) * (n - 1)) AS BIGINT) + 1) AS value"
      }.mkString("", " UNION ALL ", " ORDER BY p")

  /** Per-group twin of [[quantilesSql]]: one (g,v) histogram shuffle, a
    * per-group cumulative window over distinct values, and a
    * probs × groups sized join — runs verbatim in Spark SQL and DuckDB.
    */
  lazy val groupQuantilesSql: String =
    "WITH f AS (SELECT l_returnflag AS g, l_quantity AS v, count(*) AS c " +
      "FROM lineitem GROUP BY 1, 2), " +
      "cum AS (SELECT g, v, sum(c) OVER (PARTITION BY g ORDER BY v " +
      "ROWS UNBOUNDED PRECEDING) AS cum FROM f), " +
      "tot AS (SELECT g, sum(c) AS n FROM f GROUP BY g), " +
      "probs AS (" +
      quantileProbs.map(p => s"SELECT CAST($p AS DOUBLE) AS p")
        .mkString(" UNION ALL ") + ") " +
      "SELECT g AS l_returnflag, p, min(v) AS value " +
      "FROM cum JOIN tot USING (g) CROSS JOIN probs " +
      "WHERE cum >= CAST(floor(p * (n - 1)) AS BIGINT) + 1 " +
      "GROUP BY g, p ORDER BY l_returnflag, p"

  // ---- statistics / recommendation / privacy wave (round 11) ----

  val statsEntries: Seq[Entry] = Seq(
    // Lag-1 autocovariance SUFFICIENT STATISTICS per event-type daily
    // series — the time-series diagnostic (is today's volume predicted
    // by yesterday's?) reduced to the integer-exact form the float
    // rule allows: n, Σy, Σy², n_pairs, Σ y_t·y_{t-1}. The correlation
    // itself is one derived division the consumer does; the engine's
    // job — the daily rollup shuffle and the per-type lag window — is
    // fully checked. Counts are integers so every product is exact;
    // at 100 TB the window partitions by type over day-count-sized
    // frames (the q_moving_avg scale argument).
    Entry("q_autocorr",
      (s, d) => {
        val daily = Tables.read(s, d, "events")
          .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
          .agg(count(lit(1)).as("cnt"))
        val w = Window.partitionBy("event_type").orderBy("day")
        daily.withColumn("prev", lag(col("cnt"), 1).over(w))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_days"),
            sum(col("cnt")).as("s_y"),
            sum(col("cnt") * col("cnt")).as("s_yy"),
            count(col("prev")).as("n_pairs"),
            sum(col("cnt") * col("prev")).as("s_lag"))
          .orderBy("event_type")
      },
      Some("""WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day, count(*) AS cnt
  FROM events GROUP BY 1, 2),
lagd AS (
  SELECT event_type, cnt,
    lag(cnt) OVER (PARTITION BY event_type ORDER BY day) AS prev
  FROM daily)
SELECT event_type, count(*) AS n_days,
  CAST(sum(cnt) AS BIGINT) AS s_y,
  CAST(sum(cnt * cnt) AS BIGINT) AS s_yy,
  count(prev) AS n_pairs,
  CAST(sum(cnt * prev) AS BIGINT) AS s_lag
FROM lagd GROUP BY event_type ORDER BY event_type""")),
    // Per-group OLS trend over the daily order-count series: emit the
    // sufficient statistics AND the slope as an exact integer
    // fraction (num = n·Σxy − Σx·Σy, den = n·Σxx − Σx²) — no float
    // ever crosses engines, and sign(num) alone answers "is this
    // segment growing?". x is days-since-epoch (bounded by calendar
    // span), y a daily count, so every product stays far below Long
    // range even at 100×; the whole fit is one rollup shuffle plus a
    // priority-keyed reduce — the same two-aggregation cascade shape
    // as q_k_anonymity, nothing driver-side.
    Entry("q_trend_regression",
      (s, d) => {
        val daily = Tables.read(s, d, "orders")
          .groupBy(col("o_orderpriority"),
            datediff(date_trunc("day", col("o_orderdate")),
              lit("1995-01-01").cast("date")).as("x"))
          .agg(count(lit(1)).as("y"))
        daily.groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"),
            sum(col("x")).as("sx"), sum(col("y")).as("sy"),
            sum(col("x") * col("x")).as("sxx"),
            sum(col("x") * col("y")).as("sxy"))
          .select(col("o_orderpriority"), col("n"), col("sx"), col("sy"),
            col("sxx"), col("sxy"),
            (col("n") * col("sxy") - col("sx") * col("sy")).as("slope_num"),
            (col("n") * col("sxx") - col("sx") * col("sx")).as("slope_den"))
          .orderBy("o_orderpriority")
      },
      Some("""WITH daily AS (
  SELECT o_orderpriority,
    date_diff('day', DATE '1995-01-01',
      CAST(date_trunc('day', o_orderdate) AS DATE)) AS x,
    count(*) AS y
  FROM orders GROUP BY 1, 2),
s AS (
  SELECT o_orderpriority, count(*) AS n,
    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
    CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(x * y) AS BIGINT) AS sxy
  FROM daily GROUP BY 1)
SELECT o_orderpriority, n, sx, sy, sxx, sxy,
  n * sxy - sx * sy AS slope_num, n * sxx - sx * sx AS slope_den
FROM s ORDER BY o_orderpriority""")),
    // t-closeness audit — completes the k-anonymity / l-diversity
    // privacy trio: a QI class passes only if its SENSITIVE-attribute
    // distribution is close to the global one. For an ORDERED
    // sensitive attribute (balance band) the Earth Mover's Distance
    // is the absolute-cumulative-difference sum, computed here as an
    // EXACT SCALED INTEGER: per band, c·N − g·n_c (class count cross-
    // multiplied against the global), cumulated in band order, |·|
    // summed — t = emd_num / (n_c·N·(m−1)) is one derived division.
    // The dense class×band grid is classes·bands-sized (metadata, not
    // data); both small frames broadcast. Scale bound: c·N ≤ N², so
    // the integer path is exact to N ≈ 3e9 rows — past that, rescale
    // g and c by a common 2^k first (documented, not needed here).
    Entry("q_t_closeness",
      (s, d) => {
        val cust = Tables.read(s, d, "customer")
          .select(col("c_nationkey").as("nat"), col("c_mktsegment").as("seg"),
            floor(col("c_acctbal") / 1000).cast("long").as("band"))
        val cls = cust.groupBy("nat", "seg", "band")
          .agg(count(lit(1)).as("c"))
        val glob = cust.groupBy("band").agg(count(lit(1)).as("g"))
        val tot = cust.agg(count(lit(1)).as("bign"))
        val sizes = cust.groupBy("nat", "seg").agg(count(lit(1)).as("nc"))
        val w = Window.partitionBy("nat", "seg").orderBy("band")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        sizes.crossJoin(broadcast(glob))
          .join(cls, Seq("nat", "seg", "band"), "left")
          .withColumn("c", coalesce(col("c"), lit(0L)))
          .crossJoin(broadcast(tot))
          .withColumn("cum",
            sum(col("c") * col("bign") - col("g") * col("nc")).over(w))
          .groupBy(col("nat"), col("seg"))
          .agg(max(col("nc")).as("class_size"),
            sum(abs(col("cum"))).as("emd_num"))
          .orderBy("nat", "seg")
      },
      Some("""WITH cust AS (
  SELECT c_nationkey AS nat, c_mktsegment AS seg,
    CAST(floor(c_acctbal / 1000) AS BIGINT) AS band
  FROM customer),
cls AS (SELECT nat, seg, band, count(*) AS c FROM cust GROUP BY 1, 2, 3),
gb AS (SELECT band, count(*) AS g FROM cust GROUP BY 1),
tot AS (SELECT count(*) AS bign FROM cust),
sizes AS (SELECT nat, seg, count(*) AS nc FROM cust GROUP BY 1, 2),
j AS (
  SELECT sizes.nat, sizes.seg, gb.band, sizes.nc, gb.g,
    COALESCE(cls.c, 0) AS c, bign
  FROM sizes CROSS JOIN gb
  LEFT JOIN cls ON sizes.nat = cls.nat AND sizes.seg = cls.seg
    AND gb.band = cls.band
  CROSS JOIN tot),
cums AS (
  SELECT nat, seg, nc,
    sum(c * bign - g * nc) OVER (PARTITION BY nat, seg ORDER BY band
      ROWS UNBOUNDED PRECEDING) AS cum
  FROM j)
SELECT nat, seg, max(nc) AS class_size,
  CAST(sum(abs(cum)) AS BIGINT) AS emd_num
FROM cums GROUP BY 1, 2 ORDER BY 1, 2""")),
    // Item-item collaborative filtering over order baskets (returned
    // lines): nearest neighbor per part by cosine² similarity on the
    // order-incidence vectors — score = co²/(deg_u·deg_v), computed as
    // ONE IEEE division of two exactly-representable integer products
    // (< 2^53), so the ranking is bit-identical cross-engine while the
    // OUTPUT stays pure integers. Scale shape: pair generation is
    // basket-local (order size spec-bounded), the co≥2 support prune
    // runs before degree joins, and the top-1 window partitions by
    // part over its (pruned) neighbor list only.
    Entry("q_item_cf",
      (s, d) => {
        val os = coocBaskets(s, d)
        val deg = os.groupBy(col("p")).agg(count(lit(1)).as("deg"))
        val co = os.as("a").join(os.as("b"),
            col("a.ok") === col("b.ok") && col("a.p") < col("b.p"))
          .groupBy(col("a.p").as("u"), col("b.p").as("v"))
          .agg(count(lit(1)).as("co"))
          .filter(col("co") >= 2)
        val sym = co.unionByName(
          co.select(col("v").as("u"), col("u").as("v"), col("co")))
        val w = Window.partitionBy("u")
          .orderBy(col("score").desc, col("v").asc)
        sym
          .join(deg.select(col("p").as("u"), col("deg").as("du")), "u")
          .join(deg.select(col("p").as("v"), col("deg").as("dv")), "v")
          .withColumn("score", (col("co") * col("co")).cast("double") /
            (col("du") * col("dv")).cast("double"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") === 1)
          .select(col("u").as("part"), col("v").as("neighbor"),
            col("co"), col("du").as("d_part"), col("dv").as("d_neighbor"))
          .orderBy("part")
      },
      Some("""WITH os AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
  FROM lineitem WHERE l_returnflag = 'R'),
deg AS (SELECT p, count(*) AS deg FROM os GROUP BY p),
co AS (
  SELECT a.p AS u, b.p AS v, count(*) AS co
  FROM os a JOIN os b ON a.ok = b.ok AND a.p < b.p
  GROUP BY 1, 2 HAVING count(*) >= 2),
sym AS (SELECT u, v, co FROM co UNION ALL SELECT v, u, co FROM co),
scored AS (
  SELECT sym.u, sym.v, sym.co, d1.deg AS du, d2.deg AS dv,
    CAST(sym.co * sym.co AS DOUBLE) / CAST(d1.deg * d2.deg AS DOUBLE)
      AS score
  FROM sym JOIN deg d1 ON sym.u = d1.p JOIN deg d2 ON sym.v = d2.p),
rk AS (SELECT *, row_number() OVER (PARTITION BY u
  ORDER BY score DESC, v) AS rk FROM scored)
SELECT u AS part, v AS neighbor, co, du AS d_part, dv AS d_neighbor
FROM rk WHERE rk = 1 ORDER BY part""")),
    // CSV round-trip with gzip compression and an explicit read
    // schema — format breadth beside parquet/ORC/JSONL. gzip parts
    // are non-splittable, but the writer emits one file PER PARTITION
    // so read parallelism survives as file parallelism (the layout a
    // real export job uses); doubles survive textually because the
    // writer emits shortest-round-trip representations. The tmp dir is
    // (pid, counter)-keyed so concurrent same-dataset runs in one JVM
    // never collide, and cleanup runs in a finally so a failed
    // read/collect cannot leak the gzip export (r11 advisor fix); the
    // oracle reads the parquet original, so the gate proves the CSV
    // path lossless for longs, quoted strings, and doubles.
    Entry("q_csv_roundtrip",
      (s, d) => {
        val dir = "/tmp/graft_csv/" + d.replaceAll("[^A-Za-z0-9]", "_") +
          "_" + ProcessHandle.current().pid() + "_" +
          csvRoundtripSeq.incrementAndGet()
        try {
          Tables.read(s, d, "orders")
            .select(col("o_orderkey"), col("o_orderpriority"),
              col("o_totalprice"))
            .write.mode("overwrite").option("header", "true")
            .option("compression", "gzip").csv(dir)
          val agg = s.read.option("header", "true")
            .schema("o_orderkey LONG, o_orderpriority STRING, " +
              "o_totalprice DOUBLE")
            .csv(dir)
            .groupBy(col("o_orderpriority"))
            .agg(count(lit(1)).as("n"),
              sum(floor(col("o_totalprice") * 100 + 0.5).cast("long"))
                .as("cents_sum"),
              min(col("o_orderkey")).as("min_key"),
              max(col("o_orderkey")).as("max_key"))
            .orderBy("o_orderpriority")
          val rows = agg.collect().toSeq
          s.createDataFrame(
            s.sparkContext.parallelize(rows, 1), agg.schema)
        } finally org.apache.commons.io.FileUtils.deleteQuietly(
          new java.io.File(dir))
      },
      Some("""SELECT o_orderpriority, count(*) AS n,
  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
    AS cents_sum,
  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
FROM orders GROUP BY 1 ORDER BY o_orderpriority""")),
    // Two-sample Kolmogorov–Smirnov drift test between time slices of
    // the event-value distribution — the training-pipeline "did this
    // feed drift?" gate. Binned formulation (64 fixed-width bins,
    // clamp into the top bin) so the ECDF is computed over a
    // SPEC-BOUNDED frame: one conditional-count shuffle of <= 64
    // groups (map-side partial agg — the scan emits 64-row partials,
    // never rows), then the cumulative walk and the max|D| reduction
    // run on metadata-sized data. The statistic is EXACT INTEGER:
    // D_num = max_b |cumA_b*n_b_tot - cumB_b*n_a_tot| with
    // denominator n_a*n_b (<= N^2/4, Long-safe to N ~ 6e9 rows; past
    // that, rescale both counts by a common 2^k). The one float
    // column (ks) is a single IEEE division of two exact integers —
    // bit-identical cross-engine. Unbinned KS needs a global
    // value-sort; binned-with-fixed-edges is the form production
    // drift monitors use at scale, and the binning is part of the
    // operator spec, not an approximation of it.
    Entry("q_ks_drift",
      (s, d) => {
        val split = lit("2024-01-16 00:00:00").cast("timestamp")
        val cells = Tables.read(s, d, "events")
          .select(least(floor(col("value") / 8.0), lit(63.0))
              .cast("long").as("bin"),
            (col("ts") < split).cast("long").as("is_a"))
          .groupBy("bin")
          .agg(sum(col("is_a")).as("c_a"),
            sum(lit(1L) - col("is_a")).as("c_b"))
        // 64-row frame: the single-partition windows below are
        // bounded by the bin-count spec, not the data.
        val wCum = Window.orderBy("bin")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wAll = Window.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)
        cells
          .withColumn("cum_a", sum(col("c_a")).over(wCum))
          .withColumn("cum_b", sum(col("c_b")).over(wCum))
          .withColumn("n_a", sum(col("c_a")).over(wAll))
          .withColumn("n_b", sum(col("c_b")).over(wAll))
          .withColumn("dev",
            abs(col("cum_a") * col("n_b") - col("cum_b") * col("n_a")))
          .withColumn("mx", max(col("dev")).over(wAll))
          .filter(col("dev") === col("mx"))
          .groupBy(col("n_a"), col("n_b"), col("dev").as("ks_num"))
          .agg(min(col("bin")).as("ks_bin"))
          .select(col("n_a"), col("n_b"), col("ks_num"), col("ks_bin"),
            (col("ks_num").cast("double") /
              (col("n_a") * col("n_b")).cast("double")).as("ks"))
      },
      Some("""WITH cells AS (
  SELECT CAST(least(floor(value / 8.0), 63.0) AS BIGINT) AS bin,
    CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END)
      AS BIGINT) AS c_a,
    CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 0 ELSE 1 END)
      AS BIGINT) AS c_b
  FROM events GROUP BY 1),
cum AS (
  SELECT bin,
    CAST(SUM(c_a) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS BIGINT)
      AS cum_a,
    CAST(SUM(c_b) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS BIGINT)
      AS cum_b,
    CAST(SUM(c_a) OVER () AS BIGINT) AS n_a,
    CAST(SUM(c_b) OVER () AS BIGINT) AS n_b
  FROM cells),
dev AS (
  SELECT bin, n_a, n_b, abs(cum_a * n_b - cum_b * n_a) AS dev,
    max(abs(cum_a * n_b - cum_b * n_a)) OVER () AS mx
  FROM cum)
SELECT n_a, n_b, dev AS ks_num, min(bin) AS ks_bin,
  CAST(dev AS DOUBLE) / CAST(n_a * n_b AS DOUBLE) AS ks
FROM dev WHERE dev = mx GROUP BY n_a, n_b, dev""")),
    // Categorical drift: the event-type × time-period contingency
    // table with EXACT-INTEGER independence deviations — the chi²
    // sufficient statistics without the division (chi² itself is
    // Σ dev_num² / (R*C*N), derived by the consumer; sign(dev_num)
    // additionally says which cells grew). dev_num = O*N - R*C is the
    // cross-multiplied form of O - R*C/N, exact while N² < 2^63
    // (N ~ 3e9; past that rescale margins by a common 2^k — the
    // q_t_closeness envelope note). Scale shape: one cell-count
    // shuffle (types × 2 groups, map-side combined); margins come
    // from windows over the CELL frame (metadata-sized), never a
    // second scan of the data.
    Entry("q_cat_drift",
      (s, d) => {
        val split = lit("2024-01-16 00:00:00").cast("timestamp")
        val cells = Tables.read(s, d, "events")
          .select(col("event_type"),
            (col("ts") >= split).cast("long").as("period"))
          .groupBy("event_type", "period")
          .agg(count(lit(1)).as("obs"))
        cells
          .withColumn("r_margin",
            sum(col("obs")).over(Window.partitionBy("event_type")))
          .withColumn("c_margin",
            sum(col("obs")).over(Window.partitionBy("period")))
          .withColumn("n_total", sum(col("obs")).over(Window.partitionBy()))
          .select(col("event_type"), col("period"), col("obs"),
            col("r_margin"), col("c_margin"),
            (col("obs") * col("n_total") - col("r_margin") * col("c_margin"))
              .as("dev_num"))
          .orderBy("event_type", "period")
      },
      Some("""WITH cells AS (
  SELECT event_type,
    CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END AS period,
    count(*) AS obs
  FROM events GROUP BY 1, 2),
m AS (
  SELECT event_type, period, obs,
    CAST(SUM(obs) OVER (PARTITION BY event_type) AS BIGINT) AS r_margin,
    CAST(SUM(obs) OVER (PARTITION BY period) AS BIGINT) AS c_margin,
    CAST(SUM(obs) OVER () AS BIGINT) AS n_total
  FROM cells)
SELECT event_type, period, obs, r_margin, c_margin,
  obs * n_total - r_margin * c_margin AS dev_num
FROM m ORDER BY event_type, period""")),
    // Embedding-distribution drift between corpus slices: per-dimension
    // fixed-point mean shift — the MMD-lite monitor a training
    // pipeline runs on its embedding feed. Each float is quantized
    // q = floor(1000·x) (exact in both engines: float→double widening
    // is lossless and the double multiply/floor are IEEE-identical),
    // then the mean difference is held as the EXACT INTEGER
    // cross-multiplication diff_num = s_a·n_b − s_b·n_a with
    // denominator n_a·n_b — the q_pmi_colloc rule: never let a float
    // ratio cross engines. q_max is emitted per dimension so the
    // overflow envelope is VISIBLE in the artifact: |diff_num| <=
    // 2·q_max·n_a·n_b, exact while q_max·n_a·n_b < 2^62 (~3e9 rows
    // per slice at q_max ≈ 525; past that rescale the sums by 2^k).
    // Scale shape: posexplode is map-side; the dim rollup shuffles
    // <= 64 groups with map-side partial sums (partials are dim-sized
    // per task, never row-sized); the slice counts are a one-row
    // broadcast.
    Entry("q_embed_drift",
      (s, d) => {
        val em = Tables.read(s, d, "embeddings")
        val q = em.select(
            (pmod(col("vec_id"), lit(2)) === 0).cast("long").as("is_a"),
            posexplode(col("embedding")).as(Seq("dim", "x")))
          .select(col("is_a"), col("dim").cast("long").as("dim"),
            floor(col("x").cast("double") * 1000.0).cast("long").as("q"))
        val sums = q.groupBy("dim")
          .agg(sum(when(col("is_a") === 1, col("q")).otherwise(0L)).as("s_a"),
            sum(when(col("is_a") === 0, col("q")).otherwise(0L)).as("s_b"),
            max(abs(col("q"))).as("q_max"))
        val counts = em.agg(
          sum((pmod(col("vec_id"), lit(2)) === 0).cast("long")).as("n_a"),
          sum((pmod(col("vec_id"), lit(2)) =!= 0).cast("long")).as("n_b"))
        sums.crossJoin(broadcast(counts))
          .select(col("dim"), col("s_a"), col("s_b"), col("q_max"),
            col("n_a"), col("n_b"),
            (col("s_a") * col("n_b") - col("s_b") * col("n_a"))
              .as("diff_num"))
          .orderBy("dim")
      },
      Some("""WITH q AS (
  SELECT CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END AS is_a,
    generate_subscripts(embedding, 1) - 1 AS dim,
    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000.0) AS BIGINT) AS q
  FROM embeddings),
sums AS (
  SELECT CAST(dim AS BIGINT) AS dim,
    CAST(SUM(CASE WHEN is_a = 1 THEN q ELSE 0 END) AS BIGINT) AS s_a,
    CAST(SUM(CASE WHEN is_a = 0 THEN q ELSE 0 END) AS BIGINT) AS s_b,
    CAST(MAX(abs(q)) AS BIGINT) AS q_max
  FROM q GROUP BY dim),
cnt AS (
  SELECT CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
      AS n_a,
    CAST(SUM(CASE WHEN vec_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
      AS n_b
  FROM embeddings)
SELECT dim, s_a, s_b, q_max, n_a, n_b,
  s_a * n_b - s_b * n_a AS diff_num
FROM sums CROSS JOIN cnt ORDER BY dim""")),
    // Small-file compaction planning — the table-maintenance operator
    // every 100 TB lake runs nightly: group file metadata by table
    // partition, walk files in layout order, and cut output bins at
    // cumulative-size multiples (bin = floor(cum_before / target), the
    // Delta-OPTIMIZE-style splitting policy that preserves clustering
    // order — no re-sort, no data movement in the PLAN itself). The
    // whole job runs on METADATA: per-partition windows over
    // file-count-sized frames (files per partition is bounded by the
    // writer's layout), never on rows. Here (source, doc_id % 1000)
    // stands in for (partition, file) with bytes = Σ n_chars; the
    // artifact is the per-bin census a compactor would execute.
    Entry("q_compaction_plan",
      (s, d) => {
        val files = docs(s, d)
          .groupBy(col("source"), pmod(col("doc_id"), lit(1000L)).as("fid"))
          .agg(sum(col("n_chars")).as("bytes"))
        val w = Window.partitionBy("source").orderBy("fid")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        files
          .withColumn("cum_before", sum(col("bytes")).over(w) - col("bytes"))
          .withColumn("bin", floor(col("cum_before") / 2000.0).cast("long"))
          .groupBy(col("source"), col("bin"))
          .agg(count(lit(1)).as("n_files"), sum(col("bytes")).as("bytes"))
          .orderBy("source", "bin")
      },
      Some("""WITH files AS (
  SELECT source, doc_id % 1000 AS fid,
    CAST(sum(n_chars) AS BIGINT) AS bytes
  FROM documents GROUP BY 1, 2),
walked AS (
  SELECT source, bytes,
    CAST(sum(bytes) OVER (PARTITION BY source ORDER BY fid
      ROWS UNBOUNDED PRECEDING) - bytes AS BIGINT) AS cum_before
  FROM files)
SELECT source, CAST(floor(cum_before / 2000.0) AS BIGINT) AS bin,
  count(*) AS n_files, CAST(sum(bytes) AS BIGINT) AS bytes
FROM walked GROUP BY 1, 2 ORDER BY source, bin""")),
    // Join-skew pre-flight census — the diagnostic you run BEFORE a
    // 100 TB many-to-many join: per-key counts (one map-side-combined
    // shuffle of (key,1) pairs), exact output cardinality of the
    // self-join Σ c², and the top-5 offender keys with their per-key
    // output multiplicity. Output is metadata-sized (top-k + three
    // scalars); the verdict — salt, bound, or proceed — costs one
    // cheap pass instead of a blown shuffle. Overflow envelope:
    // Σ c² ≤ N·max_c, so a Long survives any input where the WORST key
    // fans under ~9e18/N — at pathological skew the census overflows
    // loudly under ANSI rather than lying. Tie-break on key keeps the
    // top-5 deterministic.
    Entry("q_skew_diagnosis",
      (s, d) => {
        val c = li(s, d).groupBy(col("l_partkey").as("k"))
          .agg(count(lit(1)).as("c"))
        val g = c.agg(count(lit(1)).as("n_keys"),
          sum(col("c") * col("c")).as("out_rows"),
          max(col("c")).as("max_c"))
        c.orderBy(col("c").desc, col("k")).limit(5)
          .crossJoin(broadcast(g))
          .select(col("k"), col("c"), (col("c") * col("c")).as("key_out"),
            col("n_keys"), col("out_rows"), col("max_c"))
          .orderBy(col("c").desc, col("k"))
      },
      Some("""WITH c AS (
  SELECT l_partkey AS k, CAST(count(*) AS BIGINT) AS c
  FROM lineitem GROUP BY 1),
g AS (
  SELECT CAST(count(*) AS BIGINT) AS n_keys,
    CAST(sum(c * c) AS BIGINT) AS out_rows,
    CAST(max(c) AS BIGINT) AS max_c FROM c),
top AS (SELECT k, c FROM c ORDER BY c DESC, k LIMIT 5)
SELECT k, c, CAST(c * c AS BIGINT) AS key_out, n_keys, out_rows, max_c
FROM top CROSS JOIN g ORDER BY c DESC, k""")),
    // Distributed Gram matrix over int8-quantized embeddings — the
    // scale half of PCA/covariance/whitening: per-partition fold into
    // ONE dim²/2 Long accumulator, dim²-bounded merge shuffle, and the
    // eigensolve left to dim-bounded driver work. Quantization makes
    // the artifact integer-exact cross-engine (a float Gram is
    // reduction-order-dependent and could never be hash-gated); the
    // int8 codes are also exactly what a memory-bound 100 TB pipeline
    // would feed it. Oracle runs the identical quantization and an
    // indexed self-join — O(n·dim²) in DuckDB, fine at verify scale.
    Entry("q_gram_matrix",
      (s, d) => Similarity.gramUpperTriangle(emb(s, d), "vec_id",
        "embedding"),
      Some(Similarity.gramUpperTriangleSql("embeddings", "vec_id",
        "embedding"))),
    // Distributed PCA step: power iteration for the TOP PRINCIPAL
    // DIRECTION of the embedding Gram (3 fixed rounds of y = G·v in
    // exact integer fixed-point, v rescaled to max|v| ≈ 10⁴ by
    // sign-decomposed integer division — Spark div truncates toward
    // zero while DuckDB // floors, so negatives go through
    // −((−y) div s) on BOTH engines). The distributed part is the
    // one-pass int8 Gram (q_gram_matrix's mapPartitions reduction);
    // the iteration itself runs on the dim²-sized frame — exactly how
    // a 100 TB pipeline does PCA: reduce to dim², then iterate on
    // metadata. Overflow envelope ENFORCED, not just documented (the
    // q_pmi_colloc advisor lesson): 64·max|G|·2·10⁴ < 2⁶³ requires
    // max|G| < 7.2e12, require()d from the 64×64 frame before any
    // product. Unrolled-recurrence oracle like q_pagerank/q_hits.
    Entry("q_power_iteration",
      (s, d) => {
        val gU = Similarity.gramUpperTriangle(emb(s, d), "vec_id",
          "embedding")
        val g = gU.unionByName(gU.filter(col("di") =!= col("dj"))
            .select(col("dj").as("di"), col("di").as("dj"), col("g")))
          .localCheckpoint(false)
        val gm = g.agg(max(abs(col("g")))).head().getLong(0)
        require(gm < 7200000000000L,
          s"power-iteration overflow envelope: max|g|=$gm >= 7.2e12 — " +
            "rescale the seed (vj div 2^k) before iterating")
        def mv(v: DataFrame): DataFrame =
          g.join(v, col("dj") === col("j"))
            .groupBy(col("di"))
            .agg(sum(col("g") * col("vj")).as("y"))
        def norm(y: DataFrame): DataFrame =
          y.crossJoin(broadcast(y.agg(max(abs(col("y"))).as("mx"))))
            .select(col("di").as("j"),
              when(col("y") < 0,
                -expr("(-y) div greatest(mx div 10000, 1)"))
                .otherwise(expr("y div greatest(mx div 10000, 1)"))
                .as("vj"))
            .localCheckpoint(false)
        val v0 = g.select(col("di").as("j")).distinct()
          .withColumn("vj", lit(10000L))
        val v3 = norm(mv(norm(mv(norm(mv(v0))))))
        v3.agg(count(lit(1)).as("n_dims"), sum(col("vj")).as("v_sum"),
            min(col("vj")).as("v_min"), max(col("vj")).as("v_max"),
            sum(col("vj") * col("j")).as("checksum"))
          .select(col("n_dims"), col("v_sum"), col("v_min"),
            col("v_max"), col("checksum"))
      },
      Some("""WITH gram AS (
""" + Similarity.gramUpperTriangleSql("embeddings", "vec_id",
        "embedding") + """
), gsym AS (
  SELECT di, dj, g FROM gram
  UNION ALL SELECT dj, di, g FROM gram WHERE di <> dj),
v0 AS (SELECT DISTINCT di AS j, CAST(10000 AS BIGINT) AS vj FROM gsym),
y1 AS (SELECT gs.di, CAST(sum(gs.g * v.vj) AS BIGINT) AS y
  FROM gsym gs JOIN v0 v ON gs.dj = v.j GROUP BY 1),
s1 AS (SELECT greatest(CAST(max(abs(y)) AS BIGINT) // 10000, 1) AS s
  FROM y1),
v1 AS (SELECT di AS j,
  CASE WHEN y < 0 THEN -((-y) // s) ELSE y // s END AS vj FROM y1, s1),
y2 AS (SELECT gs.di, CAST(sum(gs.g * v.vj) AS BIGINT) AS y
  FROM gsym gs JOIN v1 v ON gs.dj = v.j GROUP BY 1),
s2 AS (SELECT greatest(CAST(max(abs(y)) AS BIGINT) // 10000, 1) AS s
  FROM y2),
v2 AS (SELECT di AS j,
  CASE WHEN y < 0 THEN -((-y) // s) ELSE y // s END AS vj FROM y2, s2),
y3 AS (SELECT gs.di, CAST(sum(gs.g * v.vj) AS BIGINT) AS y
  FROM gsym gs JOIN v2 v ON gs.dj = v.j GROUP BY 1),
s3 AS (SELECT greatest(CAST(max(abs(y)) AS BIGINT) // 10000, 1) AS s
  FROM y3),
v3 AS (SELECT di AS j,
  CASE WHEN y < 0 THEN -((-y) // s) ELSE y // s END AS vj FROM y3, s3)
SELECT CAST(count(*) AS BIGINT) AS n_dims,
  CAST(sum(vj) AS BIGINT) AS v_sum, CAST(min(vj) AS BIGINT) AS v_min,
  CAST(max(vj) AS BIGINT) AS v_max,
  CAST(sum(vj * j) AS BIGINT) AS checksum
FROM v3""")),
    // Robust outlier census: per-group exact median and MAD (median
    // absolute deviation) via the rank-walk over the DISTINCT-value
    // histogram (banded column, ≤50 values — the q_quantiles frame
    // discipline), then count rows beyond 1.5·MAD. Every quantity is
    // an integral double, so median, deviations, and the 1.5·MAD
    // threshold are exactly representable and the comparison is
    // engine-portable; the windows run over value-count-sized frames,
    // never over rows. The lower-median rank floor((n-1)/2)+1 is
    // written identically on both sides.
    Entry("q_mad_outliers",
      (s, d) => {
        val f = li(s, d)
          .groupBy(col("l_returnflag").as("fl"), col("l_quantity").as("v"))
          .agg(count(lit(1)).as("c"))
        val n = f.groupBy("fl").agg(sum(col("c")).as("n"))
        val w = Window.partitionBy("fl").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = f.withColumn("cum", sum(col("c")).over(w))
        val med = cum.join(n, Seq("fl"))
          .filter(col("cum") >=
            floor((col("n") - 1) / 2.0).cast("long") + 1)
          .groupBy("fl").agg(min(col("v")).as("med"))
        val dev = f.join(broadcast(med), Seq("fl"))
          .groupBy(col("fl"), abs(col("v") - col("med")).as("dv"))
          .agg(sum(col("c")).as("c"))
        val wd = Window.partitionBy("fl").orderBy("dv")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val mad = dev.withColumn("cum", sum(col("c")).over(wd))
          .join(n, Seq("fl"))
          .filter(col("cum") >=
            floor((col("n") - 1) / 2.0).cast("long") + 1)
          .groupBy("fl").agg(min(col("dv")).as("mad"))
        f.join(broadcast(med), Seq("fl")).join(broadcast(mad), Seq("fl"))
          .groupBy("fl")
          .agg(sum(col("c")).as("n"), min(col("med")).as("med"),
            min(col("mad")).as("mad"),
            sum(when(abs(col("v") - col("med")) > col("mad") * 1.5,
              col("c")).otherwise(lit(0L))).as("n_out"))
          .orderBy("fl")
      },
      Some("""WITH f AS (
  SELECT l_returnflag AS fl, l_quantity AS v, CAST(count(*) AS BIGINT) AS c
  FROM lineitem GROUP BY 1, 2),
n AS (SELECT fl, CAST(sum(c) AS BIGINT) AS n FROM f GROUP BY 1),
cum AS (
  SELECT fl, v, sum(c) OVER (PARTITION BY fl ORDER BY v
    ROWS UNBOUNDED PRECEDING) AS cum FROM f),
med AS (
  SELECT cum.fl, min(v) AS med FROM cum JOIN n ON cum.fl = n.fl
  WHERE cum >= CAST(floor((n - 1) / 2.0) AS BIGINT) + 1 GROUP BY 1),
dev AS (
  SELECT f.fl, abs(v - med) AS dv, CAST(sum(c) AS BIGINT) AS c
  FROM f JOIN med ON f.fl = med.fl GROUP BY 1, 2),
dcum AS (
  SELECT fl, dv, sum(c) OVER (PARTITION BY fl ORDER BY dv
    ROWS UNBOUNDED PRECEDING) AS cum FROM dev),
mad AS (
  SELECT dcum.fl, min(dv) AS mad FROM dcum JOIN n ON dcum.fl = n.fl
  WHERE cum >= CAST(floor((n - 1) / 2.0) AS BIGINT) + 1 GROUP BY 1)
SELECT f.fl, CAST(sum(c) AS BIGINT) AS n, min(med) AS med,
  min(mad) AS mad,
  CAST(sum(CASE WHEN abs(v - med) > mad * 1.5 THEN c ELSE 0 END)
    AS BIGINT) AS n_out
FROM f JOIN med ON f.fl = med.fl JOIN mad ON f.fl = mad.fl
GROUP BY 1 ORDER BY 1""")),
    // Benford first-digit census — the classic generated-vs-organic
    // data-quality scan, one map-side pass. The digit is extracted in
    // the INTEGER domain (cents = floor(price·100 + 0.5), then the
    // first character of the integer's decimal rendering) because
    // log10 at power-of-ten boundaries is libm-dependent and a float
    // digit extractor could disagree cross-engine; integer→string is
    // exact everywhere. Shares in ppm via integer division — no float
    // crosses the gate. Envelope: 10⁶·n needs n < 9.2e12 rows.
    Entry("q_benford",
      (s, d) => {
        val cents = floor(col("l_extendedprice") * 100 + 0.5).cast("long")
        val dig = li(s, d)
          .select(substring(cents.cast("string"), 1, 1).cast("int")
            .as("digit"))
          .groupBy("digit").agg(count(lit(1)).as("n"))
        val tot = dig.agg(sum(col("n")).as("total"))
        dig.crossJoin(broadcast(tot))
          .select(col("digit"), col("n"),
            expr("(1000000 * n) div total").as("ppm"))
          .orderBy("digit")
      },
      Some("""WITH d AS (
  SELECT CAST(substr(CAST(CAST(floor(l_extendedprice * 100 + 0.5)
      AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit,
    CAST(count(*) AS BIGINT) AS n
  FROM lineitem GROUP BY 1),
t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM d)
SELECT digit, n, CAST((1000000 * n) // total AS BIGINT) AS ppm
FROM d CROSS JOIN t ORDER BY digit""")),
    // One-pass POISSON BOOTSTRAP (the resampling method that actually
    // runs at 100 TB: per-row independent replicate weights instead of
    // n-out-of-n draws, so all B replicates ride ONE scan with
    // map-side partial aggregation — B bounded groups shuffle, never
    // rows). Weights are truncated-Poisson(1) (P(4+) ≈ 1.9% mass
    // folded into w=4, part of the operator spec) drawn by EXACT
    // INTEGER inverse-CDF: h = first 8 md5 hex digits of (id:b) as a
    // uniform 32-bit integer compared against precomputed floor(cdf·
    // 2³²) cutpoints — no float crosses the draw, the q_weighted_
    // sample hash idiom. Artifact = the 16-replicate bootstrap
    // distribution of the mean (exact integer cents, floor(sum/n) on
    // both engines), from which any consumer reads the CI band.
    Entry("q_bootstrap_ci",
      (s, d) => {
        val cents = floor(col("value") * 100 + 0.5).cast("long")
        // Cost shape at 100x: rows × B uniform draws (~100 s for 96 M
        // draws at local[32]) — data-proportional, shuffle-free until
        // the B-group aggregate, exactly the embarrassing parallelism
        // a wide cluster absorbs. (Packing 4 uniforms per md5 was
        // measured cost-neutral: the draw chain, not the digest count,
        // is the cost.)
        val h = conv(substring(md5(concat(col("event_id").cast("string"),
          lit(":"), col("b").cast("string"))), 1, 8), 16, 10).cast("long")
        Tables.read(s, d, "events")
          .select(col("event_id"), cents.as("cents"))
          .select(col("*"),
            explode(sequence(lit(0), lit(15))).as("b"))
          .withColumn("w",
            when(h < 1580030168L, 0L).when(h < 3160060337L, 1L)
              .when(h < 3950075421L, 2L).when(h < 4213413783L, 3L)
              .otherwise(4L))
          .groupBy(col("b"))
          .agg(sum(col("w")).as("n_b"),
            sum(col("w") * col("cents")).as("sum_cents"))
          // FLOOR division, not Spark's truncate-toward-zero `div`:
          // DuckDB `//` floors, and the two disagree on negative
          // sums (value < 0 is legal in events). (x − pmod(x, n)) is
          // the exact floor multiple (pmod ≥ 0), so the subsequent
          // `div` is exact on both engines for either sign.
          .select(col("b"), col("n_b"), col("sum_cents"),
            expr("(sum_cents - pmod(sum_cents, n_b)) div n_b")
              .as("mean_cents"))
          .orderBy("b")
      },
      Some("""WITH r AS (
  SELECT e.event_id,
    CAST(floor(e.value * 100 + 0.5) AS BIGINT) AS cents, s.b
  FROM events e, (SELECT unnest(generate_series(0, 15)) AS b) s),
w AS (
  SELECT b, cents,
    CASE
      WHEN h < 1580030168 THEN 0 WHEN h < 3160060337 THEN 1
      WHEN h < 3950075421 THEN 2 WHEN h < 4213413783 THEN 3
      ELSE 4 END AS w
  FROM (SELECT *, CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)
    || ':' || CAST(b AS VARCHAR)), 1, 8)) AS BIGINT) AS h FROM r))
SELECT CAST(b AS INT) AS b, CAST(sum(w) AS BIGINT) AS n_b,
  CAST(sum(w * cents) AS BIGINT) AS sum_cents,
  CAST(sum(w * cents) AS BIGINT) // CAST(sum(w) AS BIGINT)
    AS mean_cents
FROM w GROUP BY b ORDER BY b""")),
    // Sequential-pattern support (the PrefixSpan L2 census): for every
    // ordered type pair (a, b), the number of users with SOME a-event
    // strictly before SOME b-event — ∃ t_a < t_b ⟺ min(ts | a) <
    // max(ts | b), so the whole mining reduces to ONE (user, type)
    // aggregation (map-side combined), a per-user self-join over the
    // type-bounded per-user rows (fan-out ≤ |types|², a constant — the
    // q_itemsets basket-local rule), and a final bounded-group count.
    // Distinct from q_transition_matrix (ADJACENT pairs): gap-allowed
    // precedence is what funnel/sequence miners actually support on.
    // Ties in ts do not count as precedence (strict <, spec-pinned).
    Entry("q_seq_patterns",
      (s, d) => {
        val ut = Tables.read(s, d, "events")
          .groupBy(col("user_id"), col("event_type"))
          .agg(min(col("ts")).as("t_min"), max(col("ts")).as("t_max"))
        ut.as("a").join(ut.as("b"),
            col("a.user_id") === col("b.user_id") &&
              col("a.event_type") =!= col("b.event_type") &&
              col("a.t_min") < col("b.t_max"))
          .groupBy(col("a.event_type").as("type_a"),
            col("b.event_type").as("type_b"))
          .agg(count(lit(1)).as("support"))
          .orderBy("type_a", "type_b")
      },
      Some("""WITH ut AS (
  SELECT user_id, event_type, min(ts) AS t_min, max(ts) AS t_max
  FROM events GROUP BY 1, 2)
SELECT a.event_type AS type_a, b.event_type AS type_b,
  count(*) AS support
FROM ut a JOIN ut b ON a.user_id = b.user_id
  AND a.event_type <> b.event_type AND a.t_min < b.t_max
GROUP BY 1, 2 ORDER BY type_a, type_b""")),
    // Hourly OHLC candles over the event value stream — the time-series
    // rollup every market/metrics pipeline runs. Values in exact
    // integer cents (the target-encode convention); open/close are
    // selected by row_number over the TOTAL per-hour order
    // (ts, event_id) — windows partition by hour (never global), and
    // the candle aggregation is one partial-agg shuffle of hour-keyed
    // rows. 100 TB shape: hours × cheap rows; no joins, no skew
    // (hour cardinality grows with time span, per-group size with
    // rate — both bounded for any real feed).
    Entry("q_ohlc",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val cents = floor(col("value") * 100 + 0.5).cast("long")
        val base = Tables.read(s, d, "events")
          .select(date_trunc("hour", col("ts")).as("hour"),
            col("ts"), col("event_id"), cents.as("cents"))
        val wA = Window.partitionBy("hour").orderBy(col("ts"), col("event_id"))
        val wD = Window.partitionBy("hour")
          .orderBy(col("ts").desc, col("event_id").desc)
        base
          .withColumn("rn_a", row_number().over(wA))
          .withColumn("rn_d", row_number().over(wD))
          .groupBy(col("hour"))
          .agg(max(when(col("rn_a") === 1, col("cents"))).as("open"),
            max(col("cents")).as("high"), min(col("cents")).as("low"),
            max(when(col("rn_d") === 1, col("cents"))).as("close"),
            count(lit(1)).as("n_events"), sum(col("cents")).as("volume"))
          .orderBy("hour")
      },
      Some("""WITH base AS (
  SELECT date_trunc('hour', ts) AS hour, ts, event_id,
    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events),
rn AS (
  SELECT hour, cents,
    row_number() OVER (PARTITION BY hour ORDER BY ts, event_id) AS rn_a,
    row_number() OVER (PARTITION BY hour ORDER BY ts DESC, event_id DESC)
      AS rn_d
  FROM base)
SELECT hour, max(CASE WHEN rn_a = 1 THEN cents END) AS open,
  max(cents) AS high, min(cents) AS low,
  max(CASE WHEN rn_d = 1 THEN cents END) AS close,
  count(*) AS n_events, CAST(sum(cents) AS BIGINT) AS volume
FROM rn GROUP BY hour ORDER BY hour""")),
    // Per-entity behavioral-concentration census (the Gini/Herfindahl
    // diversity monitor a training pipeline runs per user/source):
    // concentration = Σc_i²/n² over each user's event-type counts,
    // held as the EXACT INTEGER percentage (100·Σc²) div n² — Gini
    // impurity is 1 − that ratio, derived by the consumer. Two
    // map-side-combined shuffles ((user, type) counts, then per-user
    // moments) and a bounded-group histogram; no window, no join.
    // Envelope: 100·Σc² ≤ 100·n² < 2⁶³ needs n < 3e8 events per user.
    Entry("q_concentration",
      (s, d) => {
        val ut = Tables.read(s, d, "events")
          .groupBy(col("user_id"), col("event_type"))
          .agg(count(lit(1)).as("c"))
        ut.groupBy(col("user_id"))
          .agg(sum(col("c")).as("n"),
            sum(col("c") * col("c")).as("s2"))
          .select(expr("(100 * s2) div (n * n)").as("conc_pct"))
          .groupBy(col("conc_pct"))
          .agg(count(lit(1)).as("n_users"))
          .orderBy("conc_pct")
      },
      Some("""WITH ut AS (
  SELECT user_id, event_type, count(*) AS c FROM events GROUP BY 1, 2),
m AS (
  SELECT user_id, CAST(sum(c) AS BIGINT) AS n,
    CAST(sum(c * c) AS BIGINT) AS s2
  FROM ut GROUP BY user_id)
SELECT (100 * s2) // (n * n) AS conc_pct, count(*) AS n_users
FROM m GROUP BY 1 ORDER BY conc_pct""")),
    // Weekly churn/retention ledger — the engagement primitive beside
    // q_cohort_retention's cohort view: for every observed week, how
    // many active users are new, retained from the previous week, or
    // churned out of it. ONE distinct (user, week) frame self-joined
    // FULL OUTER on the equi key (user, week = prev_week + 7d) — the
    // shifted-key trick keeps the outer join hash-partitioned (no
    // inequality condition) — then one bounded-group count per week.
    // Weeks outside the observed range (the phantom week after the
    // last) are dropped by the semi-join against the observed week set.
    Entry("q_weekly_churn",
      (s, d) => {
        val uw = Tables.read(s, d, "events")
          .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
          .distinct()
        val prev = uw.select(col("user_id").as("p_user"),
          (col("wk") + expr("INTERVAL 7 DAYS")).as("p_wk"))
        val j = uw.join(prev,
          col("user_id") === col("p_user") && col("wk") === col("p_wk"),
          "full_outer")
        val weeks = uw.select(col("wk").as("ow")).distinct()
        j.select(coalesce(col("wk"), col("p_wk")).as("wk"),
            col("user_id"), col("p_user"))
          .join(weeks, col("wk") === col("ow"), "left_semi")
          .groupBy(col("wk"))
          .agg(sum(when(col("user_id").isNotNull, 1L).otherwise(0L))
              .as("active"),
            sum(when(col("user_id").isNotNull && col("p_user").isNull, 1L)
              .otherwise(0L)).as("new_users"),
            sum(when(col("user_id").isNotNull && col("p_user").isNotNull,
              1L).otherwise(0L)).as("retained"),
            sum(when(col("user_id").isNull, 1L).otherwise(0L))
              .as("churned"))
          .orderBy("wk")
      },
      Some("""WITH uw AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events),
prev AS (
  SELECT user_id AS p_user, wk + INTERVAL 7 DAY AS p_wk FROM uw),
j AS (
  SELECT coalesce(uw.wk, prev.p_wk) AS wk, uw.user_id, prev.p_user
  FROM uw FULL OUTER JOIN prev
    ON uw.user_id = prev.p_user AND uw.wk = prev.p_wk)
SELECT wk,
  CAST(sum(CASE WHEN user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS active,
  CAST(sum(CASE WHEN user_id IS NOT NULL AND p_user IS NULL
    THEN 1 ELSE 0 END) AS BIGINT) AS new_users,
  CAST(sum(CASE WHEN user_id IS NOT NULL AND p_user IS NOT NULL
    THEN 1 ELSE 0 END) AS BIGINT) AS retained,
  CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS churned
FROM j WHERE wk IN (SELECT wk FROM uw)
GROUP BY wk ORDER BY wk""")),
    // Stratified-sampling budget apportionment (Hamilton largest-
    // remainder over per-stratum population) — the allocator that
    // turns "sample 1000 rows across strata" into exact per-stratum
    // quotas: base_h = (B·N_h) div N plus one extra for the largest
    // remainders until the budget is exact. ALL integer (quota·N
    // arithmetic, no float shares); ties break on (remainder desc,
    // stratum asc) — fully deterministic, and Σ alloc = B is an
    // invariant the artifact exposes. Stratum frame is bounded
    // (groups), so the ranking window is metadata-sized.
    Entry("q_sample_alloc",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val b = 1000L
        val strata = Tables.read(s, d, "orders")
          .groupBy(col("o_orderpriority").as("stratum"))
          .agg(count(lit(1)).as("n_h"))
        val tot = strata.agg(sum(col("n_h")).as("n"))
        val q = strata.crossJoin(broadcast(tot))
          .withColumn("base", expr(s"($b * n_h) div n"))
          .withColumn("rem", expr(s"($b * n_h) % n"))
        val wR = Window.orderBy(col("rem").desc, col("stratum"))
        val wAll = Window.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)
        q.withColumn("leftover", lit(b) - sum(col("base")).over(wAll))
          .withColumn("rk", row_number().over(wR))
          .select(col("stratum"), col("n_h"), col("base"), col("rem"),
            (col("base") + when(col("rk") <= col("leftover"), 1L)
              .otherwise(0L)).as("alloc"))
          .orderBy("stratum")
      },
      Some("""WITH strata AS (
  SELECT o_orderpriority AS stratum, count(*) AS n_h
  FROM orders GROUP BY 1),
tot AS (SELECT CAST(sum(n_h) AS BIGINT) AS n FROM strata),
q AS (
  SELECT stratum, n_h, (1000 * n_h) // n AS base, (1000 * n_h) % n AS rem
  FROM strata CROSS JOIN tot),
r AS (
  SELECT stratum, n_h, base, rem,
    1000 - CAST(sum(base) OVER () AS BIGINT) AS leftover,
    row_number() OVER (ORDER BY rem DESC, stratum) AS rk
  FROM q)
SELECT stratum, CAST(n_h AS BIGINT) AS n_h, CAST(base AS BIGINT) AS base,
  CAST(rem AS BIGINT) AS rem,
  CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
    AS alloc
FROM r ORDER BY stratum"""))
  )

  /** The validated roster. lazy so the duplicate-name guard runs once,
    * and EVERY consumer (queries, oracleSql, Bench, Verify) trips it —
    * a duplicate name silently shadows an entry in any toMap (later
    * wins), so the shadowed query would never run yet look "covered". */
  lazy val all: Seq[Entry] = {
    val entries = estimatorEntries ++ dictionaryEntries ++ aggEntries ++
      docEntries ++ embeddingEntries ++ neuralEntries ++ statsEntries
    val dups = entries.groupBy(_.name).filter(_._2.size > 1).keys
    require(dups.isEmpty, s"duplicate catalog entry names: ${dups.mkString(", ")}")
    entries
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(e => e.name -> e.fn).toMap

  def oracleSql: Map[String, String] = {
    val m = all.flatMap(e => e.oracle.map(e.name -> _)).toMap
    m.foreach { case (k, v) =>
      require(v != null, s"null oracle SQL for $k (val init order?)")
    }
    m
  }

    // ---- Shared driver for the selectivity-reorder capstones ----
    // (q_join_reorder_selectivity, q_join_reorder_aqe): both runs share
    // ONE catalog and ONE stats rule; only lineitem's filter band
    // differs, so Catalyst's DP reorder flips purely on the learned
    // conditional estimate. aqeOn=true is the production posture.
    /** GRAFT_RELIABLE_ITERATE audit knob, shared by EVERY Iterate-
      * routed catalog path (k-core, PageRank, BFS, both connected-
      * components strategies and their shared cc cache): returns the reliable-
      * checkpoint cadence (0 = the fast local default) and, when
      * enabled, resolves the checkpoint dir. The tmpdir default
      * applies ONLY under a local master (ADVICE r13 #2): on a real
      * cluster java.io.tmpdir is executor-local — a reliable
      * checkpoint written there is unreadable across executors, and
      * silently defaulting would mask the exact misconfiguration
      * Iterate.trunc's require() exists to catch. Non-local masters
      * must set GRAFT_CHECKPOINT_DIR (or call setCheckpointDir with a
      * durable shared path) explicitly. */
    private def reliableIterateRounds(s: SparkSession): Int = {
      val reliableEvery = sys.env.get("GRAFT_RELIABLE_ITERATE")
        .map(_.trim.toInt).getOrElse(0)
      if (reliableEvery > 0 && s.sparkContext.getCheckpointDir.isEmpty)
        sys.env.get("GRAFT_CHECKPOINT_DIR") match {
          case Some(dir) => s.sparkContext.setCheckpointDir(dir)
          case None if s.sparkContext.isLocal =>
            s.sparkContext.setCheckpointDir(
              System.getProperty("java.io.tmpdir") + "/graft_reliable_ckpt")
          case None => // fall through to Iterate.trunc's require()
        }
      reliableEvery
    }

    /** GRAFT_ITERATE_SER=1 routes LOCAL Iterate rounds through
      * serialized MEMORY_AND_DISK_SER blocks instead of Spark's
      * deserialized default — the second lever against the measured
      * big-state failure mode (PLANS r14: k-core's ~4.9 GB retained
      * deserialized rounds collide with the storage pool and the entry
      * goes bimodal, 1.5-2.7x). Serialized row blocks are several-fold
      * smaller at per-round serde cost; wired into the same big-state
      * graph entries as the reliable knob so the two postures can be
      * A/B-measured with one env flip each. */
    private def iterateStorageLevel
        : Option[org.apache.spark.storage.StorageLevel] =
      if (sys.env.get("GRAFT_ITERATE_SER").exists(_.trim == "1"))
        Some(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      else None

    private def joinReorderBySelectivity(s: SparkSession, d: String,
        aqeOn: Boolean): DataFrame = {
        import s.implicits._
        import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
        val (model, meta) = lineitemModel(s, d)
        val ps = new ProgressiveSampling(model, meta, numSamples = 1000,
          shortcircuit = true)
        graft.plans.EstimatedStatsRule.attachReorderIfMissing(s)
        val savedRegistry = graft.plans.GraftRuntime.snapshot()
        val savedEnabled =
          s.conf.getOption(graft.plans.EstimatedStatsRule.EnabledKey)
        val savedAqe = s.conf.get("spark.sql.adaptive.enabled")
        val savedCbo = s.conf.get("spark.sql.cbo.enabled")
        val savedReord = s.conf.get("spark.sql.cbo.joinReorder.enabled")
        val nOrders = Tables.read(s, d, "orders").count()
        val nCust = Tables.read(s, d, "customer").count()
        graft.plans.GraftRuntime.register(s"$d/lineitem.parquet",
          modelCols.toSet ++ Set("l_orderkey"),
          preds => ps.query(preds.filter(p => modelCols.contains(p.col))))
        graft.plans.GraftRuntime.register(s"$d/orders.parquet",
          Set("o_custkey"), _ => nOrders)
        graft.plans.GraftRuntime.register(s"$d/customer.parquet",
          Set("c_custkey"), _ => nCust)
        def joined(narrow: Boolean) = {
          val c = Tables.read(s, d, "customer")
            .filter(col("c_custkey") >= 0L)
            .select(col("c_custkey"), col("c_mktsegment"))
          val o = Tables.read(s, d, "orders")
            .filter(col("o_custkey") >= 0L)
            .select(col("o_orderkey"), col("o_custkey"))
          val liF = s.read.parquet(s"$d/lineitem.parquet")
            .filter(if (narrow)
              col("l_quantity") <= 1.0 && col("l_discount") <= 0.0 &&
                col("l_returnflag") === "R"
            else col("l_quantity") <= 50.0)
            .select(col("l_orderkey"), col("l_quantity"))
          c.join(o, c("c_custkey") === o("o_custkey"))
            .join(liF, o("o_orderkey") === liF("l_orderkey"))
            .agg(count(lit(1)).as("n_rows"),
              sum(col("l_quantity")).cast("long").as("qty_sum"))
        }
        def innermost(df: org.apache.spark.sql.DataFrame): String = {
          val joins = df.queryExecution.optimizedPlan
            .collect { case j: LJoin => j }
          val inner = joins.find(_.children.forall(
            _.collect { case jj: LJoin => jj }.isEmpty))
          val attrs = inner.map(_.output.map(_.name).toSet)
            .getOrElse(Set.empty)
          if (attrs.exists(_.startsWith("l_"))) "lineitem_first"
          else if (attrs.contains("c_custkey")) "customer_first"
          else "unknown"
        }
        try {
          s.conf.set("spark.sql.adaptive.enabled", aqeOn.toString)
          s.conf.set("spark.sql.cbo.enabled", "true")
          s.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
          s.conf.set(graft.plans.EstimatedStatsRule.EnabledKey, "true")
          val wide = joined(narrow = false)
          val wideOrder = innermost(wide)
          val Array(wideRow) = wide.collect()
          val nar = joined(narrow = true)
          val narOrder = innermost(nar)
          val Array(narRow) = nar.collect()
          // Production-posture pin (r12 ask #7): when AQE is on, both
          // queries must have actually gone through adaptive execution
          // (isFinalPlan=true) with the estimator-decided logical order
          // still in force — AQE replans join STRATEGY and partition
          // counts from observed stage sizes (where runtime truth
          // rightly supersedes estimates) but never re-runs
          // CostBasedJoinReorder, so the ORDER survives.
          if (aqeOn) Seq("wide" -> wide, "narrow" -> nar).foreach {
            case (tag, df) => require(
              df.queryExecution.executedPlan.toString
                .contains("isFinalPlan=true"),
              s"$tag query did not finish adaptive execution")
          }
          require(wideOrder == "customer_first" &&
              narOrder == "lineitem_first",
            "predicate selectivity did not decide the join order: " +
              s"wide=$wideOrder narrow=$narOrder (same catalog, same " +
              "stats rule, only the lineitem band differs)")
          Seq(
            ("narrow_band", narOrder, narRow.getLong(0),
              narRow.getLong(1)),
            ("wide_band", wideOrder, wideRow.getLong(0),
              wideRow.getLong(1)))
            .toDF("mode", "inner_join", "n_rows", "qty_sum")
            .orderBy("mode")
        } finally {
          savedEnabled match {
            case Some(v) =>
              s.conf.set(graft.plans.EstimatedStatsRule.EnabledKey, v)
            case None =>
              s.conf.unset(graft.plans.EstimatedStatsRule.EnabledKey)
          }
          s.conf.set("spark.sql.adaptive.enabled", savedAqe)
          s.conf.set("spark.sql.cbo.enabled", savedCbo)
          s.conf.set("spark.sql.cbo.joinReorder.enabled", savedReord)
          graft.plans.GraftRuntime.restore(savedRegistry)
        }
    }

    /** Shared driver for q_join_reorder_ndv: the NDV cell of the
      * optimizer-integration matrix (VERDICT r14 ask #5). Row counts
      * steer broadcast decisions and selectivity-driven reorders
      * (q_join_reorder_selectivity); what they CANNOT rank is join
      * FANOUT — Catalyst's JoinEstimation computes an equi-join's
      * cardinality as rows_l x rows_r / max(ndv_l, ndv_r), and without
      * per-column distinct counts on BOTH key sides every candidate in
      * CostBasedJoinReorder's DP search is costed at the cartesian
      * product. The demo: lineitem joins a 100-row supplier dim on a
      * 100-value key (fanout |L|/100 — intermediate = ALL of lineitem)
      * and a 10%-band of orders on the near-unique orderkey
      * (intermediate = 10% of lineitem). Cartesian costing ranks
      * supplier first (60k x 100 << 60k x 1500) — the wrong order by
      * 10x of true intermediate rows, require()-measured in-entry.
      * Injecting the learned NDVs — predicated keys as the domain mass
      * surviving the filter (the position-mask true-count, exactly the
      * r15 IN/IS NULL machinery), unpredicated keys bounded by
      * min(domain size, estimated rows) — flips the DP to orders
      * first. Both orders pinned; both runs' answers reduced to the
      * same integer aggregates and hash-gated against DuckDB.
      */
    private def joinReorderByNdv(s: SparkSession, d: String): DataFrame = {
        import s.implicits._
        import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
        val (model, meta) = lineitemModel(s, d)
        val ps = new ProgressiveSampling(model, meta, numSamples = 1000,
          shortcircuit = true)
        graft.plans.EstimatedStatsRule.attachReorderIfMissing(s)
        val savedRegistry = graft.plans.GraftRuntime.snapshot()
        val savedEnabled =
          s.conf.getOption(graft.plans.EstimatedStatsRule.EnabledKey)
        val savedAqe = s.conf.get("spark.sql.adaptive.enabled")
        val savedCbo = s.conf.get("spark.sql.cbo.enabled")
        val savedReord = s.conf.get("spark.sql.cbo.joinReorder.enabled")
        // Dictionaries for the join keys — the reference's own domain
        // structure; NDV-under-filter is the mask true-count.
        val liOk = cachedColumnMeta(s"$d/lineitem.parquet",
          s.read.parquet(s"$d/lineitem.parquet"), "l_orderkey")
        val liSk = cachedColumnMeta(s"$d/lineitem.parquet",
          s.read.parquet(s"$d/lineitem.parquet"), "l_suppkey")
        val oOk = cachedColumnMeta(s"$d/orders.parquet",
          Tables.read(s, d, "orders"), "o_orderkey")
        val sSk = cachedColumnMeta(s"$d/supplier.parquet",
          s.read.parquet(s"$d/supplier.parquet"), "s_suppkey")
        // o_orderkey scales 0..N-1 with the SF: the 10% band is derived
        // from the data, not a constant (the derived-dir lesson). r21:
        // the max is the sorted dictionary's last non-null value — the
        // former per-call agg(max) job re-computed what the cached
        // domain already holds (max() ignores nulls; so does
        // nonNullDomain).
        val maxOk = oOk.nonNullDomain.last.asInstanceOf[Long]
        val okCut = maxOk / 10
        def maskNdv(m: graft.core.ColumnMeta, preds: Seq[Pred]): Long = {
          val mine = preds.filter(_.col == m.name)
          if (mine.isEmpty) m.nonNullDomain.length.toLong
          else {
            val masks = mine.map(_.domainMask(m))
            m.domain.indices.count(j => masks.forall(_(j))).toLong
          }
        }
        // The full KeyStat from the dictionary (r16): null count from
        // the null slot (a key whose domain has no slot 0 provably has
        // zero nulls; a null-bearing unpredicated key stays None and
        // Catalyst falls back rather than overstate matchable rows),
        // min/max from the sorted domain's ends (unconditioned bounds
        // are sound — and REQUIRED: a min/max-less numeric ColumnStat
        // reads as the empty value interval and turns every join
        // estimate into 0 rows, which the JoinReorderSpec NDV case
        // caught on this entry's first wiring).
        def ks(m: graft.core.ColumnMeta,
            ndv: Long): graft.plans.GraftRuntime.KeyStat =
          graft.plans.GraftRuntime.KeyStat(ndv,
            nullCount = if (m.hasNull) None else Some(0L),
            min = m.nonNullDomain.headOption,
            max = m.nonNullDomain.lastOption)
        def reg(injectNdv: Boolean): Unit = {
          graft.plans.GraftRuntime.restore(savedRegistry)
          val liEst: Seq[Pred] => Long =
            preds => ps.query(preds.filter(p => modelCols.contains(p.col)))
          graft.plans.GraftRuntime.register(s"$d/lineitem.parquet",
            modelCols.toSet ++ Set("l_orderkey", "l_suppkey"),
            liEst,
            keyStats = (c, preds) =>
              if (!injectNdv) None
              else if (c == "l_orderkey")
                Some(ks(liOk,
                  math.min(liOk.nonNullDomain.length.toLong, liEst(preds))))
              else if (c == "l_suppkey")
                Some(ks(liSk,
                  math.min(liSk.nonNullDomain.length.toLong, liEst(preds))))
              else None)
          graft.plans.GraftRuntime.register(s"$d/orders.parquet",
            Set("o_orderkey"),
            preds => maskNdv(oOk, preds), keyStats = // near-unique key: rows = mass
            (c, preds) =>
              if (injectNdv && c == "o_orderkey")
                Some(ks(oOk, maskNdv(oOk, preds)))
              else None)
          graft.plans.GraftRuntime.register(s"$d/supplier.parquet",
            Set("s_suppkey"),
            preds => maskNdv(sSk, preds),
            keyStats = (c, preds) =>
              if (injectNdv && c == "s_suppkey")
                Some(ks(sSk, maskNdv(sSk, preds)))
              else None)
        }
        def joined() = {
          val liF = s.read.parquet(s"$d/lineitem.parquet")
            .filter(col("l_quantity") <= 50.0)
            .select(col("l_orderkey"), col("l_suppkey"), col("l_quantity"))
          val oF = Tables.read(s, d, "orders")
            .filter(col("o_orderkey") < okCut)
            .select(col("o_orderkey"), col("o_custkey"))
          val sF = s.read.parquet(s"$d/supplier.parquet")
            .filter(col("s_suppkey") >= 0L)
            .select(col("s_suppkey"), col("s_nationkey"))
          // WRITTEN orders-first; the control run must actively flip it.
          liF.join(oF, liF("l_orderkey") === oF("o_orderkey"))
            .join(sF, liF("l_suppkey") === sF("s_suppkey"))
            .agg(count(lit(1)).as("n_rows"),
              sum(col("l_quantity")).cast("long").as("qty_sum"),
              sum(pmod(col("o_custkey") + col("s_nationkey"), lit(1000003L)))
                .cast("long").as("key_sum"))
        }
        def firstJoin(df: org.apache.spark.sql.DataFrame): String = {
          val joins = df.queryExecution.optimizedPlan
            .collect { case j: LJoin => j }
          val inner = joins.find(_.children.forall(
            _.collect { case jj: LJoin => jj }.isEmpty))
          val attrs = inner.map(_.output.map(_.name).toSet)
            .getOrElse(Set.empty)
          if (attrs.contains("s_suppkey")) "supplier_first"
          else if (attrs.contains("o_orderkey")) "orders_first"
          else "unknown"
        }
        try {
          s.conf.set("spark.sql.adaptive.enabled", "false")
          s.conf.set("spark.sql.cbo.enabled", "true")
          s.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
          s.conf.set(graft.plans.EstimatedStatsRule.EnabledKey, "true")
          // Ground truth, measured in-entry: the control's choice is
          // wrong by ~10x of true intermediate rows.
          val li = s.read.parquet(s"$d/lineitem.parquet")
          val trueLS = li.join(
            s.read.parquet(s"$d/supplier.parquet"),
            li("l_suppkey") === col("s_suppkey")).count()
          val trueLO = li.join(
            Tables.read(s, d, "orders").filter(col("o_orderkey") < okCut),
            li("l_orderkey") === col("o_orderkey")).count()
          require(trueLO * 5 < trueLS,
            s"demo premise broke: true L JOIN O_band = $trueLO vs " +
              s"L JOIN S = $trueLS — want a ~10x gap")
          reg(injectNdv = false)
          val control = joined()
          val controlOrder = firstJoin(control)
          val Array(controlRow) = control.collect()
          reg(injectNdv = true)
          val ndv = joined()
          val ndvOrder = firstJoin(ndv)
          val Array(ndvRow) = ndv.collect()
          require(controlOrder == "supplier_first",
            "control (row counts only) was expected to cost every " +
              "candidate at the cartesian product and pick the small " +
              s"dim first; got $controlOrder")
          require(ndvOrder == "orders_first",
            "learned NDVs did not correct the join order: " +
              s"got $ndvOrder (control picked $controlOrder)")
          require(controlRow.toSeq == ndvRow.toSeq,
            "join order changed the ANSWER — broken join: " +
              s"control=$controlRow ndv=$ndvRow")
          Seq(
            ("ndv_injected", ndvOrder, ndvRow.getLong(0),
              ndvRow.getLong(1), ndvRow.getLong(2)),
            ("rowcount_only", controlOrder, controlRow.getLong(0),
              controlRow.getLong(1), controlRow.getLong(2)))
            .toDF("mode", "first_join", "n_rows", "qty_sum", "key_sum")
            .orderBy("mode")
        } finally {
          savedEnabled match {
            case Some(v) =>
              s.conf.set(graft.plans.EstimatedStatsRule.EnabledKey, v)
            case None =>
              s.conf.unset(graft.plans.EstimatedStatsRule.EnabledKey)
          }
          s.conf.set("spark.sql.adaptive.enabled", savedAqe)
          s.conf.set("spark.sql.cbo.enabled", savedCbo)
          s.conf.set("spark.sql.cbo.joinReorder.enabled", savedReord)
          graft.plans.GraftRuntime.restore(savedRegistry)
        }
    }
}
