package graft.plans

import graft.query.{Op, Pred}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The approximate-count optimizer rule: COUNT(*) WHERE <conj> over a
  * registered table is answered by the estimator when enabled, exactly
  * otherwise; unsupported shapes always fall through to the scan.
  */
class GraftExtensionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val dir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(s"$dir/lineitem.parquet")
      .createOrReplaceTempView("lineitem")
  }

  override def afterAll(): Unit = {
    GraftRuntime.clear()
    if (spark != null) spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private val sql =
    "SELECT count(*) FROM lineitem WHERE l_quantity <= 24.0 AND l_returnflag = 'R'"

  test("attachIfMissing detects the injected rule via the session marker") {
    // This session was built withExtensions: after any optimization the
    // injection builder has set the marker, so attachIfMissing must NOT
    // add a second (extraOptimizations) instance.
    spark.sql("SELECT 1").collect() // force optimizer construction
    assert(spark.conf.getOption(GraftRuntime.AttachedKey).contains("true"))
    val before = spark.experimental.extraOptimizations.length
    ApproxCountRule.attachIfMissing(spark)
    assert(spark.experimental.extraOptimizations.length == before,
      "attachIfMissing added a duplicate rule to a withExtensions session")
  }

  test("disabled: the exact count runs") {
    GraftRuntime.clear()
    spark.conf.set(GraftRuntime.EnabledKey, "false")
    val exact = spark.sql(sql).collect()(0).getLong(0)
    assert(exact > 0)
  }

  test("enabled: the registered estimator answers without a scan") {
    GraftRuntime.clear()
    var seen: Seq[Pred] = Nil
    GraftRuntime.register("lineitem.parquet",
      Set("l_quantity", "l_returnflag"),
      preds => { seen = preds; 424242L })
    spark.conf.set(GraftRuntime.EnabledKey, "true")
    val df = spark.sql(sql)
    val got = df.collect()(0).getLong(0)
    assert(got == 424242L)
    assert(seen.toSet == Set(
      Pred("l_quantity", Op.Leq, java.math.BigDecimal.valueOf(24.0).setScale(1)),
      Pred("l_returnflag", Op.Eq, "R")) ||
      seen.map(_.col).toSet == Set("l_quantity", "l_returnflag"))
    // The optimized plan must be the injected LocalRelation — no scan,
    // no filter, no aggregate.
    val planText = df.queryExecution.optimizedPlan.toString
    assert(planText.trim.startsWith("LocalRelation"), planText)
    assert(!planText.contains("Filter") && !planText.contains("parquet"),
      planText)
  }

  test("unmodeled column falls through to the exact scan") {
    GraftRuntime.clear()
    GraftRuntime.register("lineitem.parquet", Set("l_quantity"),
      _ => 13L)
    spark.conf.set(GraftRuntime.EnabledKey, "true")
    val got = spark.sql(sql).collect()(0).getLong(0)
    assert(got != 13L) // l_returnflag is not modeled -> no rewrite
  }

  test("extended vocabulary reaches the estimator: IN, InSet, NOT IN, !=, null tests") {
    GraftRuntime.clear()
    var seen: Seq[Pred] = Nil
    GraftRuntime.register("lineitem.parquet",
      Set("l_quantity", "l_returnflag", "l_linestatus", "l_tax"),
      preds => { seen = preds; 777L })
    spark.conf.set(GraftRuntime.EnabledKey, "true")

    def run(where: String): Seq[Pred] = {
      seen = Nil
      val got = spark.sql(
        s"SELECT count(*) FROM lineitem WHERE $where").collect()(0).getLong(0)
      assert(got == 777L, s"rewrite did not fire on: $where")
      seen
    }

    // IN stays In below the InSet threshold; analysis has cast the
    // literals to the column type already
    val pIn = run("l_returnflag IN ('A', 'R')")
    assert(pIn.exists(p => p.op == Op.In &&
      p.value.asInstanceOf[Seq[Any]].toSet == Set("A", "R")))
    // 11 literals force OptimizeIn's InSet conversion before the rule
    val pInSet = run(
      "l_quantity IN (1.0,2.0,3.0,4.0,5.0,6.0,7.0,8.0,9.0,10.0,11.0)")
    assert(pInSet.exists(p => p.op == Op.In &&
      p.value.asInstanceOf[Seq[Any]].size == 11))
    // NOT IN -> complement mask
    val pNotIn = run("l_returnflag NOT IN ('A', 'R')")
    assert(pNotIn.exists(_.op == Op.NotIn))
    // != is Not(EqualTo) -> single-literal NOT IN
    val pNeq = run("l_linestatus != 'O'")
    assert(pNeq.exists(p => p.op == Op.NotIn &&
      p.value.asInstanceOf[Seq[Any]].size == 1))
    // standalone null tests
    assert(run("l_tax IS NULL").exists(_.op == Op.IsNull))
    assert(run("l_tax IS NOT NULL").exists(_.op == Op.NotNull))
    spark.conf.set(GraftRuntime.EnabledKey, "false")
    GraftRuntime.clear()
  }

  test("extended-vocabulary rewrite is lossless with an exact estimator") {
    GraftRuntime.clear()
    spark.conf.set(GraftRuntime.EnabledKey, "false")
    val where = "l_returnflag IN ('A', 'R') AND l_quantity NOT IN " +
      "(1.0, 50.0) AND l_linestatus != 'F' AND l_tax IS NOT NULL"
    val q = s"SELECT count(*) FROM lineitem WHERE $where"
    val exact = spark.sql(q).collect()(0).getLong(0)
    assert(exact > 0)
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    GraftRuntime.register("lineitem.parquet",
      Set("l_quantity", "l_returnflag", "l_linestatus", "l_tax"),
      preds => li.filter(Pred.conj(preds)).count())
    spark.conf.set(GraftRuntime.EnabledKey, "true")
    val df = spark.sql(q)
    assert(df.collect()(0).getLong(0) == exact)
    assert(df.queryExecution.optimizedPlan.toString.trim
      .startsWith("LocalRelation"))
    spark.conf.set(GraftRuntime.EnabledKey, "false")
    GraftRuntime.clear()
  }

  test("NOT IN with a NULL literal falls through (never-true is not a mask)") {
    GraftRuntime.clear()
    GraftRuntime.register("lineitem.parquet",
      Set("l_quantity", "l_returnflag"), _ => 13L)
    spark.conf.set(GraftRuntime.EnabledKey, "true")
    val got = spark.sql("SELECT count(*) FROM lineitem WHERE " +
      "l_returnflag NOT IN ('A', NULL)").collect()(0).getLong(0)
    assert(got != 13L) // three-valued logic: must not rewrite
    assert(got == 0L)  // and SQL says the count is zero
    spark.conf.set(GraftRuntime.EnabledKey, "false")
    GraftRuntime.clear()
  }

  test("GROUP BY rewrite answers per-group counts from domain probes") {
    GraftRuntime.clear()
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val q = "SELECT l_returnflag AS grp, count(*) AS n FROM lineitem " +
      "WHERE l_quantity <= 10.0 GROUP BY l_returnflag"
    spark.conf.set(GraftRuntime.EnabledKey, "false")
    val exact = spark.sql(q).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val domain = graft.core.Dictionary
      .columnMeta(li.select("l_returnflag"), "l_returnflag").domain.toSeq
    GraftRuntime.register("lineitem.parquet",
      Set("l_quantity", "l_returnflag"),
      preds => li.filter(Pred.conj(preds)).count(),
      domain = c => if (c == "l_returnflag") Some(domain) else None)
    spark.conf.set(GraftRuntime.EnabledKey, "true")
    val df = spark.sql(q)
    val plan = df.queryExecution.optimizedPlan.toString
    assert(!plan.contains("Aggregate") && plan.contains("LocalRelation"),
      plan)
    val got = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == exact)
    // bare (un-aliased) grouping column and no WHERE also rewrite
    val df2 = spark.sql(
      "SELECT l_returnflag, count(*) FROM lineitem GROUP BY l_returnflag")
    assert(df2.queryExecution.optimizedPlan.toString
      .contains("LocalRelation"))
    assert(df2.collect().length == exact.size)
    spark.conf.set(GraftRuntime.EnabledKey, "false")
    GraftRuntime.clear()
  }

  test("GROUP BY rewrite surfaces the null group via the IsNull probe") {
    GraftRuntime.clear()
    val s = spark
    import s.implicits._
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_gb_null").toString
    Seq(("a", 1L), ("a", 2L), (null, 3L), ("b", 4L), (null, 5L))
      .toDF("k", "v").write.mode("overwrite")
      .parquet(s"$tmp/grouped_nulls.parquet")
    val df = spark.read.parquet(s"$tmp/grouped_nulls.parquet")
    df.createOrReplaceTempView("grouped_nulls")
    val meta = graft.core.Dictionary.columnMeta(df.select("k"), "k")
    assert(meta.hasNull && meta.domain(0) == null)
    GraftRuntime.register("grouped_nulls.parquet",
      Set("k", "v"),
      preds => df.filter(Pred.conj(preds)).count(),
      domain = c => if (c == "k") Some(meta.domain.toSeq) else None)
    spark.conf.set(GraftRuntime.EnabledKey, "true")
    val out = spark.sql(
      "SELECT k, count(*) AS n FROM grouped_nulls GROUP BY k")
    assert(out.queryExecution.optimizedPlan.toString
      .contains("LocalRelation"))
    val got = out.collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == Map("a" -> 2L, "b" -> 1L, (null: String) -> 2L))
    spark.conf.set(GraftRuntime.EnabledKey, "false")
    GraftRuntime.clear()
  }

  test("count(c) and count(DISTINCT c) rewrite with null-ignoring semantics") {
    GraftRuntime.clear()
    val s = spark
    import s.implicits._
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_cnt_null").toString
    // k: 3 distinct non-null values, 2 null rows; DISTINCT must say 3
    // and count(k) must say 5 (nulls ignored in both).
    Seq(("a", 1L), ("a", 2L), (null, 3L), ("b", 4L), (null, 5L),
      ("c", 6L), ("b", 7L))
      .toDF("k", "v").write.mode("overwrite")
      .parquet(s"$tmp/cnt_nulls.parquet")
    val df = spark.read.parquet(s"$tmp/cnt_nulls.parquet")
    df.createOrReplaceTempView("cnt_nulls")
    val meta = graft.core.Dictionary.columnMeta(df.select("k"), "k")
    assert(meta.hasNull && meta.domain(0) == null)
    GraftRuntime.register("cnt_nulls.parquet",
      Set("k", "v"),
      preds => df.filter(Pred.conj(preds)).count(),
      domain = c => if (c == "k") Some(meta.domain.toSeq) else None)
    spark.conf.set(GraftRuntime.EnabledKey, "true")
    def run(q: String): Long = {
      val out = spark.sql(q)
      val plan = out.queryExecution.optimizedPlan.toString
      assert(plan.trim.startsWith("LocalRelation"), s"$q did not rewrite:\n$plan")
      out.collect()(0).getLong(0)
    }
    assert(run("SELECT count(k) FROM cnt_nulls") == 5L)
    assert(run("SELECT count(DISTINCT k) FROM cnt_nulls") == 3L)
    // under a WHERE: v >= 4 keeps (b,4),(null,5),(c,6),(b,7)
    assert(run("SELECT count(k) FROM cnt_nulls WHERE v >= 4") == 3L)
    assert(run(
      "SELECT count(DISTINCT k) FROM cnt_nulls WHERE v >= 4") == 2L)
    // count(DISTINCT) needs the domain: a registration without one
    // falls through to the exact plan
    GraftRuntime.clear()
    GraftRuntime.register("cnt_nulls.parquet", Set("k", "v"), _ => 13L)
    val noDom = spark.sql("SELECT count(DISTINCT k) FROM cnt_nulls")
    assert(!noDom.queryExecution.optimizedPlan.toString
      .trim.startsWith("LocalRelation"))
    assert(noDom.collect()(0).getLong(0) == 3L)
    // ...while plain count(k) still rewrites (one NotNull conjunct)
    assert(spark.sql("SELECT count(k) FROM cnt_nulls")
      .collect()(0).getLong(0) == 13L)
    // no-WHERE count(*) answers estimate(Nil) — the table cardinality
    // (r16 session 4 made the Filter optional)
    assert(spark.sql("SELECT count(*) FROM cnt_nulls")
      .collect()(0).getLong(0) == 13L)
    spark.conf.set(GraftRuntime.EnabledKey, "false")
    GraftRuntime.clear()
  }

  test("sum/avg/min/max rewrite: null-ignoring, DISTINCT, FILTER fold, empty->NULL") {
    GraftRuntime.clear()
    val s = spark
    import s.implicits._
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_vagg").toString
    // w: one null row; non-null values 2,4,6,2,8 (2 repeats for the
    // DISTINCT pin). v: long, never null.
    Seq(("a", Some(2.0), 1L), ("a", Some(4.0), 2L), ("b", None, 3L),
      ("b", Some(6.0), 4L), ("c", Some(2.0), 5L), (null, Some(8.0), 6L))
      .toDF("k", "w", "v").write.mode("overwrite")
      .parquet(s"$tmp/vagg.parquet")
    val df = spark.read.parquet(s"$tmp/vagg.parquet")
    df.createOrReplaceTempView("vagg")
    val wDom = graft.core.Dictionary.columnMeta(df.select("w"), "w")
      .domain.toSeq
    val vDom = graft.core.Dictionary.columnMeta(df.select("v"), "v")
      .domain.toSeq
    assert(wDom.head == null) // null slot first, ascending after
    GraftRuntime.register("vagg.parquet", Set("k", "w", "v"),
      preds => df.filter(Pred.conj(preds)).count(),
      domain = c => if (c == "w") Some(wDom)
           else if (c == "v") Some(vDom) else None)
    spark.conf.set(GraftRuntime.EnabledKey, "true")
    def run(q: String): org.apache.spark.sql.Row = {
      val out = spark.sql(q)
      val plan = out.queryExecution.optimizedPlan.toString
      assert(plan.trim.startsWith("LocalRelation"),
        s"$q did not rewrite:\n$plan")
      out.collect()(0)
    }
    assert(run("SELECT sum(w) FROM vagg").getDouble(0) == 22.0)
    assert(run("SELECT avg(w) FROM vagg").getDouble(0) == 4.4)
    assert(run("SELECT min(w) FROM vagg").getDouble(0) == 2.0)
    assert(run("SELECT max(w) FROM vagg").getDouble(0) == 8.0)
    assert(run("SELECT sum(DISTINCT w) FROM vagg").getDouble(0) == 20.0)
    assert(run("SELECT sum(w) FROM vagg WHERE v >= 3").getDouble(0) == 16.0)
    assert(run("SELECT sum(v) FROM vagg").getLong(0) == 21L)
    // empty support -> SQL NULL, still answered without a scan
    assert(run("SELECT sum(w) FROM vagg WHERE v >= 100").isNullAt(0))
    // FILTER clause folds into the conjunction — the UNFILTERED sum
    // over v >= 2 is 20.0; answering that here would be the silent-
    // ignore bug this pin exists to catch.
    assert(run("SELECT sum(w) FILTER (WHERE k = 'a') FROM vagg " +
      "WHERE v >= 2").getDouble(0) == 4.0)
    assert(run("SELECT count(*) FILTER (WHERE k = 'a') FROM vagg " +
      "WHERE v >= 1").getLong(0) == 2L)
    // a prefix LIKE in the FILTER clause is in the vocabulary since
    // r17 (Op.PrefixLike) — the clause folds and the rewrite fires
    assert(run("SELECT sum(w) FILTER (WHERE k LIKE 'a%') FROM vagg " +
      "WHERE v >= 1").getDouble(0) == 6.0)
    // an unparseable FILTER clause (suffix LIKE — outside the
    // vocabulary) blocks the rewrite instead of dropping the clause
    val like = spark.sql(
      "SELECT sum(w) FILTER (WHERE k LIKE '%a') FROM vagg WHERE v >= 1")
    assert(!like.queryExecution.optimizedPlan.toString
      .trim.startsWith("LocalRelation"))
    assert(like.collect()(0).getDouble(0) == 6.0)
    // grouped count: k carries no registered domain, so the grid
    // cannot enumerate its groups -> exact plan (the FILTER clause
    // itself folds fine when the domain exists — grid spec below)
    val gf = spark.sql("SELECT k, count(*) FILTER (WHERE v >= 3) " +
      "FROM vagg GROUP BY k")
    assert(!gf.queryExecution.optimizedPlan.toString
      .trim.startsWith("LocalRelation"))
    spark.conf.set(GraftRuntime.EnabledKey, "false")
    GraftRuntime.clear()
  }

  test("FILTER clause resolves through computing/renaming Projects (r18, ADVICE r17)") {
    GraftRuntime.clear()
    val s = spark
    import s.implicits._
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_fres").toString
    // w is BOTH a real registered column and the alias name a subquery
    // gives a derived expression — the collision the fix exists for:
    // pre-fix, `FILTER (WHERE w > 2)` over `abs(x) AS w` silently
    // probed the REGISTERED w (0 for group a) instead of failing closed.
    Seq(("a", -3L, 0L), ("a", 1L, 0L), ("b", -5L, 10L), ("b", 2L, 10L))
      .toDF("g", "x", "w").write.mode("overwrite")
      .parquet(s"$tmp/fres.parquet")
    val df = spark.read.parquet(s"$tmp/fres.parquet")
    df.createOrReplaceTempView("fres")
    val gDom = graft.core.Dictionary.columnMeta(df.select("g"), "g")
      .domain.toSeq
    GraftRuntime.register("fres.parquet", Set("g", "x", "w"),
      preds => df.filter(Pred.conj(preds)).count(),
      domain = c => if (c == "g") Some(gDom) else None)
    spark.conf.set(GraftRuntime.EnabledKey, "true")
    // derived alias shadowing the registered w: abs(x) > 2 holds once
    // per group; probing the registered w would answer (a->0, b->2)
    val qDerived = "SELECT g, count(*) FILTER (WHERE w > 2) AS n FROM " +
      "(SELECT g, abs(x) AS w FROM fres) GROUP BY g"
    val dfD = spark.sql(qDerived)
    assert(!dfD.queryExecution.optimizedPlan.toString.trim
      .startsWith("LocalRelation"),
      "FILTER over a derived alias must fail closed, not probe the column")
    assert(dfD.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("a" -> 1L, "b" -> 1L))
    // a pure RENAME resolves to the real column and the rewrite fires
    val qRename = "SELECT g, count(*) FILTER (WHERE y > 0) AS n FROM " +
      "(SELECT g, x AS y FROM fres) GROUP BY g"
    val dfR = spark.sql(qRename)
    assert(dfR.queryExecution.optimizedPlan.toString.trim
      .startsWith("LocalRelation"),
      dfR.queryExecution.optimizedPlan.toString)
    assert(dfR.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("a" -> 1L, "b" -> 1L))
    spark.conf.set(GraftRuntime.EnabledKey, "false")
    GraftRuntime.clear()
  }

  test("canonKey: non-finite float/double keys canonicalize without throwing (r18, ADVICE r17)") {
    // pre-fix: new BigDecimal(NaN) threw NumberFormatException inside
    // edge building and crashed the whole query in the optimizer
    assert(PredExtract.canonKey(Double.NaN) ==
      PredExtract.canonKey(Double.NaN))
    assert(PredExtract.canonKey(Float.NaN) ==
      PredExtract.canonKey(Double.NaN))
    assert(PredExtract.canonKey(Double.PositiveInfinity) ==
      PredExtract.canonKey(Float.PositiveInfinity))
    assert(PredExtract.canonKey(Double.NegativeInfinity) !=
      PredExtract.canonKey(Double.PositiveInfinity))
    // finite values keep the cross-type BigDecimal meeting point
    assert(PredExtract.canonKey(1.5f) == PredExtract.canonKey(1.5))
  }

  test("outer-join grouped/value aggs: NULL-extension semantics PINNED (r18)") {
    GraftRuntime.clear()
    val s = spark
    import s.implicits._
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_outg").toString
    // l: matched k=1 twice, unmatched k=2, null key; r: matched (1,x),
    // unmatched (3,y) and a null key (null,z)
    Seq((Some(1L), Some(10.0)), (Some(1L), Some(20.0)),
      (Some(2L), Some(30.0)), (None, Some(40.0)))
      .toDF("k", "w").write.mode("overwrite")
      .parquet(s"$tmp/l.parquet")
    Seq((Some(1L), "x"), (Some(3L), "y"), (None, "z"))
      .toDF("k", "b").write.mode("overwrite")
      .parquet(s"$tmp/r.parquet")
    val dl = spark.read.parquet(s"$tmp/l.parquet")
    val dr = spark.read.parquet(s"$tmp/r.parquet")
    dl.createOrReplaceTempView("outg_l")
    dr.createOrReplaceTempView("outg_r")
    def dom(df: org.apache.spark.sql.DataFrame, c: String) =
      graft.core.Dictionary.columnMeta(df.select(c), c).domain.toSeq
    val lDoms = Seq("k", "w").map(c => c -> dom(dl, c)).toMap
    val rDoms = Seq("k", "b").map(c => c -> dom(dr, c)).toMap
    // the outer factorization probes the UNFILTERED side (estL(Nil))
    // for the unmatched terms — the closure must accept empty preds
    GraftRuntime.register("l.parquet", Set("k", "w"),
      preds => (if (preds.isEmpty) dl
        else dl.filter(Pred.conj(preds))).count(),
      domain = c => lDoms.get(c))
    GraftRuntime.register("r.parquet", Set("k", "b"),
      preds => (if (preds.isEmpty) dr
        else dr.filter(Pred.conj(preds))).count(),
      domain = c => rDoms.get(c))
    spark.conf.set(GraftRuntime.EnabledKey, "true")
    def run(q: String): org.apache.spark.sql.DataFrame = {
      val out = spark.sql(q)
      assert(out.queryExecution.optimizedPlan.toString.trim
        .startsWith("LocalRelation"),
        s"$q did not rewrite:\n${out.queryExecution.optimizedPlan}")
      out
    }
    // preserved-side sum includes unmatched left rows once
    assert(run("SELECT sum(l.w) FROM outg_l l LEFT JOIN outg_r r " +
      "ON l.k = r.k").collect()(0).getDouble(0) == 100.0)
    // non-preserved count ignores NULL-extension rows
    assert(run("SELECT count(r.b) FROM outg_l l LEFT JOIN outg_r r " +
      "ON l.k = r.k").collect()(0).getLong(0) == 2L)
    // FULL JOIN count: 4 left-preserved rows + 2 unmatched right
    assert(run("SELECT count(*) FROM outg_l l FULL JOIN outg_r r " +
      "ON l.k = r.k").collect()(0).getLong(0) == 6L)
    // grouped FULL on the right key: matched x->2, unmatched right
    // y->1 z->1, NULL group holds the 2 unmatched left rows
    val g = run("SELECT r.b AS grp, count(*) AS n FROM outg_l l " +
      "FULL JOIN outg_r r ON l.k = r.k GROUP BY r.b")
      .collect().map(r => (if (r.isNullAt(0)) "<NULL>"
        else r.getString(0)) -> r.getLong(1)).toMap
    assert(g == Map("x" -> 2L, "y" -> 1L, "z" -> 1L, "<NULL>" -> 2L))
    // r19 supersedes the r18 pin here: a SINGLE-SIDE FILTER cell now
    // folds per side and REWRITES (values checked vs the exact plan);
    // only a cross-side clause still falls through.
    val filtQ = "SELECT r.b AS grp, count(*) FILTER (WHERE l.w > 15) " +
      "AS nf FROM outg_l l LEFT JOIN outg_r r ON l.k = r.k GROUP BY r.b"
    spark.conf.set(GraftRuntime.EnabledKey, "false")
    val filtExact = spark.sql(filtQ).collect()
      .map(_.toSeq).toSeq.sortBy(_.toString)
    spark.conf.set(GraftRuntime.EnabledKey, "true")
    val filtGot = run(filtQ).collect().map(_.toSeq).toSeq.sortBy(_.toString)
    assert(filtGot == filtExact)
    val crossFilt = spark.sql("SELECT r.b, count(*) FILTER " +
      "(WHERE l.w > CAST(length(r.b) AS DOUBLE)) FROM outg_l l " +
      "LEFT JOIN outg_r r ON l.k = r.k GROUP BY r.b")
    assert(!crossFilt.queryExecution.optimizedPlan.toString.trim
      .startsWith("LocalRelation"))
    // non-equi outer joins fall through
    val ne = spark.sql("SELECT count(*) FROM outg_l l LEFT JOIN " +
      "outg_r r ON l.k < r.k")
    assert(!ne.queryExecution.optimizedPlan.toString.trim
      .startsWith("LocalRelation"))
    // 2 rows k=1 and 1 row k=2 each match r.k=3; the null-key left
    // row null-extends -> 4
    assert(ne.collect()(0).getLong(0) == 4L)
    spark.conf.set(GraftRuntime.EnabledKey, "false")
    GraftRuntime.clear()
  }

  test("semi/anti joins compose as join-tree LEAVES: EXISTS under a join, nested EXISTS (r18)") {
    GraftRuntime.clear()
    val s = spark
    import s.implicits._
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_sleaf").toString
    Seq((1L, 10L, 2.0), (1L, 20L, 4.0), (2L, 10L, 6.0), (3L, 30L, 8.0))
      .toDF("k1", "k2", "w").write.mode("overwrite")
      .parquet(s"$tmp/f.parquet")
    Seq((1L, 0L), (1L, 1L), (2L, 1L)).toDF("k1", "a")
      .write.mode("overwrite").parquet(s"$tmp/d.parquet")
    Seq((10L, 1L), (30L, 0L)).toDF("k2", "b")
      .write.mode("overwrite").parquet(s"$tmp/r.parquet")
    val fD = spark.read.parquet(s"$tmp/f.parquet")
    val dD = spark.read.parquet(s"$tmp/d.parquet")
    val rD = spark.read.parquet(s"$tmp/r.parquet")
    fD.createOrReplaceTempView("sl_f")
    dD.createOrReplaceTempView("sl_d")
    rD.createOrReplaceTempView("sl_r")
    def dom(df: org.apache.spark.sql.DataFrame, c: String) =
      graft.core.Dictionary.columnMeta(df.select(c), c).domain.toSeq
    def registerAll(): Unit = {
      GraftRuntime.register("f.parquet", Set("k1", "k2", "w"),
        p => (if (p.isEmpty) fD else fD.filter(Pred.conj(p))).count(),
        domain = c => Some(dom(fD, c)))
      GraftRuntime.register("d.parquet", Set("k1", "a"),
        p => (if (p.isEmpty) dD else dD.filter(Pred.conj(p))).count(),
        domain = c => Some(dom(dD, c)))
      GraftRuntime.register("r.parquet", Set("k2", "b"),
        p => (if (p.isEmpty) rD else rD.filter(Pred.conj(p))).count(),
        domain = c => Some(dom(rD, c)))
    }
    val queries = Seq(
      // EXISTS pushed below the inner join (the semi join becomes f's
      // leaf): f rows with k2 matched in r with b>0 -> (1,10),(2,10);
      // join with d on k1 -> k1=1 matches 2 d rows, k1=2 matches 1
      "SELECT count(*) FROM sl_f f JOIN sl_d d ON f.k1 = d.k1 " +
        "WHERE EXISTS (SELECT 1 FROM sl_r r WHERE r.k2 = f.k2 " +
        "AND r.b > 0)" -> 3L,
      // nested EXISTS: stacked semi joins, the outer one's left side
      // is itself a semi join (recursive leaf). Kept: (1,10) and
      // (2,10); (1,20) fails the r-EXISTS, (3,30) fails the d-EXISTS
      "SELECT count(*) FROM sl_f f WHERE EXISTS (SELECT 1 FROM sl_d " +
        "d WHERE d.k1 = f.k1) AND EXISTS (SELECT 1 FROM sl_r r " +
        "WHERE r.k2 = f.k2)" -> 2L,
      // grouped over the EXISTS-under-join shape
      "SELECT d.a AS grp, count(*) AS n FROM sl_f f JOIN sl_d d " +
        "ON f.k1 = d.k1 WHERE EXISTS (SELECT 1 FROM sl_r r " +
        "WHERE r.k2 = f.k2 AND r.b > 0) GROUP BY d.a" -> -1L,
      // sum over it
      "SELECT sum(f.w) FROM sl_f f JOIN sl_d d ON f.k1 = d.k1 " +
        "WHERE EXISTS (SELECT 1 FROM sl_r r WHERE r.k2 = f.k2 " +
        "AND r.b > 0)" -> -1L)
    // exact references with the rule off
    spark.conf.set(GraftRuntime.EnabledKey, "false")
    val exact = queries.map { case (q, _) =>
      spark.sql(q).collect().map(_.toSeq).toSeq.sortBy(_.toString) }
    registerAll()
    spark.conf.set(GraftRuntime.EnabledKey, "true")
    queries.zip(exact).foreach { case ((q, expect), ex) =>
      val df = spark.sql(q)
      val plan = df.queryExecution.optimizedPlan.toString
      assert(plan.trim.startsWith("LocalRelation"),
        s"did not rewrite: $q\n$plan")
      val got = df.collect().map(_.toSeq).toSeq.sortBy(_.toString)
      assert(got == ex, s"$q: got $got want $ex")
      if (expect >= 0L) assert(got.head.head == expect)
    }
    spark.conf.set(GraftRuntime.EnabledKey, "false")
    GraftRuntime.clear()
  }

  test("GROUP BY falls through without a domain, past the probe cap, and on multi-key grouping") {
    GraftRuntime.clear()
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    // no domain supplied -> exact plan runs
    GraftRuntime.register("lineitem.parquet",
      Set("l_quantity", "l_returnflag"),
      _ => 13L)
    spark.conf.set(GraftRuntime.EnabledKey, "true")
    val q = "SELECT l_returnflag, count(*) AS n FROM lineitem " +
      "GROUP BY l_returnflag"
    assert(!spark.sql(q).queryExecution.optimizedPlan.toString
      .trim.startsWith("LocalRelation"))
    GraftRuntime.clear()
    // oversized domain -> fall through
    GraftRuntime.register("lineitem.parquet",
      Set("l_quantity", "l_returnflag"),
      _ => 13L, domain = c => Some((1 to 5000).map(i => s"v$i")))
    assert(!spark.sql(q).queryExecution.optimizedPlan.toString
      .trim.startsWith("LocalRelation"))
    // two grouping columns: the COMBO GRID (5000 x 5000) is over the
    // cap -> fall through (multi-key itself rewrites — grid spec below)
    val q2 = "SELECT l_returnflag, l_linestatus, count(*) FROM lineitem " +
      "GROUP BY l_returnflag, l_linestatus"
    assert(!spark.sql(q2).queryExecution.optimizedPlan.toString
      .trim.startsWith("LocalRelation"))
    spark.conf.set(GraftRuntime.EnabledKey, "false")
    GraftRuntime.clear()
  }

  test("grouped grid: multi-key, value aggs, FILTER fold, DISTINCT") {
    GraftRuntime.clear()
    val s = spark
    import s.implicits._
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_grid").toString
    // k nullable group col; m second group col; w nullable values
    // (2 repeats for DISTINCT); v long for FILTER clauses.
    Seq(("a", "x", Some(2.0), 1L), ("a", "y", Some(4.0), 2L),
      ("b", "x", None, 3L), ("b", "x", Some(6.0), 4L),
      ("c", "y", Some(2.0), 5L), (null, "x", Some(8.0), 6L),
      ("a", "x", Some(2.0), 7L))
      .toDF("k", "m", "w", "v").write.mode("overwrite")
      .parquet(s"$tmp/grid.parquet")
    val df = spark.read.parquet(s"$tmp/grid.parquet")
    df.createOrReplaceTempView("grid")
    def dom(c: String) =
      graft.core.Dictionary.columnMeta(df.select(c), c).domain.toSeq
    val doms = Seq("k", "m", "w", "v").map(c => c -> dom(c)).toMap
    GraftRuntime.register("grid.parquet",
      Set("k", "m", "w", "v"),
      preds => df.filter(Pred.conj(preds)).count(),
      domain = c => doms.get(c))
    def both(q: String): (Seq[org.apache.spark.sql.Row],
        Seq[org.apache.spark.sql.Row]) = {
      spark.conf.set(GraftRuntime.EnabledKey, "true")
      val rewritten = spark.sql(q)
      val plan = rewritten.queryExecution.optimizedPlan.toString
      assert(plan.trim.startsWith("LocalRelation"),
        s"$q did not rewrite:\n$plan")
      val got = rewritten.collect().toSeq
      spark.conf.set(GraftRuntime.EnabledKey, "false")
      val exact = spark.sql(q).collect().toSeq
      (got, exact)
    }
    def sorted(rs: Seq[org.apache.spark.sql.Row]) =
      rs.map(_.toString).sorted
    // multi-key grouping, null group included
    val (g1, e1) = both("SELECT k, m, count(*) AS n FROM grid " +
      "GROUP BY k, m")
    assert(sorted(g1) == sorted(e1))
    // the full value-agg vocabulary per group (null-ignoring)
    val (g2, e2) = both("SELECT k, count(*) AS n, count(w) AS nw, " +
      "count(DISTINCT w) AS dw, sum(w) AS sw, avg(w) AS aw, " +
      "min(w) AS mnw, max(w) AS mxw FROM grid GROUP BY k")
    assert(sorted(g2) == sorted(e2))
    // per-cell FILTER folds; group 'b' has zero v>=5 rows but must
    // still appear with its SQL-mandated 0 / NULL cells
    val (g3, e3) = both("SELECT k, count(*) FILTER (WHERE v >= 5) " +
      "AS n5, sum(w) FILTER (WHERE m = 'x') AS sx FROM grid GROUP BY k")
    assert(sorted(g3) == sorted(e3))
    assert(e3.exists(r => !r.isNullAt(0) && r.getString(0) == "b" &&
      r.getLong(1) == 0L))
    // WHERE + grouped grid
    val (g4, e4) = both("SELECT k, m, count(*) AS n FROM grid " +
      "WHERE v >= 2 AND m IN ('x', 'y') GROUP BY k, m")
    assert(sorted(g4) == sorted(e4))
    // SELECT DISTINCT is a grouped Aggregate -> live combos
    val (g5, e5) = both("SELECT DISTINCT k, m FROM grid")
    assert(sorted(g5) == sorted(e5))
    // Long-sum overflow in a grouped cell -> the WHOLE rewrite falls
    // through (no mixed probe/scan output)
    GraftRuntime.clear()
    GraftRuntime.register("grid.parquet",
      Set("k", "m", "w", "v"),
      _ => Long.MaxValue / 2, domain = c => doms.get(c))
    spark.conf.set(GraftRuntime.EnabledKey, "true")
    val of = spark.sql("SELECT k, sum(v) AS sv FROM grid GROUP BY k")
    assert(!of.queryExecution.optimizedPlan.toString
      .trim.startsWith("LocalRelation"))
    spark.conf.set(GraftRuntime.EnabledKey, "false")
    GraftRuntime.clear()
  }

  test("join count: two single-table registrations compose; outer and cross-condition shapes fall through") {
    GraftRuntime.clear()
    val s = spark
    import s.implicits._
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_jc").toString
    // null keys on both sides must never contribute to an inner join
    Seq((Some(1L), 10.0), (Some(1L), 20.0), (Some(2L), 30.0),
      (None, 40.0), (Some(3L), 50.0), (Some(1L), 60.0))
      .toDF("k", "x").write.mode("overwrite")
      .parquet(s"$tmp/ja.parquet")
    Seq((Some(1L), "p"), (Some(2L), "q"), (Some(2L), "p"),
      (None, "r"), (Some(9L), "p"))
      .toDF("k", "y").write.mode("overwrite")
      .parquet(s"$tmp/jb.parquet")
    val da = spark.read.parquet(s"$tmp/ja.parquet")
    val db = spark.read.parquet(s"$tmp/jb.parquet")
    da.createOrReplaceTempView("ja")
    db.createOrReplaceTempView("jb")
    def dom(df: org.apache.spark.sql.DataFrame, c: String) =
      graft.core.Dictionary.columnMeta(df.select(c), c).domain.toSeq
    val domA = dom(da, "k"); val domB = dom(db, "k")
    GraftRuntime.register("ja.parquet", Set("k", "x"),
      preds => da.filter(Pred.conj(preds)).count(),
      domain = c => if (c == "k") Some(domA) else None)
    GraftRuntime.register("jb.parquet", Set("k", "y"),
      preds => db.filter(Pred.conj(preds)).count(),
      domain = c => if (c == "k") Some(domB) else None)
    def both(q: String): (Long, Long) = {
      spark.conf.set(GraftRuntime.EnabledKey, "true")
      val rewritten = spark.sql(q)
      val plan = rewritten.queryExecution.optimizedPlan.toString
      assert(plan.trim.startsWith("LocalRelation"),
        s"$q did not rewrite:\n$plan")
      val got = rewritten.collect()(0).getLong(0)
      spark.conf.set(GraftRuntime.EnabledKey, "false")
      (got, spark.sql(q).collect()(0).getLong(0))
    }
    // 1->(1,3 rows a)x(1 row b)=3, 2->1x2=2, 3->unmatched, nulls skip
    val (j1, e1) = both(
      "SELECT count(*) FROM ja JOIN jb ON ja.k = jb.k")
    assert(j1 == e1 && e1 == 5L)
    // side predicates push down and reach the per-side estimates
    val (j2, e2) = both("SELECT count(*) FROM ja JOIN jb " +
      "ON ja.k = jb.k WHERE ja.x <= 30.0 AND jb.y = 'p'")
    assert(j2 == e2)
    // IN on one side (extended vocabulary through the join path)
    val (j3, e3) = both("SELECT count(*) FROM ja JOIN jb " +
      "ON ja.k = jb.k WHERE jb.y IN ('p', 'q')")
    assert(j3 == e3)
    // outer joins rewrite since r17 (inner + per-side unmatched
    // terms; the estimator must answer the EMPTY conjunction for the
    // n_side(ALL) term — re-register with that shape)
    GraftRuntime.clear()
    GraftRuntime.register("ja.parquet", Set("k", "x"),
      preds => (if (preds.isEmpty) da
        else da.filter(Pred.conj(preds))).count(),
      domain = c => if (c == "k") Some(domA) else None)
    GraftRuntime.register("jb.parquet", Set("k", "y"),
      preds => (if (preds.isEmpty) db
        else db.filter(Pred.conj(preds))).count(),
      domain = c => if (c == "k") Some(domB) else None)
    spark.conf.set(GraftRuntime.EnabledKey, "false")
    val loExact = spark.sql(
      "SELECT count(*) FROM ja LEFT JOIN jb ON ja.k = jb.k")
      .collect()(0).getLong(0)
    val foExact = spark.sql(
      "SELECT count(*) FROM ja FULL JOIN jb ON ja.k = jb.k")
      .collect()(0).getLong(0)
    spark.conf.set(GraftRuntime.EnabledKey, "true")
    val lo = spark.sql(
      "SELECT count(*) FROM ja LEFT JOIN jb ON ja.k = jb.k")
    assert(lo.queryExecution.optimizedPlan.toString
      .trim.startsWith("LocalRelation"))
    assert(lo.collect()(0).getLong(0) == loExact,
      "left-outer factorization must match the exact count " +
        "(null keys count unmatched on their own side)")
    val fo = spark.sql(
      "SELECT count(*) FROM ja FULL JOIN jb ON ja.k = jb.k")
    assert(fo.queryExecution.optimizedPlan.toString
      .trim.startsWith("LocalRelation"))
    assert(fo.collect()(0).getLong(0) == foExact)
    // cross-side residual condition -> fall through
    val cc = spark.sql("SELECT count(*) FROM ja JOIN jb " +
      "ON ja.k = jb.k AND ja.x <= length(jb.y)")
    assert(!cc.queryExecution.optimizedPlan.toString
      .trim.startsWith("LocalRelation"))
    // one side unregistered -> fall through
    GraftRuntime.clear()
    GraftRuntime.register("ja.parquet", Set("k", "x"),
      preds => da.filter(Pred.conj(preds)).count(),
      domain = c => if (c == "k") Some(domA) else None)
    val ur = spark.sql("SELECT count(*) FROM ja JOIN jb ON ja.k = jb.k")
    assert(!ur.queryExecution.optimizedPlan.toString
      .trim.startsWith("LocalRelation"))
    spark.conf.set(GraftRuntime.EnabledKey, "false")
    GraftRuntime.clear()
  }

  test("derived-expression grouping: year/month/substring/DIV (r17)") {
    GraftRuntime.clear()
    val s = spark
    import s.implicits._
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_dg").toString
    def ts(str: String) = graft.query.Pred.ts(str)
    Seq(
      (Some(ts("1995-03-15 10:00:00")), "alpha", 3L, 1.0),
      (Some(ts("1995-07-01 00:00:00")), "alps", 17L, 2.0),
      (Some(ts("1996-01-02 23:59:59")), "beta", 23L, 4.0),
      (Some(ts("1996-12-31 05:00:00")), "bets", 25L, 8.0),
      (None, "gamma", 41L, 16.0))
      .toDF("d", "t", "k", "x").write.mode("overwrite")
      .parquet(s"$tmp/dg.parquet")
    val df = spark.read.parquet(s"$tmp/dg.parquet")
    df.createOrReplaceTempView("dg")
    def dom(c: String) =
      graft.core.Dictionary.columnMeta(df.select(c), c).domain.toSeq
    val doms = Seq("d", "t", "k", "x").map(c => c -> dom(c)).toMap
    GraftRuntime.register("dg.parquet",
      Set("d", "t", "k", "x"),
      preds => df.filter(Pred.conj(preds)).count(),
      domain = c => doms.get(c))
    def both(q: String): (Seq[org.apache.spark.sql.Row],
        Seq[org.apache.spark.sql.Row]) = {
      spark.conf.set(GraftRuntime.EnabledKey, "true")
      val rewritten = spark.sql(q)
      val plan = rewritten.queryExecution.optimizedPlan.toString
      assert(plan.trim.startsWith("LocalRelation"),
        s"$q did not rewrite:\n$plan")
      val got = rewritten.collect().toSeq.sortBy(_.toString)
      spark.conf.set(GraftRuntime.EnabledKey, "false")
      (got, spark.sql(q).collect().toSeq.sortBy(_.toString))
    }
    // year over a timestamp (the analyzer's ts->date Cast carries the
    // session zone); the NULL timestamp row groups under NULL
    val (y1, e1) = both(
      "SELECT year(d) AS y, count(*) AS n FROM dg GROUP BY year(d)")
    assert(y1 == e1 && e1.size == 3) // 1995, 1996, NULL
    val (m1, f1) = both(
      "SELECT month(d) AS mo, count(*) AS n FROM dg GROUP BY month(d)")
    assert(m1 == f1)
    // prefix substring merges 'alpha'/'alps' and 'beta'/'bets'
    val (s1, g1) = both("SELECT substring(t, 1, 2) AS p, count(*) AS n " +
      "FROM dg GROUP BY substring(t, 1, 2)")
    assert(s1 == g1 && g1.size == 3) // al, be, ga
    // integral DIV buckets
    val (d1, h1) = both(
      "SELECT k DIV 10 AS b, count(*) AS n FROM dg GROUP BY k DIV 10")
    assert(d1 == h1)
    // derived key composes with a WHERE, an attribute key, and a
    // value-aggregate cell on the same grid
    val (c1, i1) = both("SELECT year(d) AS y, t AS tt, sum(x) AS sx " +
      "FROM dg WHERE k <= 25 GROUP BY year(d), t")
    assert(c1 == i1)
    // date_trunc keys (r17 second pass): month/week over the ts
    // column (an NTZ/LTZ Cast may sit between — both shapes resolve)
    val (t1, u1) = both("SELECT date_trunc('month', d) AS m, " +
      "count(*) AS n FROM dg GROUP BY date_trunc('month', d)")
    assert(t1 == u1)
    val (t2, u2) = both("SELECT date_trunc('week', d) AS wk, " +
      "count(*) AS n FROM dg GROUP BY date_trunc('week', d)")
    assert(t2 == u2)
    // CAST(ts AS DATE) as a grouping key
    val (t3, u3) = both("SELECT CAST(d AS DATE) AS dd, count(*) AS n " +
      "FROM dg GROUP BY CAST(d AS DATE)")
    assert(t3 == u3)
    // outside the whitelist -> exact plan (upper; sub-day trunc)
    spark.conf.set(GraftRuntime.EnabledKey, "true")
    val up = spark.sql(
      "SELECT upper(t) AS u, count(*) AS n FROM dg GROUP BY upper(t)")
    assert(!up.queryExecution.optimizedPlan.toString
      .trim.startsWith("LocalRelation"))
    val hr = spark.sql("SELECT date_trunc('hour', d) AS h, " +
      "count(*) AS n FROM dg GROUP BY date_trunc('hour', d)")
    assert(!hr.queryExecution.optimizedPlan.toString
      .trim.startsWith("LocalRelation"))
    spark.conf.set(GraftRuntime.EnabledKey, "false")
    GraftRuntime.clear()
  }

  test("N-table join chains and grouped join counts compose (r17)") {
    GraftRuntime.clear()
    val s = spark
    import s.implicits._
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_jn").toString
    Seq((Some(1L), 10.0), (Some(1L), 20.0), (Some(2L), 30.0),
      (None, 40.0), (Some(3L), 50.0))
      .toDF("k", "x").write.mode("overwrite").parquet(s"$tmp/na.parquet")
    Seq((Some(1L), "u"), (Some(2L), "u"), (Some(2L), "v"),
      (Some(9L), "v"), (None, "u"))
      .toDF("k", "m").write.mode("overwrite").parquet(s"$tmp/nb.parquet")
    Seq(("u", 1L), ("v", 2L), ("v", 3L), ("w", 4L))
      .toDF("m", "z").write.mode("overwrite").parquet(s"$tmp/nc.parquet")
    val da = spark.read.parquet(s"$tmp/na.parquet")
    val db = spark.read.parquet(s"$tmp/nb.parquet")
    val dc = spark.read.parquet(s"$tmp/nc.parquet")
    da.createOrReplaceTempView("na")
    db.createOrReplaceTempView("nb")
    dc.createOrReplaceTempView("nc")
    def dom(df: org.apache.spark.sql.DataFrame, c: String) =
      graft.core.Dictionary.columnMeta(df.select(c), c).domain.toSeq
    // na's estimator counts its probes: the 3x2 edge grid must reach
    // it only once per DISTINCT incident-edge value (memoized), i.e.
    // <= |k-domain| probes, not once per grid cell.
    var naProbes = 0
    GraftRuntime.register("na.parquet", Set("k", "x"),
      preds => { naProbes += 1; da.filter(Pred.conj(preds)).count() },
      domain = c => if (c == "k") Some(dom(da, "k"))
           else if (c == "x") Some(dom(da, "x")) else None)
    GraftRuntime.register("nb.parquet", Set("k", "m"),
      preds => db.filter(Pred.conj(preds)).count(),
      domain = c => if (c == "k") Some(dom(db, "k"))
           else if (c == "m") Some(dom(db, "m")) else None)
    GraftRuntime.register("nc.parquet", Set("m", "z"),
      preds => dc.filter(Pred.conj(preds)).count(),
      domain = c => if (c == "m") Some(dom(dc, "m"))
           else if (c == "z") Some(dom(dc, "z")) else None)
    def both(q: String): (Seq[org.apache.spark.sql.Row],
        Seq[org.apache.spark.sql.Row]) = {
      spark.conf.set(GraftRuntime.EnabledKey, "true")
      val rewritten = spark.sql(q)
      val plan = rewritten.queryExecution.optimizedPlan.toString
      assert(plan.trim.startsWith("LocalRelation"),
        s"$q did not rewrite:\n$plan")
      val got = rewritten.collect().toSeq.sortBy(_.toString)
      spark.conf.set(GraftRuntime.EnabledKey, "false")
      (got, spark.sql(q).collect().toSeq.sortBy(_.toString))
    }
    // 3-table chain, WHERE on both ends
    val (c1, e1) = both("SELECT count(*) FROM na " +
      "JOIN nb ON na.k = nb.k JOIN nc ON nb.m = nc.m " +
      "WHERE na.x <= 30.0 AND nc.z >= 2")
    assert(c1 == e1)
    naProbes = 0
    val (c2, e2) = both("SELECT count(*) FROM na " +
      "JOIN nb ON na.k = nb.k JOIN nc ON nb.m = nc.m")
    assert(c2 == e2 && e2.head.getLong(0) == 5L)
    assert(naProbes <= 3,
      s"per-leaf probes must be memoized across the edge grid: $naProbes")
    // grouped join count over a middle-table attribute
    val (g1, x1) = both("SELECT nb.m AS grp, count(*) AS n FROM na " +
      "JOIN nb ON na.k = nb.k JOIN nc ON nb.m = nc.m " +
      "GROUP BY nb.m")
    assert(g1 == x1)
    // grouped by attributes from two different leaves
    val (g2, x2) = both("SELECT na.x AS gx, nc.z AS gz, count(*) AS n " +
      "FROM na JOIN nb ON na.k = nb.k JOIN nc ON nb.m = nc.m " +
      "GROUP BY na.x, nc.z")
    assert(g2 == x2)
    spark.conf.set(GraftRuntime.EnabledKey, "false")
    GraftRuntime.clear()
  }

  test("cross-column OR answers by inclusion-exclusion (r17)") {
    GraftRuntime.clear()
    // Estimator that records each probed conjunction: the 2-way OR
    // must cost exactly the 3 I-E terms (A, B, A AND B), and the
    // answer is est(A)+est(B)-est(A AND B).
    val probes = scala.collection.mutable.ArrayBuffer.empty[Seq[Pred]]
    GraftRuntime.register("lineitem.parquet",
      Set("l_quantity", "l_returnflag"),
      preds => { probes += preds; preds.size match {
        case 1 => if (preds.head.col == "l_quantity") 100L else 40L
        case _ => 15L
      } })
    spark.conf.set(GraftRuntime.EnabledKey, "true")
    val got = spark.sql(
      "SELECT count(*) FROM lineitem WHERE l_quantity <= 24.0 OR l_returnflag = 'R'"
    ).collect()(0).getLong(0)
    assert(got == 100L + 40L - 15L, s"I-E answer wrong: $got")
    assert(probes.size == 3, s"expected 3 I-E probes, got: $probes")
    assert(probes.count(_.size == 2) == 1)
  }

  test("OR falls through past the disjunct cap and on unsupported leaves") {
    GraftRuntime.clear()
    GraftRuntime.register("lineitem.parquet",
      Set("l_quantity", "l_returnflag", "l_linestatus", "l_discount",
        "l_tax"), _ => 13L)
    spark.conf.set(GraftRuntime.EnabledKey, "true")
    // 4 two-way ORs AND-ed = 16 disjuncts > maxDisjuncts(8): exact plan
    val capped = spark.sql("SELECT count(*) FROM lineitem WHERE " +
      "(l_returnflag = 'R' OR l_linestatus = 'O') AND " +
      "(l_quantity <= 25.0 OR l_discount >= 0.05) AND " +
      "(l_tax <= 0.04 OR l_quantity >= 10.0) AND " +
      "(l_returnflag = 'A' OR l_discount <= 0.08)")
      .collect()(0).getLong(0)
    assert(capped != 13L)
    // an unsupported leaf inside a disjunct poisons the whole DNF
    val unsupported = spark.sql("SELECT count(*) FROM lineitem WHERE " +
      "l_returnflag = 'R' OR abs(l_quantity) <= 24.0")
      .collect()(0).getLong(0)
    assert(unsupported != 13L)
  }

  test("learned model answers SQL COUNT(*) through the optimizer (AQP end-to-end)") {
    import graft.core.Dictionary
    import graft.est.ProgressiveSampling
    import graft.nn.{Made, Trainer}
    import org.apache.spark.sql.functions.col
    val cols = Seq("l_returnflag", "l_linestatus", "l_quantity",
      "l_discount", "l_tax")
    val df = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(cols.map(col): _*)
    val meta = Dictionary.tableMeta(df, "lineitem", cols)
    val data = Trainer.collectEncoded(df, meta.columns)
    val model = new Made(cols.length, Seq(64, 64),
      meta.columns.map(_.distributionSize).toArray,
      inputEncoding = "one_hot", residual = true, doDirectIo = true,
      columnMasking = true, seed = 11123L)
    Trainer.train(model, data, epochs = 6, batchSize = 512,
      schedule = Trainer.ConstantLr(2e-3f))
    val ps = new ProgressiveSampling(model, meta, numSamples = 1000,
      shortcircuit = true)
    GraftRuntime.clear()
    GraftRuntime.register("lineitem.parquet", cols.toSet, ps.query)
    spark.conf.set(GraftRuntime.EnabledKey, "true")
    val est = spark.sql(sql).collect()(0).getLong(0)
    spark.conf.set(GraftRuntime.EnabledKey, "false")
    val exact = spark.sql(sql).collect()(0).getLong(0)
    val q = math.max(est.toDouble / exact, exact.toDouble / est)
    assert(q < 1.3, s"learned AQP q-error $q (est=$est exact=$exact)")
    GraftRuntime.clear()
  }

  test("graft_cosine expression matches the literal-chain cosine bit-for-bit") {
    import graft.ops.Similarity
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val rng = new java.util.Random(9)
    val q = Array.fill(64)(rng.nextGaussian().toFloat)
    // Same accumulation order -> identical doubles, not just close ones.
    val rows = emb.select(
      Similarity.cosineCol("embedding", q).as("chain"),
      graft.plans.CosineSimilarity(col("embedding"), q).as("kernel"))
      .collect()
    assert(rows.length > 0)
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)),
        s"${r.getDouble(0)} != ${r.getDouble(1)}")
    }
    // And it works from SQL.
    emb.createOrReplaceTempView("emb")
    val sqlVal = spark.sql(
      "SELECT graft_cosine(embedding, array(" +
        q.map(v => s"CAST(${v.toDouble} AS DOUBLE)").mkString(",") +
        ")) AS c FROM emb LIMIT 1").collect()(0).getDouble(0)
    assert(!sqlVal.isNaN)
  }

  test("estimator answer matches the true count when exact is registered") {
    GraftRuntime.clear()
    spark.conf.set(GraftRuntime.EnabledKey, "false")
    val exact = spark.sql(sql).collect()(0).getLong(0)
    // Register the oracle itself as the estimator -> rewrite is lossless.
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    GraftRuntime.register("lineitem.parquet",
      Set("l_quantity", "l_returnflag"),
      preds => li.filter(Pred.conj(preds)).count())
    spark.conf.set(GraftRuntime.EnabledKey, "true")
    assert(spark.sql(sql).collect()(0).getLong(0) == exact)
  }

  /** Shared harness for the r19 composition specs: writes the given
    * frames, registers exact counters + dictionary domains, runs each
    * query with the rule OFF (exact reference) then ON, asserting the
    * expected plan shape and identical results. */
  private def withRegistered(prefix: String,
      tables: Seq[(String, org.apache.spark.sql.DataFrame, Seq[String])])(
      body: => Unit): Unit = {
    GraftRuntime.clear()
    val tmp = java.nio.file.Files.createTempDirectory(prefix).toString
    tables.foreach { case (name, df, cols) =>
      df.write.mode("overwrite").parquet(s"$tmp/${prefix}_$name.parquet")
      val back = spark.read.parquet(s"$tmp/${prefix}_$name.parquet")
      back.createOrReplaceTempView(s"${prefix}_$name")
      def dom(c: String) =
        graft.core.Dictionary.columnMeta(back.select(c), c).domain.toSeq
      val doms = cols.map(c => c -> dom(c)).toMap
      GraftRuntime.register(s"${prefix}_$name.parquet",
        cols.toSet,
        p => (if (p.isEmpty) back else back.filter(Pred.conj(p))).count(),
        domain = c => doms.get(c))
    }
    try body finally {
      spark.conf.set(GraftRuntime.EnabledKey, "false")
      GraftRuntime.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(tmp))
    }
  }

  private def assertRewrites(q: String, want: Boolean): Seq[Seq[Any]] = {
    spark.conf.set(GraftRuntime.EnabledKey, "false")
    val exact = spark.sql(q).collect().map(_.toSeq).toSeq.sortBy(_.toString)
    spark.conf.set(GraftRuntime.EnabledKey, "true")
    val df = spark.sql(q)
    val plan = df.queryExecution.optimizedPlan.toString
    if (want) assert(plan.trim.startsWith("LocalRelation"),
      s"did not rewrite: $q\n$plan")
    else assert(!plan.trim.startsWith("LocalRelation"),
      s"must fall through (not rewrite): $q\n$plan")
    val got = df.collect().map(_.toSeq).toSeq.sortBy(_.toString)
    assert(got == exact, s"$q: got $got want $exact")
    got
  }

  test("value aggregates + count(DISTINCT) over UNION ALL partitions (r19)") {
    val s = spark
    import s.implicits._
    // overlapping but non-identical value domains; t2-only value 9.0;
    // nullable w; long column v for the LongType sum path
    val t1 = Seq((1L, Some(2.0), 10L), (1L, Some(4.0), 20L),
      (2L, None: Option[Double], 30L), (3L, Some(2.0), 10L))
      .toDF("k", "w", "v")
    val t2 = Seq((1L, Some(4.0), 20L), (2L, Some(9.0), 40L),
      (3L, None: Option[Double], 10L), (3L, Some(2.0), 50L))
      .toDF("k", "w", "v")
    withRegistered("uva", Seq(
      ("t1", t1, Seq("k", "w", "v")), ("t2", t2, Seq("k", "w", "v")))) {
      val u = "SELECT * FROM uva_t1 UNION ALL SELECT * FROM uva_t2"
      // ungrouped: every value-aggregate functional over the merged
      // cross-branch probe vector, plus DISTINCT forms
      assertRewrites(s"SELECT sum(w) FROM ($u)", want = true)
      assertRewrites(s"SELECT avg(w) FROM ($u)", want = true)
      // (single-aggregate shapes: multi-agg UNGROUPED selects are
      // outside the rewrite vocabulary for scans too)
      assertRewrites(s"SELECT min(w) FROM ($u)", want = true)
      assertRewrites(s"SELECT max(w) FROM ($u)", want = true)
      assertRewrites(s"SELECT sum(v) FROM ($u)", want = true)
      assertRewrites(s"SELECT count(DISTINCT w) FROM ($u)", want = true)
      assertRewrites(s"SELECT sum(DISTINCT w) FROM ($u)", want = true)
      // WHERE above the union is pushed into every branch
      assertRewrites(s"SELECT sum(w) FROM ($u) WHERE k <= 2", want = true)
      assertRewrites(
        s"SELECT count(DISTINCT w) FROM ($u) WHERE k != 1", want = true)
      // grouped shard report: value + distinct cells ride the merged
      // group domain with per-branch group conjuncts
      assertRewrites(s"SELECT k, sum(w) AS sw, count(DISTINCT w) AS dw," +
        s" min(w) AS mw, avg(w) AS aw FROM ($u) GROUP BY k", want = true)
      assertRewrites(s"SELECT k, sum(v) AS sv FROM ($u) " +
        "WHERE w IS NOT NULL GROUP BY k", want = true)
      // empty support -> SQL NULL (no group row dropped here: the
      // combo probe counts rows, w all-NULL in group still has rows)
      assertRewrites("SELECT k, sum(w) AS sw FROM (" +
        "SELECT * FROM uva_t1 WHERE w IS NULL UNION ALL " +
        "SELECT * FROM uva_t2 WHERE w IS NULL) GROUP BY k", want = true)
      // r19 second pass: FILTER clauses fold per branch by positional
      // column mapping — ungrouped and grouped, count and value cells
      assertRewrites(s"SELECT count(*) FILTER (WHERE w <= 4.0) AS nf " +
        s"FROM ($u)", want = true)
      assertRewrites(s"SELECT sum(w) FILTER (WHERE k != 2) AS sf " +
        s"FROM ($u)", want = true)
      assertRewrites(s"SELECT k, count(*) AS n, " +
        s"count(w) FILTER (WHERE w >= 4.0) AS nf, " +
        s"sum(w) FILTER (WHERE w <= 4.0) AS sf FROM ($u) GROUP BY k",
        want = true)
      // a FILTER conjunct referencing TWO columns is outside the
      // vocabulary: block
      assertRewrites(s"SELECT count(*) FILTER " +
        s"(WHERE w <= CAST(k AS DOUBLE)) AS nf FROM ($u)", want = false)
    }
  }

  test("outer joins compose as join-tree LEAVES inside N-table trees (r19)") {
    val s = spark
    import s.implicits._
    val f = Seq((1L, 10L, 2.0), (1L, 20L, 4.0), (2L, 10L, 6.0),
      (3L, 30L, 8.0), (4L, 10L, 1.0)).toDF("k1", "k2", "w")
    // outer-side dim with DISTINCT column names (by-name routing
    // inside the two-sided leaf excludes shared names)
    val dl = Seq((1L, 0L), (1L, 1L), (2L, 1L)).toDF("m1", "a")
    val d2 = Seq((10L, 1L), (30L, 0L)).toDF("j2", "b")
    withRegistered("oit", Seq(
      ("f", f, Seq("k1", "k2", "w")), ("dl", dl, Seq("m1", "a")),
      ("d2", d2, Seq("j2", "b")))) {
      // LEFT outer inside an inner tree: count, value agg, grouped —
      // including the synthetic NULL group on the non-preserved side
      assertRewrites("SELECT count(*) FROM oit_f f LEFT JOIN oit_dl dl " +
        "ON f.k1 = dl.m1 JOIN oit_d2 d2 ON f.k2 = d2.j2", want = true)
      assertRewrites("SELECT sum(f.w) FROM oit_f f LEFT JOIN oit_dl dl " +
        "ON f.k1 = dl.m1 JOIN oit_d2 d2 ON f.k2 = d2.j2", want = true)
      assertRewrites("SELECT dl.a AS grp, count(*) AS n, sum(f.w) AS sw " +
        "FROM oit_f f LEFT JOIN oit_dl dl ON f.k1 = dl.m1 " +
        "JOIN oit_d2 d2 ON f.k2 = d2.j2 GROUP BY dl.a", want = true)
      // side predicate into the outer leaf's preserved side
      assertRewrites("SELECT count(*) FROM oit_f f LEFT JOIN oit_dl dl " +
        "ON f.k1 = dl.m1 JOIN oit_d2 d2 ON f.k2 = d2.j2 " +
        "WHERE f.w <= 6.0", want = true)
      // FULL outer inside the tree: extension rows on the fact side
      // carry NULL join keys and never match the inner edge
      assertRewrites("SELECT count(*) FROM oit_f f FULL JOIN oit_dl dl " +
        "ON f.k1 = dl.m1 JOIN oit_d2 d2 ON f.k2 = d2.j2", want = true)
      // grouping by the edge key exercises the leaf's merged domain
      assertRewrites("SELECT f.k2 AS grp, count(*) AS n FROM oit_f f " +
        "LEFT JOIN oit_dl dl ON f.k1 = dl.m1 " +
        "JOIN oit_d2 d2 ON f.k2 = d2.j2 GROUP BY f.k2", want = true)
    }
  }

  test("single-side FILTER cells over join trees; cross-side FILTER blocks (r19)") {
    val s = spark
    import s.implicits._
    val f = Seq((1L, 10L, 2.0), (1L, 20L, 4.0), (2L, 10L, 6.0),
      (3L, 30L, 8.0)).toDF("k1", "k2", "w")
    val d = Seq((1L, 0L, "xa"), (1L, 1L, "yb"), (2L, 1L, "xc"))
      .toDF("m1", "a", "t")
    withRegistered("fcj", Seq(
      ("f", f, Seq("k1", "k2", "w")), ("d", d, Seq("m1", "a", "t")))) {
      // fact-side, dim-side, and BOTH-side (conjunct-per-leaf) FILTERs
      assertRewrites("SELECT d.a AS grp, count(*) AS n, " +
        "count(*) FILTER (WHERE f.w >= 4.0) AS nf, " +
        "sum(f.w) FILTER (WHERE d.t LIKE 'x%') AS sx " +
        "FROM fcj_f f JOIN fcj_d d ON f.k1 = d.m1 GROUP BY d.a",
        want = true)
      assertRewrites("SELECT f.k2 AS grp, " +
        "count(f.w) FILTER (WHERE d.a = 1 AND f.w <= 6.0) AS nb, " +
        "avg(f.w) FILTER (WHERE d.t != 'yb') AS aw " +
        "FROM fcj_f f JOIN fcj_d d ON f.k1 = d.m1 GROUP BY f.k2",
        want = true)
      // a group whose every cell filters to zero still emits its row
      assertRewrites("SELECT d.a AS grp, " +
        "count(*) FILTER (WHERE f.w >= 100.0) AS nf " +
        "FROM fcj_f f JOIN fcj_d d ON f.k1 = d.m1 GROUP BY d.a",
        want = true)
      // cross-side FILTER conjunct: MUST block (answering unfiltered
      // would be silently wrong), exact plan still answers
      assertRewrites("SELECT d.a AS grp, " +
        "count(*) FILTER (WHERE f.w >= CAST(d.a AS DOUBLE)) AS nf " +
        "FROM fcj_f f JOIN fcj_d d ON f.k1 = d.m1 GROUP BY d.a",
        want = false)
      // r19 second pass: UNGROUPED aggregates carry FILTER clauses too
      assertRewrites("SELECT count(*) FILTER (WHERE d.t LIKE 'x%') " +
        "AS nf FROM fcj_f f JOIN fcj_d d ON f.k1 = d.m1", want = true)
      assertRewrites("SELECT sum(f.w) FILTER (WHERE d.a = 1 AND " +
        "f.w <= 6.0) AS sx FROM fcj_f f JOIN fcj_d d ON f.k1 = d.m1",
        want = true)
      assertRewrites("SELECT count(f.w) FILTER (WHERE f.w >= 100.0) " +
        "AS nz FROM fcj_f f JOIN fcj_d d ON f.k1 = d.m1", want = true)
      // ungrouped cross-side FILTER: block
      assertRewrites("SELECT count(*) FILTER " +
        "(WHERE f.w >= CAST(d.a AS DOUBLE)) AS nf " +
        "FROM fcj_f f JOIN fcj_d d ON f.k1 = d.m1", want = false)
      // ungrouped FILTER over an EXISTS (semi) shape: folds into the
      // left conjunction
      assertRewrites("SELECT count(*) FILTER (WHERE f.w <= 4.0) AS nf " +
        "FROM fcj_f f WHERE EXISTS (SELECT 1 FROM fcj_d d " +
        "WHERE d.m1 = f.k1 AND d.a >= 1)", want = true)
    }
  }

  test("FILTER clauses over OUTER joins: per-side fold, NULL-extension exact (r19)") {
    val s = spark
    import s.implicits._
    val f = Seq((1L, 2.0), (1L, 4.0), (2L, 6.0), (3L, 8.0))
      .toDF("k1", "w")
    val d = Seq((1L, 0L, "xa"), (2L, 1L, "yb")).toDF("m1", "a", "t")
    withRegistered("fof", Seq(
      ("f", f, Seq("k1", "w")), ("d", d, Seq("m1", "a", "t")))) {
      val from = "fof_f f LEFT JOIN fof_d d ON f.k1 = d.m1"
      // ungrouped: right-side FILTER excludes left-extension rows
      // (Eq rejects NULL); IS NULL admits exactly them
      assertRewrites("SELECT count(*) FILTER (WHERE d.t = 'xa') AS nf " +
        s"FROM $from", want = true)
      assertRewrites("SELECT count(*) FILTER (WHERE d.t IS NULL) " +
        s"AS nn FROM $from", want = true)
      assertRewrites("SELECT sum(f.w) FILTER (WHERE d.a = 1) AS sx " +
        s"FROM $from", want = true)
      // grouped: per-side FILTER cells beside the NULL group
      assertRewrites("SELECT d.a AS grp, count(*) AS n, " +
        "count(*) FILTER (WHERE f.w >= 4.0) AS nf, " +
        "sum(f.w) FILTER (WHERE d.t LIKE 'x%') AS sx " +
        s"FROM $from GROUP BY d.a", want = true)
      // cross-side FILTER blocks on outer joins too
      assertRewrites("SELECT count(*) FILTER " +
        "(WHERE f.w >= CAST(d.a AS DOUBLE)) AS nf " +
        s"FROM $from", want = false)
    }
  }

  test("INNER join trees compose as leaves: union of stars, outer over trees, EXISTS keyed on two tables (r19)") {
    val s = spark
    import s.implicits._
    val f = Seq((1L, 10L, 2.0), (1L, 20L, 4.0), (2L, 10L, 6.0),
      (3L, 30L, 8.0), (4L, 10L, 1.0)).toDF("k1", "k2", "w")
    val d = Seq((1L, 0L), (1L, 1L), (2L, 1L), (4L, 0L)).toDF("m1", "a")
    val e = Seq((10L, 1L), (30L, 0L)).toDF("j2", "b")
    withRegistered("itl", Seq(
      ("f", f, Seq("k1", "k2", "w")), ("d", d, Seq("m1", "a")),
      ("e", e, Seq("j2", "b")))) {
      val star = "itl_f f JOIN itl_d d ON f.k1 = d.m1"
      // union of STARS — the sharded-star layout: each branch is an
      // inner tree acting as one leaf, WHEREs pushed per branch
      assertRewrites("SELECT count(*) FROM (" +
        s"SELECT * FROM $star WHERE f.w <= 4.0 UNION ALL " +
        s"SELECT * FROM $star WHERE d.a = 1)", want = true)
      assertRewrites("SELECT sum(w) FROM (" +
        s"SELECT f.*, d.a AS da FROM $star WHERE f.w != 2.0 UNION ALL " +
        s"SELECT f.*, d.a AS da FROM $star)", want = true)
      // an outer join whose preserved side is a join TREE
      assertRewrites(s"SELECT count(*) FROM $star LEFT JOIN itl_e e " +
        "ON f.k2 = e.j2", want = true)
      assertRewrites(s"SELECT d.a AS grp, count(*) AS n FROM $star " +
        "LEFT JOIN itl_e e ON f.k2 = e.j2 GROUP BY d.a", want = true)
      // EXISTS keyed on BOTH tables of the outer query: the semi join
      // cannot push into one side, so its left IS the tree
      assertRewrites(s"SELECT count(*) FROM $star WHERE EXISTS " +
        "(SELECT 1 FROM itl_e e WHERE e.j2 = f.k2 AND e.b = d.a)",
        want = true)
      // RENAME-only Projects resolve as leaves (r19 third pass): a
      // shard union whose branches re-alias columns to a common
      // schema — incl. an outer-join branch behind the renames
      assertRewrites("SELECT x, count(*) AS n, count(y) AS ny FROM (" +
        "SELECT f.k2 AS x, d.a AS y FROM itl_f f " +
        "LEFT JOIN itl_d d ON f.k1 = d.m1 UNION ALL " +
        "SELECT k2 AS x, k1 AS y FROM itl_f WHERE w <= 4.0) " +
        "GROUP BY x", want = true)
      assertRewrites("SELECT sum(y) FROM (" +
        "SELECT f.k2 AS x, f.w AS y FROM itl_f f " +
        "JOIN itl_d d ON f.k1 = d.m1 UNION ALL " +
        "SELECT k2 AS x, w AS y FROM itl_f) ", want = true)
    }
  }

  test("multi-aggregate UNGROUPED selects: the summary-stats row over every child shape (r19)") {
    val s = spark
    import s.implicits._
    val f = Seq((1L, 10L, 2.0), (1L, 20L, 4.0), (2L, 10L, 6.0),
      (3L, 30L, 8.0)).toDF("k1", "k2", "w")
    val d = Seq((1L, 0L), (2L, 1L)).toDF("m1", "a")
    withRegistered("mag", Seq(
      ("f", f, Seq("k1", "k2", "w")), ("d", d, Seq("m1", "a")))) {
      // scan: the classic summary row, FILTER cells included
      assertRewrites("SELECT count(*) AS n, sum(w) AS sw, min(w) AS " +
        "mw, max(w) AS xw, avg(w) AS aw FROM mag_f", want = true)
      assertRewrites("SELECT count(*) AS n, " +
        "count(*) FILTER (WHERE w >= 4.0) AS nf, " +
        "count(DISTINCT k2) AS dk FROM mag_f WHERE k1 <= 2",
        want = true)
      // SQL's no-GROUP-BY semantics: one row even over ZERO rows
      assertRewrites("SELECT count(*) AS n, sum(w) AS sw FROM mag_f " +
        "WHERE w >= 100.0", want = true)
      // join tree
      assertRewrites("SELECT count(*) AS n, sum(f.w) AS sw, " +
        "min(d.a) AS ma FROM mag_f f JOIN mag_d d ON f.k1 = d.m1",
        want = true)
      // semi (EXISTS), outer, union
      assertRewrites("SELECT count(*) AS n, max(w) AS xw FROM mag_f " +
        "f WHERE EXISTS (SELECT 1 FROM mag_d d WHERE d.m1 = f.k1)",
        want = true)
      assertRewrites("SELECT count(*) AS n, count(d.a) AS na, " +
        "sum(f.w) AS sw FROM mag_f f LEFT JOIN mag_d d " +
        "ON f.k1 = d.m1", want = true)
      assertRewrites("SELECT count(*) AS n, sum(w) AS sw, " +
        "count(DISTINCT w) AS dw FROM (SELECT * FROM mag_f WHERE " +
        "k1 <= 2 UNION ALL SELECT * FROM mag_f WHERE k1 >= 3)",
        want = true)
    }
  }

  test("multi-column NOT IN tuples fall through (null-aware keys stay single, r19 pin)") {
    val s = spark
    import s.implicits._
    // nullable tuple component -> Catalyst plans a null-aware anti
    // with a multi-equality Or condition semiAntiSpec must NOT parse
    val f = Seq((Some(1L), 10L), (None: Option[Long], 20L),
      (Some(2L), 10L)).toDF("k1", "k2")
    val r = Seq((1L, 10L), (2L, 30L)).toDF("x1", "x2")
    withRegistered("nin", Seq(
      ("f", f, Seq("k1", "k2")), ("r", r, Seq("x1", "x2")))) {
      assertRewrites("SELECT count(*) FROM nin_f f WHERE (f.k1, f.k2) " +
        "NOT IN (SELECT r.x1, r.x2 FROM nin_r r)", want = false)
      // the single-key null-aware factorization keeps rewriting
      assertRewrites("SELECT count(*) FROM nin_f f WHERE f.k1 " +
        "NOT IN (SELECT r.x1 FROM nin_r r)", want = true)
    }
  }
}
