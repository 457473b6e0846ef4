package graft.plans

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Differential golden spec for [[ApproxCountRule]]: a fixed corpus of
  * SQL texts over exact (driver-side counting) registrations, each
  * pinned to whether the optimized plan became a `LocalRelation` and
  * to a digest of the answer's bits.
  *
  * The corpus holds a generated cross product of aggregate shape ×
  * source shape × WHERE form, domains at the probe cap and one past
  * it, and the composition shapes of [[GraftExtensionsSpec]]. A second
  * test runs every `q_approx_*` catalog entry at sf0.001 and pins the
  * digest of its output.
  *
  * Where the rule fires, the answer is also checked against the exact
  * plan (rule off): integral values and strings equal, doubles within
  * 1e-9 relative. Fired answers are digested bit for bit; answers of
  * texts that fall through come from Spark's own aggregation, whose
  * double sums may merge partial buffers in any order, so their
  * doubles are digested at 12 significant digits.
  *
  * On a mismatch the spec writes the observed lines next to the build
  * output (`target/approx_count_golden.actual.tsv`) and fails; the
  * golden file is `src/test/resources/graft/plans/
  * approx_count_golden.tsv`.
  */
class ApproxCountGoldenSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var tmp: String = _

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
    tmp = java.nio.file.Files.createTempDirectory("acgold").toString
  }

  override def afterAll(): Unit = {
    GraftRuntime.clear()
    if (spark != null) spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    if (tmp != null)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
  }

  /** Write each frame, expose it as a view and register an exact
    * driver-side counter over every column with the column's full
    * dictionary domain. */
  private def registerTables(tables: Seq[(String, DataFrame)]): Unit =
    tables.foreach { case (name, df) =>
      val path = s"$tmp/$name.parquet"
      df.write.mode("overwrite").parquet(path)
      val back = spark.read.parquet(path)
      back.createOrReplaceTempView(name)
      val cols = back.columns.toSeq
      val le = new graft.Queries.LocalExact(back, cols)
      val doms = cols.map(c => c -> le.domainOf(c)).toMap
      GraftRuntime.register(s"/$name.parquet", cols.toSet,
        p => le.count(p), domain = c => doms.get(c))
    }

  private def date(s: String) = java.sql.Date.valueOf(s)

  private def fixtures(): Unit = {
    val s = spark
    import s.implicits._
    val f = Seq(
      (Some(1L), 10L, Some(2.0), 5L, "a", date("2023-01-05")),
      (Some(1L), 20L, Some(4.0), 7L, "b", date("2023-03-10")),
      (Some(2L), 10L, Some(6.5), 11L, "a", date("2024-02-01")),
      (Some(3L), 30L, None, 13L, "c", date("2024-07-07")),
      (None, 10L, Some(1.25), 17L, "b", date("2023-12-31")),
      (Some(4L), 20L, Some(8.0), 19L, "c", date("2025-01-01")),
      (Some(2L), 30L, Some(0.1), 23L, "a", date("2024-02-02")),
      (Some(1L), 10L, Some(0.2), 29L, "c", date("2025-05-05")),
      (Some(5L), 40L, Some(3.0), 31L, "b", date("2023-06-06")),
      (Some(3L), 20L, Some(0.3), 37L, "a", date("2024-08-08")))
      .toDF("k1", "k2", "w", "v", "s", "dt")
    val h = Seq(
      (Some(1L), 10L, Some(0.7), 41L, "b", date("2023-02-02")),
      (Some(6L), 50L, Some(2.0), 43L, "d", date("2024-04-04")),
      (None, 20L, None, 47L, "a", date("2025-03-03")),
      (Some(2L), 10L, Some(9.5), 53L, "c", date("2023-09-09")),
      (Some(3L), 30L, Some(0.1), 59L, "a", date("2024-11-11")))
      .toDF("k1", "k2", "w", "v", "s", "dt")
    val d = Seq((1L, 0L, "xa"), (1L, 1L, "yb"), (2L, 1L, "xc"),
      (3L, 0L, "yd"), (6L, 1L, "xe")).toDF("m1", "a", "t")
    val e = Seq((10L, 1L), (20L, 0L), (30L, 1L), (50L, 0L))
      .toDF("j2", "b")
    // domains exactly at the 1024-value probe cap and one past it
    val cap = (0 until 1025).map { i =>
      ((i % 1024).toLong, i.toLong, if (i % 2 == 0) 1L else 2L)
    }.toDF("c1024", "c1025", "m")
    registerTables(Seq("gs_f" -> f, "gs_h" -> h, "gs_d" -> d,
      "gs_e" -> e, "gs_cap" -> cap))
  }

  /** One source shape of the generated cross product: its FROM clause,
    * an optional WHERE it always carries (the EXISTS / NOT IN forms),
    * its column choices and its WHERE / FILTER forms. */
  private case class Src(name: String, from: String,
      baseWhere: Option[String], c: String, dc: String, w: String,
      g1: String, g2: String, derived: String, conj: String,
      dnf: String, filt: String, cross: String)

  private val sources: Seq[Src] = {
    val scanCols = ("f.w", "f.k2", "f.w", "f.k2", "f.s", "year(f.dt)")
    def fSrc(name: String, from: String, base: Option[String]) = Src(
      name, from, base, scanCols._1, scanCols._2, scanCols._3,
      scanCols._4, scanCols._5, scanCols._6,
      conj = "f.w <= 6.5 AND f.s != 'c'",
      dnf = "(f.k2 = 10 OR f.s = 'c')",
      filt = "f.w >= 2.0",
      cross = "f.w >= CAST(f.k2 AS DOUBLE)")
    val join2 = "gs_f f JOIN gs_d d ON f.k1 = d.m1"
    val unionRenamed = "(SELECT k1 AS x, k2 AS g, w AS y, s AS z, " +
      "dt AS day FROM gs_f UNION ALL SELECT k1 AS x, k2 AS g, w AS y, " +
      "s AS z, dt AS day FROM gs_h) u"
    val unionStars = "(SELECT f.k2 AS g, f.w AS y, f.s AS z, " +
      "f.dt AS day, d.a AS da FROM gs_f f JOIN gs_d d ON f.k1 = d.m1 " +
      "WHERE f.w <= 6.5 UNION ALL SELECT h.k2 AS g, h.w AS y, " +
      "h.s AS z, h.dt AS day, d.a AS da FROM gs_h h " +
      "JOIN gs_d d ON h.k1 = d.m1) u"
    Seq(
      Src("scan", "gs_f f", None, "f.w", "f.k2", "f.w", "f.k2", "f.s",
        "year(f.dt)", conj = "f.k1 <= 2 AND f.s != 'b'",
        dnf = "(f.k1 = 1 OR f.s = 'c')", filt = "f.w >= 2.0",
        cross = "f.w >= CAST(f.k1 AS DOUBLE)"),
      Src("join2", join2, None, "f.w", "d.a", "f.w", "d.a", "f.s",
        "year(f.dt)", conj = "f.w <= 6.5 AND d.a = 1",
        dnf = "(f.k2 = 10 OR f.s = 'c')", filt = "d.t LIKE 'x%'",
        cross = "f.w >= CAST(d.a AS DOUBLE)"),
      Src("chain3", s"$join2 JOIN gs_e e ON d.a = e.b", None, "f.w",
        "e.j2", "f.w", "e.j2", "d.a", "year(f.dt)",
        conj = "f.s != 'b' AND e.j2 <= 30",
        dnf = "(d.t = 'xa' OR d.t = 'yd')", filt = "e.j2 >= 20",
        cross = "f.w >= CAST(e.j2 AS DOUBLE)"),
      Src("star", s"$join2 JOIN gs_e e ON f.k2 = e.j2", None, "f.w",
        "d.t", "f.w", "e.b", "d.a", "year(f.dt)",
        conj = "d.a = 1 AND e.b = 1", dnf = "(f.s = 'a' OR f.w > 5.0)",
        filt = "d.t LIKE 'x%' AND e.b = 1", cross = "d.a = e.b"),
      fSrc("semi", "gs_f f", Some("EXISTS (SELECT 1 FROM gs_d d " +
        "WHERE d.m1 = f.k1 AND d.a >= 1)")),
      fSrc("anti", "gs_f f",
        Some("NOT EXISTS (SELECT 1 FROM gs_d d WHERE d.m1 = f.k1)")),
      fSrc("naanti", "gs_f f",
        Some("f.k1 NOT IN (SELECT d.m1 FROM gs_d d)")),
      Src("left", "gs_f f LEFT JOIN gs_d d ON f.k1 = d.m1", None, "d.t",
        "d.a", "f.w", "d.a", "f.s", "year(f.dt)",
        conj = "f.w <= 6.5 AND f.s != 'b'",
        dnf = "(f.k2 = 10 OR f.s = 'c')", filt = "d.t LIKE 'x%'",
        cross = "f.w >= CAST(d.a AS DOUBLE)"),
      Src("right", "gs_f f RIGHT JOIN gs_d d ON f.k1 = d.m1", None,
        "f.w", "d.a", "f.w", "d.a", "f.s", "year(f.dt)",
        conj = "d.a = 1 AND d.t != 'yb'", dnf = "(d.a = 0 OR d.t = 'xc')",
        filt = "f.w >= 2.0", cross = "f.w >= CAST(d.a AS DOUBLE)"),
      Src("full", "gs_f f FULL JOIN gs_d d ON f.k1 = d.m1", None, "d.t",
        "d.a", "f.w", "d.a", "f.s", "year(f.dt)",
        conj = "f.w <= 6.5 AND f.s != 'b'",
        dnf = "(f.k2 = 10 OR f.s = 'c')", filt = "d.t LIKE 'x%'",
        cross = "f.w >= CAST(d.a AS DOUBLE)"),
      Src("union", unionRenamed, None, "u.y", "u.g", "u.y", "u.g", "u.z",
        "year(u.day)", conj = "u.x <= 2 AND u.z != 'b'",
        dnf = "(u.g = 10 OR u.z = 'c')", filt = "u.y >= 2.0",
        cross = "u.y >= CAST(u.x AS DOUBLE)"),
      Src("exists_join", "gs_f f JOIN gs_e e ON f.k2 = e.j2",
        Some("EXISTS (SELECT 1 FROM gs_d d WHERE d.m1 = f.k1)"), "f.w",
        "e.b", "f.w", "e.b", "f.s", "year(f.dt)",
        conj = "f.w <= 6.5 AND e.b = 1", dnf = "(f.s = 'a' OR f.w > 5.0)",
        filt = "e.b = 1", cross = "f.w >= CAST(e.b AS DOUBLE)"),
      Src("outer_tree", "gs_f f LEFT JOIN gs_d d ON f.k1 = d.m1 " +
        "JOIN gs_e e ON f.k2 = e.j2", None, "d.t", "d.a", "f.w", "d.a",
        "e.b", "year(f.dt)", conj = "f.w <= 6.5 AND e.b = 1",
        dnf = "(f.s = 'a' OR f.w > 5.0)", filt = "e.b = 1",
        cross = "f.w >= CAST(e.b AS DOUBLE)"),
      Src("union_stars", unionStars, None, "u.y", "u.da", "u.y", "u.g",
        "u.da", "year(u.day)", conj = "u.da = 1 AND u.z != 'b'",
        dnf = "(u.g = 10 OR u.z = 'c')", filt = "u.y >= 2.0",
        cross = "u.y >= CAST(u.da AS DOUBLE)"))
  }

  private val whereForms = Seq("none", "conj", "dnf", "filter", "cross")

  private val aggShapes = Seq("count_star", "count_col", "count_distinct",
    "sum", "avg", "min", "max", "multi", "key1", "key2", "derived")

  private def text(src: Src, shape: String, form: String): String = {
    val fc = form match {
      case "filter" => s" FILTER (WHERE ${src.filt})"
      case "cross" => s" FILTER (WHERE ${src.cross})"
      case _ => ""
    }
    val where = (src.baseWhere.toSeq ++ (form match {
      case "conj" => Seq(src.conj)
      case "dnf" => Seq(src.dnf)
      case _ => Nil
    })) match {
      case Seq() => ""
      case ws => ws.mkString(" WHERE ", " AND ", "")
    }
    val w = src.w
    val (select, groupBy) = shape match {
      case "count_star" => (s"count(*)$fc AS n", Nil)
      case "count_col" => (s"count(${src.c})$fc AS n", Nil)
      case "count_distinct" => (s"count(DISTINCT ${src.dc})$fc AS n", Nil)
      case "sum" | "avg" | "min" | "max" => (s"$shape($w)$fc AS x", Nil)
      case "multi" => (s"count(*) AS n, sum($w)$fc AS sw, " +
        s"min($w) AS mw, count(DISTINCT ${src.dc}) AS dd", Nil)
      case "key1" => (s"${src.g1} AS k, count(*) AS n, sum($w)$fc AS sw",
        Seq(src.g1))
      case "key2" => (s"${src.g1} AS k, ${src.g2} AS k2, count(*) AS n, " +
        s"max($w)$fc AS mw, count(${src.c}) AS nc", Seq(src.g1, src.g2))
      case "derived" => (s"${src.derived} AS y, count(*) AS n, " +
        s"avg($w)$fc AS aw", Seq(src.derived))
    }
    val gb = if (groupBy.isEmpty) "" else groupBy.mkString(" GROUP BY ", ", ", "")
    s"SELECT $select FROM ${src.from}$where$gb"
  }

  private val generated: Seq[(String, String)] = for {
    src <- sources; shape <- aggShapes; form <- whereForms
  } yield (s"${src.name}/$shape/$form", text(src, shape, form))

  private val capTexts: Seq[(String, String)] = {
    val capJoin = "gs_cap c JOIN gs_d d ON c.m = d.m1"
    Seq(
      "cap/key_at_cap" -> "SELECT c1024, count(*) AS n FROM gs_cap GROUP BY c1024",
      "cap/key_past_cap" -> "SELECT c1025, count(*) AS n FROM gs_cap GROUP BY c1025",
      "cap/distinct_at_cap" -> "SELECT count(DISTINCT c1024) AS n FROM gs_cap",
      "cap/distinct_past_cap" -> "SELECT count(DISTINCT c1025) AS n FROM gs_cap",
      "cap/sum_at_cap" -> "SELECT sum(c1024) AS x FROM gs_cap",
      "cap/sum_past_cap" -> "SELECT sum(c1025) AS x FROM gs_cap",
      "cap/max_at_cap_where" ->
        "SELECT max(c1024) AS x FROM gs_cap WHERE m = 1",
      "cap/multi_at_cap" ->
        "SELECT count(*) AS n, min(c1024) AS x FROM gs_cap WHERE m = 2",
      "cap/multi_past_cap" ->
        "SELECT count(*) AS n, min(c1025) AS x FROM gs_cap WHERE m = 2",
      "cap/join_key_at_cap" ->
        s"SELECT c.c1024, count(*) AS n FROM $capJoin GROUP BY c.c1024",
      "cap/join_key_past_cap" ->
        s"SELECT c.c1025, count(*) AS n FROM $capJoin GROUP BY c.c1025",
      "cap/join_sum_at_cap" -> s"SELECT sum(c.c1024) AS x FROM $capJoin",
      "cap/join_sum_past_cap" -> s"SELECT sum(c.c1025) AS x FROM $capJoin",
      "cap/join_count_col_past_cap" ->
        s"SELECT count(c.c1025) AS n FROM $capJoin",
      "cap/semi_min_at_cap" -> ("SELECT min(c1024) AS x FROM gs_cap c " +
        "WHERE EXISTS (SELECT 1 FROM gs_d d WHERE d.m1 = c.m)"),
      "cap/semi_min_past_cap" -> ("SELECT min(c1025) AS x FROM gs_cap c " +
        "WHERE EXISTS (SELECT 1 FROM gs_d d WHERE d.m1 = c.m)"),
      "cap/outer_key_at_cap" -> ("SELECT c.c1024, count(*) AS n FROM " +
        "gs_cap c LEFT JOIN gs_d d ON c.m = d.m1 GROUP BY c.c1024"),
      "cap/union_distinct_at_cap" -> ("SELECT count(DISTINCT x) AS n " +
        "FROM (SELECT c1024 AS x FROM gs_cap UNION ALL " +
        "SELECT c1024 AS x FROM gs_cap WHERE m = 1)"),
      "cap/union_distinct_past_cap" -> ("SELECT count(DISTINCT x) AS n " +
        "FROM (SELECT c1025 AS x FROM gs_cap UNION ALL " +
        "SELECT c1025 AS x FROM gs_cap WHERE m = 1)"),
      "cap/union_key_at_cap" -> ("SELECT x, count(*) AS n FROM " +
        "(SELECT c1024 AS x FROM gs_cap UNION ALL SELECT c1024 AS x " +
        "FROM gs_cap WHERE m = 1) GROUP BY x"))
  }

  /** The composition shapes [[GraftExtensionsSpec]] sends, re-posed
    * over this spec's fixtures. */
  private val specTexts: Seq[(String, String)] = {
    val u = "SELECT * FROM gs_f UNION ALL SELECT * FROM gs_h"
    val star = "gs_f f JOIN gs_d d ON f.k1 = d.m1"
    Seq(
      "spec/count_conj" -> "SELECT count(*) FROM gs_f WHERE k2 <= 20 AND s = 'a'",
      "spec/count_vocab" -> ("SELECT count(*) FROM gs_f WHERE s IN ('a', 'b') " +
        "AND k2 NOT IN (10, 40) AND s != 'c' AND w IS NOT NULL"),
      "spec/count_in_set" -> ("SELECT count(*) FROM gs_f WHERE v IN " +
        "(5, 7, 11, 13, 17, 19, 23, 29, 31, 37, 41)"),
      "spec/count_is_null" -> "SELECT count(*) FROM gs_f WHERE w IS NULL",
      "spec/count_like" -> "SELECT count(*) FROM gs_d WHERE t LIKE 'x%'",
      "spec/count_like_infix" -> "SELECT count(*) FROM gs_d WHERE t LIKE '%b'",
      "spec/not_in_null" -> "SELECT count(*) FROM gs_f WHERE s NOT IN ('a', NULL)",
      "spec/or_cap" -> ("SELECT count(*) FROM gs_f WHERE v = 5 OR v = 7 OR " +
        "v = 11 OR v = 13 OR v = 17 OR v = 19 OR v = 23 OR v = 29 OR v = 31"),
      "spec/or_unsupported" ->
        "SELECT count(*) FROM gs_f WHERE k2 = 10 OR w > CAST(v AS DOUBLE)",
      "spec/distinct_select" -> "SELECT DISTINCT s FROM gs_f",
      "spec/distinct_alias" -> "SELECT DISTINCT s AS x FROM gs_f",
      "spec/group_null" -> "SELECT k1, count(*) AS n FROM gs_f GROUP BY k1",
      "spec/group_computed_alias" ->
        "SELECT abs(k2) AS k2, count(*) AS n FROM gs_f GROUP BY abs(k2)",
      "spec/group_month" ->
        "SELECT month(dt) AS mo, count(*) AS n FROM gs_f GROUP BY month(dt)",
      "spec/group_substr" -> ("SELECT substring(t, 1, 1) AS p, count(*) AS n " +
        "FROM gs_d GROUP BY substring(t, 1, 1)"),
      "spec/group_div" ->
        "SELECT v DIV 10 AS b, count(*) AS n FROM gs_f GROUP BY v DIV 10",
      "spec/group_cast_date" -> ("SELECT CAST(CAST(dt AS TIMESTAMP) AS DATE) " +
        "AS d2, count(*) AS n FROM gs_f GROUP BY CAST(CAST(dt AS TIMESTAMP) AS DATE)"),
      "spec/group_trunc_month" -> ("SELECT date_trunc('month', " +
        "CAST(dt AS TIMESTAMP)) AS m, count(*) AS n FROM gs_f " +
        "GROUP BY date_trunc('month', CAST(dt AS TIMESTAMP))"),
      "spec/filter_through_rename" -> ("SELECT x, count(*) FILTER " +
        "(WHERE y >= 2.0) AS n FROM (SELECT k2 AS x, w AS y FROM gs_f) " +
        "GROUP BY x"),
      "spec/filter_through_computed" -> ("SELECT x, count(*) FILTER " +
        "(WHERE y >= 2.0) AS n FROM (SELECT k2 AS x, abs(w) AS y " +
        "FROM gs_f) GROUP BY x"),
      "spec/sum_long" -> "SELECT sum(v) AS x FROM gs_f",
      "spec/sum_distinct" -> "SELECT sum(DISTINCT w) AS x FROM gs_f",
      "spec/avg_distinct" -> "SELECT avg(DISTINCT k2) AS x FROM gs_f",
      "spec/min_string" -> "SELECT min(s) AS x FROM gs_f",
      "spec/max_date" -> "SELECT max(dt) AS x FROM gs_f",
      "spec/sum_empty" -> "SELECT sum(w) AS x FROM gs_f WHERE k2 >= 100",
      "spec/count_distinct_filter" ->
        "SELECT count(DISTINCT s) FILTER (WHERE k2 = 10) AS n FROM gs_f",
      "spec/count_star_filter_unparsed" -> ("SELECT count(*) FILTER " +
        "(WHERE w > CAST(v AS DOUBLE)) AS n FROM gs_f"),
      "spec/cast_around_agg" -> "SELECT CAST(sum(v) AS DOUBLE) AS x FROM gs_f",
      "spec/union_sum_where" -> s"SELECT sum(w) AS x FROM ($u) WHERE k2 <= 20",
      "spec/union_count_col" -> s"SELECT count(w) AS n FROM ($u)",
      "spec/union_key_value_cells" -> (s"SELECT k2, sum(w) AS sw, " +
        s"count(DISTINCT w) AS dw, min(w) AS mw, avg(w) AS aw FROM ($u) " +
        "GROUP BY k2"),
      "spec/union_null_branch" -> ("SELECT k2, sum(w) AS sw FROM (" +
        "SELECT * FROM gs_f WHERE w IS NULL UNION ALL " +
        "SELECT * FROM gs_h WHERE w IS NULL) GROUP BY k2"),
      "spec/union_filter_cells" -> (s"SELECT k2, count(*) AS n, " +
        "count(w) FILTER (WHERE w >= 4.0) AS nf, " +
        s"sum(w) FILTER (WHERE w <= 4.0) AS sf FROM ($u) GROUP BY k2"),
      "spec/union_rename_group" -> ("SELECT x, count(*) AS n, count(y) " +
        "AS ny FROM (SELECT f.k2 AS x, d.a AS y FROM gs_f f " +
        "LEFT JOIN gs_d d ON f.k1 = d.m1 UNION ALL " +
        "SELECT k2 AS x, k1 AS y FROM gs_h WHERE w <= 4.0) GROUP BY x"),
      "spec/join_no_edge_cross" ->
        "SELECT count(*) FROM gs_f f JOIN gs_d d ON f.k1 < d.m1",
      "spec/join_residual" -> ("SELECT count(*) FROM gs_f f JOIN gs_d d " +
        "ON f.k1 = d.m1 AND f.w > CAST(d.a AS DOUBLE)"),
      "spec/join_composite" -> ("SELECT count(*) FROM gs_f f JOIN gs_h h " +
        "ON f.k1 = h.k1 AND f.k2 = h.k2"),
      "spec/join_same_name_keys" -> ("SELECT f.s, count(*) AS n FROM " +
        "gs_f f JOIN gs_h h ON f.k2 = h.k2 GROUP BY f.s"),
      "spec/join_cross_where" -> (s"SELECT count(*) FROM $star " +
        "WHERE f.k2 = 10 OR d.a = 1"),
      "spec/join_filter_zero_group" -> ("SELECT d.a AS grp, count(*) " +
        s"FILTER (WHERE f.w >= 100.0) AS nf FROM $star GROUP BY d.a"),
      "spec/join_filter_both_leaves" -> ("SELECT f.k2 AS grp, count(f.w) " +
        "FILTER (WHERE d.a = 1 AND f.w <= 6.0) AS nb, avg(f.w) FILTER " +
        s"(WHERE d.t != 'yb') AS aw FROM $star GROUP BY f.k2"),
      "spec/exists_two_tables" -> (s"SELECT count(*) FROM $star WHERE " +
        "EXISTS (SELECT 1 FROM gs_e e WHERE e.j2 = f.k2 AND e.b = d.a)"),
      "spec/exists_nested" -> ("SELECT count(*) FROM gs_f f WHERE EXISTS " +
        "(SELECT 1 FROM gs_d d WHERE d.m1 = f.k1 AND EXISTS " +
        "(SELECT 1 FROM gs_e e WHERE e.b = d.a))"),
      "spec/exists_over_tree" -> ("SELECT count(*) FROM gs_f f WHERE EXISTS " +
        "(SELECT 1 FROM gs_d d JOIN gs_e e ON d.a = e.b WHERE d.m1 = f.k1)"),
      "spec/in_subquery" ->
        "SELECT count(*) FROM gs_f f WHERE f.k2 IN (SELECT e.j2 FROM gs_e e)",
      "spec/not_in_tuple" -> ("SELECT count(*) FROM gs_f f WHERE " +
        "(f.k1, f.k2) NOT IN (SELECT h.k1, h.k2 FROM gs_h h)"),
      "spec/outer_star" -> (s"SELECT count(*) FROM $star LEFT JOIN gs_e e " +
        "ON f.k2 = e.j2"),
      "spec/outer_star_group" -> (s"SELECT d.a AS grp, count(*) AS n " +
        s"FROM $star LEFT JOIN gs_e e ON f.k2 = e.j2 GROUP BY d.a"),
      "spec/outer_filter_is_null" -> ("SELECT count(*) FILTER (WHERE " +
        "d.t IS NULL) AS nn FROM gs_f f LEFT JOIN gs_d d ON f.k1 = d.m1"),
      "spec/outer_composite" -> ("SELECT count(*) FROM gs_f f LEFT JOIN " +
        "gs_h h ON f.k1 = h.k1 AND f.k2 = h.k2"),
      "spec/outer_shared_names" -> ("SELECT count(h.w) AS n FROM gs_f f " +
        "FULL JOIN gs_h h ON f.k1 = h.k1"),
      "spec/outer_right_key_group" -> ("SELECT f.s AS grp, count(*) AS n, " +
        "sum(d.a) AS sa FROM gs_f f RIGHT JOIN gs_d d ON f.k1 = d.m1 " +
        "GROUP BY f.s"),
      "spec/having" -> ("SELECT k2, count(*) AS n FROM gs_f GROUP BY k2 " +
        "HAVING count(*) >= 2"),
      "spec/multi_distinct" ->
        "SELECT count(DISTINCT k2) AS a, count(DISTINCT s) AS b FROM gs_f",
      "spec/multi_zero_rows" ->
        "SELECT count(*) AS n, sum(w) AS sw FROM gs_f WHERE w >= 100.0",
      "spec/group_by_non_key_expr" -> ("SELECT k2 + 1 AS k, count(*) AS n " +
        "FROM gs_f GROUP BY k2 + 1"))
  }

  private def render(v: Any, exactBits: Boolean): String = v match {
    case null => "N"
    case d: Double =>
      if (exactBits) "d" + java.lang.Long.toHexString(
        java.lang.Double.doubleToRawLongBits(d))
      else "d" + String.format(java.util.Locale.ROOT, "%.12g",
        java.lang.Double.valueOf(d))
    case x => x.getClass.getSimpleName + ":" + x.toString
  }

  private def digest(rows: Seq[Row], exactBits: Boolean): String = {
    val text = rows.map(_.toSeq.map(render(_, exactBits)).mkString("|"))
      .sorted.mkString("\n")
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(text.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
  }

  /** Rows as comparable sequences, sorted on a double-tolerant key. */
  private def sortedRows(rows: Seq[Row]): Seq[Seq[Any]] =
    rows.map(_.toSeq).sortBy(_.map(render(_, exactBits = false)).mkString("|"))

  private def close(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      x == y || math.abs(x - y) <= 1e-9 * math.max(math.abs(x), math.abs(y))
    case _ => a == b
  }

  /** One corpus line: `name <TAB> fires <TAB> digest`, plus the texts
    * whose fired answer disagrees with the exact plan. */
  private def runText(name: String, sql: String): (String, Option[String]) = {
    spark.conf.set(GraftRuntime.EnabledKey, "true")
    val df = spark.sql(sql)
    val fires =
      df.queryExecution.optimizedPlan.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.logical.LocalRelation]
    val rows = df.collect().toSeq
    val mismatch = if (!fires) None else {
      spark.conf.set(GraftRuntime.EnabledKey, "false")
      val exact = sortedRows(spark.sql(sql).collect().toSeq)
      val got = sortedRows(rows)
      val same = exact.size == got.size && exact.zip(got).forall {
        case (x, y) => x.size == y.size && x.zip(y).forall {
          case (a, b) => close(a, b) }
      }
      if (same) None else Some(s"$name: got $got want $exact")
    }
    (s"$name\t$fires\t${digest(rows, exactBits = fires)}", mismatch)
  }

  private def goldenCheck(resource: String, lines: Seq[String]): Unit = {
    val stream = getClass.getResourceAsStream(resource)
    val golden =
      if (stream == null) Nil
      else try scala.io.Source.fromInputStream(stream, "UTF-8")
        .getLines().filter(_.nonEmpty).toList
      finally stream.close()
    if (golden != lines) {
      val out = new java.io.File("target",
        resource.split('/').last.replace(".tsv", ".actual.tsv"))
      out.getParentFile.mkdirs()
      java.nio.file.Files.write(out.toPath,
        lines.mkString("", "\n", "\n").getBytes("UTF-8"))
      val diff = lines.zipAll(golden, "<none>", "<none>")
        .filter { case (a, b) => a != b }.take(20)
        .map { case (a, b) => s"  got  $a\n  want $b" }
      fail(s"$resource: ${lines.size} lines vs ${golden.size} golden; " +
        s"observed lines written to $out\n${diff.mkString("\n")}")
    }
  }

  test("golden corpus: every text keeps its rewrite decision and bits") {
    GraftRuntime.clear()
    fixtures()
    try {
      val corpus = generated ++ capTexts ++ specTexts
      assert(corpus.map(_._1).distinct.size == corpus.size)
      val results = corpus.map { case (n, q) => runText(n, q) }
      goldenCheck("/graft/plans/approx_count_golden.tsv", results.map(_._1))
      val wrong = results.flatMap(_._2)
      assert(wrong.isEmpty, wrong.mkString("\n"))
    } finally {
      spark.conf.set(GraftRuntime.EnabledKey, "false")
      GraftRuntime.clear()
    }
  }

  test("q_approx catalog entries keep their answers at sf0.001") {
    GraftRuntime.clear()
    val dir = "/root/testdata/sf0.001"
    val names = graft.Queries.queries.keys.filter(_.startsWith("q_approx_"))
      .toSeq.sorted
    assert(names.size >= 50, names)
    // an entry whose own gate trips at this scale is pinned by the
    // first line of its failure (its plan text carries run-varying ids)
    val lines = names.map { n =>
      try {
        val rows = graft.Queries.queries(n)(spark, dir).collect().toSeq
        s"$n\t${digest(rows, exactBits = true)}"
      } catch {
        case e: Exception =>
          s"$n\terror ${e.getClass.getSimpleName}: " +
            String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")
      }
    }
    spark.conf.set(GraftRuntime.EnabledKey, "false")
    goldenCheck("/graft/plans/approx_entries_golden.tsv", lines)
  }
}
