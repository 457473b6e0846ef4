package graft

import graft.core.Dictionary
import graft.query.Op
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The shared-resource registry's derived tables, and the keyed caches'
  * keys and setup-ledger charging. */
class SharedRegistrySpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val dir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def drainLedger(): Seq[String] =
    Iterator.continually(KeyedCache.setupBuildLog.poll())
      .takeWhile(_ != null).map(_._1).toSeq

  test("derived consumer sets and build order equal the hand-kept tables " +
    "they replace") {
    val edges = Set("q_bfs_hops", "q_graph_assort", "q_hits",
      "q_kcore_peel", "q_pagerank", "q_triangle_count")
    val baskets = Set("q_bfs_hops", "q_item_cf", "q_triangle_count") ++ edges
    val cc = Set("q_dedup_cluster_sizes", "q_dedup_components",
      "q_dedup_keep_best", "q_leakage_split")
    val pairs = Set("q_cc_star", "q_minhash_accuracy", "q_minhash_err_md5",
      "q_modularity", "q_ngram_jaccard") ++ cc
    val shingles = Set("q_containment", "q_decontaminate",
      "q_dedup_keep_best_eq", "q_jaccard_prefix", "q_minhash_accuracy",
      "q_minhash_err_md5", "q_minhash_lsh_md5") ++ pairs
    assert(Queries.sharedConsumers === Map(
      "cooc_baskets" -> baskets,
      "cooc_edges" -> edges,
      "dedup_pairs" -> pairs,
      "pair_stats" -> (pairs + "q_containment"),
      "doc_shingles" -> shingles,
      "dedup_cc" -> cc,
      "doc_spans" -> Set("q_span_dedup", "q_span_dup_stats"),
      "classifier_scores" -> Set("q_classifier_gate", "q_quality_classifier"),
      "containment_pairs" -> Set("q_containment"),
      "sketch_refs" -> Set("q_sketch_accuracy", "q_sketch_bounds")))
    assert(Queries.sharedBuildOrder === Seq(
      "doc_shingles", "pair_stats", "dedup_pairs", "dedup_cc",
      "containment_pairs", "doc_spans", "cooc_baskets", "cooc_edges",
      "classifier_scores", "sketch_refs"))
  }

  test("registry sorts deps stably, closes consumers downstream and " +
    "schedules builds and releases from them") {
    val a = new Shared("a", Nil, Set("e1"))((_, _) => 1)
    val b = new Shared("b", Seq(a), Set("e2"))((_, _) => 2)
    val c = new Shared("c", Seq(b), Set("e3"))((_, _) => 3)
    val x = new Shared("x", Nil, Set("e2"))((_, _) => 4)
    // Declared downstream-first: the sort must still place deps first,
    // keeping declaration order among ready resources.
    val reg = new SharedRegistry(Seq(c, x, a, b))
    assert(reg.buildOrder === Seq("x", "a", "b", "c"))
    assert(reg.prereqs === Map("b" -> Seq("a"), "c" -> Seq("b")))
    assert(reg.consumers === Map("a" -> Set("e1", "e2", "e3"),
      "b" -> Set("e2", "e3"), "c" -> Set("e3"), "x" -> Set("e2")))
    assert(reg.releaseAfter(Seq("e1", "e2", "e3")) ===
      Map("e2" -> Seq("x"), "e3" -> Seq("a", "b", "c")))
    assert(reg.releaseAfter(Seq("e1", "e2")) ===
      Map("e2" -> Seq("x", "a", "b")))
    assert(reg.unbuiltFor("e3", spark, "d") === Seq("a", "b", "c"))
    a(spark, "d")
    assert(reg.unbuiltFor("e3", spark, "d") === Seq("b", "c"))
    assert(reg.unbuiltFor("e1", spark, "d") === Nil)
    reg("a").release(spark, "d")
    assert(!a.isBuilt(spark, "d"))
    intercept[IllegalArgumentException](reg("nope"))
    intercept[IllegalArgumentException](new SharedRegistry(Seq(b)))
  }

  test("lineitemWorkload keys on the table meta, not only (dir, n)") {
    val cols = Seq("l_returnflag", "l_linestatus", "l_quantity",
      "l_discount", "l_tax")
    val df = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(cols.map(org.apache.spark.sql.functions.col): _*)
    val meta = Dictionary.tableMeta(df, "lineitem", cols)
    // Under 10 values the generator forces equality on a column, so a
    // narrowed l_quantity domain must change the workload.
    val narrow = meta.copy(columns = meta.columns.map(c =>
      if (c.name == "l_quantity") c.copy(domain = c.domain.take(5)) else c))
    val n = 40
    val wide = Queries.lineitemWorkload(spark, dir, meta, n)
    assert(wide.flatten.exists(p => p.col == "l_quantity" && p.op != Op.Eq),
      "precondition: the full-domain workload has a range on l_quantity")
    val narrowed = Queries.lineitemWorkload(spark, dir, narrow, n)
    assert(narrowed.flatten.filter(_.col == "l_quantity").forall(_.op == Op.Eq),
      "a second meta for the same (dir, n) got the first meta's workload")
    assert(Queries.lineitemWorkload(spark, dir, meta, n) eq wide)
  }

  test("setup labels keep digits apart and mask only the pid") {
    import KeyedCache.setupLabel
    assert(setupLabel("lx_", "/x/d1.parquet|k1") !=
      setupLabel("lx_", "/x/d2.parquet|k1"))
    assert(setupLabel("cm_", "/x/t.parquet|k1") !=
      setupLabel("cm_", "/x/t.parquet|k2"))
    assert(setupLabel("drv_", "/tmp/graft_gridw/_x_sf0_1_4242", pid = 4242) ===
      setupLabel("drv_", "/tmp/graft_gridw/_x_sf0_1_977", pid = 977))
    // Digits that merely contain the pid are data, not the pid.
    assert(setupLabel("drv_", "/tmp/a_14242_b", pid = 4242) !=
      setupLabel("drv_", "/tmp/a_14243_b", pid = 4243))
  }

  test("grid and join workload derivations charge the ledger on the " +
    "first call only") {
    // A private copy of the events table: the derivations are cached per
    // process, so a dir another suite already used would charge nothing.
    val d = java.nio.file.Files.createTempDirectory("graft_ledger").toString
    try {
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/events.parquet"),
        java.nio.file.Paths.get(s"$d/events.parquet"))
      drainLedger()
      Queries.gridWorkloadData(spark, d)
      val grid = drainLedger()
      assert(grid.count(_.startsWith("_build_drv_")) === 1, grid)
      assert(grid.count(_.startsWith("_build_lx_")) === 1, grid)
      Queries.gridWorkloadData(spark, d)
      assert(drainLedger().isEmpty)

      Queries.joinWorkloadData(spark, d)
      val join = drainLedger()
      assert(join.count(_.startsWith("_build_drv_")) === 1, join)
      assert(join.filter(_.startsWith("_build_lx_")).distinct.size === 4,
        join)
      Queries.joinWorkloadData(spark, d)
      assert(drainLedger().isEmpty)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d))
  }
}
