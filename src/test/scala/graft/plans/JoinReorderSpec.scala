package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Estimator-driven JOIN ORDER: beyond the broadcast-vs-shuffle flip
  * (JoinPlanSpec), injected model cardinalities must steer Catalyst's
  * cost-based join reorder — the dimension the model says is smaller
  * after its filter joins FIRST, whichever side the query text puts
  * it on. Needs the `withExtensions` session: `EstimatedStatsRule`
  * must run in the pre-CBO slot so `CostBasedJoinReorder` sees the
  * injected `rowCount`s (the `extraOptimizations` attach path runs
  * after reorder and cannot steer it).
  */
class JoinReorderSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var base: String = _

  override def beforeAll(): Unit = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.cbo.enabled", "true")
      .config("spark.sql.cbo.joinReorder.enabled", "true")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    base = java.nio.file.Files.createTempDirectory("graft_reord").toString
    spark.range(20000)
      .select(col("id"), (col("id") % 50).as("ka"), (col("id") % 40).as("kb"),
        (col("id") % 1000).as("fa"),
        md5(col("id").cast("string")).as("payload"))
      .write.mode("overwrite").parquet(s"$base/reord_facts")
    spark.range(30000)
      .select((col("id") % 50).as("dak"), (col("id") % 1000).as("da"),
        md5((col("id") + 3).cast("string")).as("pa"))
      .write.mode("overwrite").parquet(s"$base/reord_dima")
    spark.range(30000)
      .select((col("id") % 40).as("dbk"), (col("id") % 1000).as("db"),
        md5((col("id") + 5).cast("string")).as("pb"))
      .write.mode("overwrite").parquet(s"$base/reord_dimb")
  }

  override def afterAll(): Unit = {
    GraftRuntime.clear()
    if (spark != null) spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** F ⋈ A ⋈ B as written — A always joins first in the query text. */
  private def query(): DataFrame = {
    val f = spark.read.parquet(s"$base/reord_facts").filter(col("fa") <= 999)
    val a = spark.read.parquet(s"$base/reord_dima").filter(col("da") <= 1)
    val b = spark.read.parquet(s"$base/reord_dimb").filter(col("db") <= 1)
    f.join(a, f("ka") === a("dak"))
      .join(b, f("kb") === b("dbk"))
      .agg(count(lit(1)).as("n"))
  }

  /** Which dimension the innermost (first-executed) join touches. */
  private def firstJoinedDim(df: DataFrame): String = {
    val joins = df.queryExecution.optimizedPlan.collect { case j: Join => j }
    val inner = joins.find(j => j.children.forall(
      _.collect { case jj: Join => jj }.isEmpty))
      .getOrElse(fail("no innermost join found"))
    val attrs = inner.output.map(_.name).toSet
    if (attrs.contains("dak")) "A"
    else if (attrs.contains("dbk")) "B"
    else fail(s"innermost join touches neither dim: $attrs")
  }

  private def withEstimates(estA: Long, estB: Long)(body: => Unit): Unit = {
    val saved = GraftRuntime.snapshot()
    GraftRuntime.register("reord_facts", Set("fa"), _ => 20000L)
    GraftRuntime.register("reord_dima", Set("da"), _ => estA)
    GraftRuntime.register("reord_dimb", Set("db"), _ => estB)
    spark.conf.set(EstimatedStatsRule.EnabledKey, "true")
    try body
    finally {
      spark.conf.set(EstimatedStatsRule.EnabledKey, "false")
      GraftRuntime.restore(saved)
    }
  }

  test("join order follows the model: the smaller estimated dim joins first") {
    // identical files, so size-only stats cannot distinguish A from B;
    // the model's cardinalities are the only asymmetry
    withEstimates(estA = 10L, estB = 25000L) {
      assert(firstJoinedDim(query()) == "A",
        "model says A' is tiny: A should stay first")
    }
    withEstimates(estA = 25000L, estB = 10L) {
      assert(firstJoinedDim(query()) == "B",
        "model says B' is tiny: reorder should move B first")
    }
  }

  test("reorder never changes results") {
    val expected = query().collect().map(_.toSeq).toSet
    withEstimates(estA = 25000L, estB = 10L) {
      assert(query().collect().map(_.toSeq).toSet == expected)
    }
  }

  /** The NDV channel (r16): when estimated ROW COUNTS are identical on
    * both dims — so rowcount-only costing cannot rank the two joins —
    * injected per-key distinct counts are the only asymmetry, and
    * JoinEstimation's rows_l x rows_r / max(ndv_l, ndv_r) must move the
    * high-NDV (more selective) key's join innermost. Both directions
    * asserted, so the flip is attributable to the NDVs alone. */
  private def ks(ndv: Long, maxKey: Long) =
    Some(GraftRuntime.KeyStat(ndv, nullCount = Some(0L),
      min = Some(0L), max = Some(maxKey)))

  private def withNdvEstimates(ndvA: Long, ndvB: Long)(body: => Unit): Unit = {
    val saved = GraftRuntime.snapshot()
    GraftRuntime.register("reord_facts", Set("fa"), _ => 20000L,
      keyStats = (c, _) => c match {
        case "ka" => ks(50L, 49L)
        case "kb" => ks(40L, 39L)
        case _ => None
      })
    GraftRuntime.register("reord_dima", Set("da"), _ => 5000L,
      keyStats = (c, _) => if (c == "dak") ks(ndvA, 49L) else None)
    GraftRuntime.register("reord_dimb", Set("db"), _ => 5000L,
      keyStats = (c, _) => if (c == "dbk") ks(ndvB, 39L) else None)
    spark.conf.set(EstimatedStatsRule.EnabledKey, "true")
    try body
    finally {
      spark.conf.set(EstimatedStatsRule.EnabledKey, "false")
      GraftRuntime.restore(saved)
    }
  }

  test("learned NDVs rank joins when row counts tie") {
    // ndv(dak)=5000 -> A-join card 20000*5000/5000 = 2e4;
    // ndv(dbk)=40   -> B-join card 20000*5000/40   = 2.5e6: A first.
    withNdvEstimates(ndvA = 5000L, ndvB = 40L) {
      assert(firstJoinedDim(query()) == "A",
        "high-NDV key A should join innermost")
    }
    // Mirror image must flip to B — everything except the NDVs is
    // symmetric, so the flip is the NDV channel working.
    withNdvEstimates(ndvA = 50L, ndvB = 5000L) {
      assert(firstJoinedDim(query()) == "B",
        "high-NDV key B should join innermost")
    }
  }

  test("NDV-driven reorder never changes results") {
    val expected = query().collect().map(_.toSeq).toSet
    withNdvEstimates(ndvA = 50L, ndvB = 5000L) {
      assert(query().collect().map(_.toSeq).toSet == expected)
    }
  }
}
