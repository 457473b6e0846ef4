package graft.ops

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Reliable-checkpoint mode for [[Iterate]] (VERDICT r12 ask #6): the
  * local path trades fault-tolerance for speed — a lost executor loses
  * its localCheckpoint blocks AND the truncated lineage to rebuild
  * them. `reliableEvery = N` bounds that loss to N rounds of recompute
  * from a durable snapshot. These tests pin the property that matters:
  * the reliable path is RESULT- and PLAN-SHAPE-equivalent to the local
  * path (same rows, same constant-size lineage-truncated plans), so a
  * caller can flip it on for a multi-hour cluster run without
  * re-validating the algorithm.
  */
class IterateReliableSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var ckptDir: java.nio.file.Path = _

  override def beforeAll(): Unit = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    ckptDir = java.nio.file.Files.createTempDirectory("graft_reliable_ckpt")
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  // A convergent min-label propagation step over a fixed path graph —
  // the same shape the production loops (CC, k-core, PageRank) use.
  private def edges = {
    val s = spark
    import s.implicits._
    (0L until 63L).map(i => (i, i + 1)).toDF("src", "dst")
  }
  private def init = {
    import org.apache.spark.sql.functions._
    edges.select(explode(array(col("src"), col("dst"))).as("id")).distinct()
      .withColumn("comp", col("id"))
  }
  private def step(cur: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.functions._
    val e = edges
    val contrib = e.join(cur, e("dst") === cur("id"))
      .select(e("src").as("id"), col("comp"))
    cur.unionByName(contrib).groupBy("id").agg(min(col("comp")).as("comp"))
  }

  test("reliable path needs a configured checkpoint dir, local does not") {
    spark.sparkContext.setCheckpointDir(null)
    // Local path: fine without a dir.
    Iterate.iterate(init, 2)(step).count()
    val e = intercept[IllegalArgumentException] {
      Iterate.iterate(init, 2, reliableEvery = 1)(step).count()
    }
    assert(e.getMessage.contains("setCheckpointDir"))
  }

  test("reliable and local paths are result- and plan-shape-equivalent") {
    spark.sparkContext.setCheckpointDir(ckptDir.toString)
    val local = Iterate.iterate(init, 4)(step)
    val reliable = Iterate.iterate(init, 4, reliableEvery = 2)(step)
    // Same rows.
    assert(reliable.orderBy("id").collect().toSeq ==
      local.orderBy("id").collect().toSeq)
    // Same constant, lineage-truncated plan shape: one RDD-backed leaf
    // each, regardless of round count (the whole point of Iterate).
    def leaves(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.collectLeaves()
    assert(leaves(local).size == 1 && leaves(reliable).size == 1,
      s"expected 1 leaf each, got ${leaves(local).size} local / " +
        s"${leaves(reliable).size} reliable")
    assert(leaves(reliable).head.getClass == leaves(local).head.getClass,
      "reliable truncation must produce the same leaf node class")
    // And the reliable run actually wrote a durable snapshot.
    val wrote = java.nio.file.Files.walk(ckptDir).count()
    assert(wrote > 1, s"no checkpoint files under $ckptDir")
  }

  test("serialized local truncation is result- and plan-shape-" +
    "equivalent and stores SER blocks") {
    import org.apache.spark.storage.StorageLevel
    val local = Iterate.iterate(init, 4)(step)
    val ser = Iterate.iterate(init, 4,
      storageLevel = Some(StorageLevel.MEMORY_AND_DISK_SER))(step)
    assert(ser.orderBy("id").collect().toSeq ==
      local.orderBy("id").collect().toSeq)
    def leaves(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.collectLeaves()
    assert(leaves(ser).size == 1,
      "serialized truncation must keep the constant one-leaf plan")
    // The final round's blocks really are serialized (deserialized is
    // Spark's localCheckpoint default — the level override is the
    // whole point: several-fold smaller retained rounds for big-state
    // loops, PLANS r14).
    @scala.annotation.nowarn("cat=deprecation")
    def levels = spark.sparkContext.getRDDStorageInfo.toSeq
      .map(_.storageLevel)
    assert(levels.exists(l => !l.deserialized && l.useMemory),
      s"expected a serialized in-memory level among $levels")
  }

  test("auto-posture: pool-small state stays deserialized, pool-large " +
    "plan stats select serialized blocks") {
    import org.apache.spark.storage.StorageLevel
    // Clear blocks left by earlier tests (the SER test above persists
    // serialized rounds whose cleaner release is GC-timed).
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    // Small init: the estimate (63 rows x 2 longs x 3 retained rounds)
    // is far under half the storage pool -> no override, Spark's
    // deserialized localCheckpoint default stands (it is FASTER while
    // it fits — the r14 sweep's decision data).
    assert(Iterate.autoStorageLevel(init).isEmpty)
    // A plan whose statistics alone exceed the pool (never executed —
    // the heuristic reads optimizedPlan.stats only): 2^32 rows x 8 B
    // x 3 rounds >> any test heap's storage pool -> SER for local
    // rounds, with NO env knob set (VERDICT r14 ask #4).
    val big = spark.range(1L << 32).toDF("id")
    assert(Iterate.autoStorageLevel(big)
      .contains(StorageLevel.MEMORY_AND_DISK_SER))
    // End-to-end through iterate(): a small-state loop must leave NO
    // serialized block behind (the auto path must not flip posture
    // when the estimate fits).
    Iterate.iterate(init, 3)(step).count()
    @scala.annotation.nowarn("cat=deprecation")
    def serLevels = spark.sparkContext.getRDDStorageInfo.toSeq
      .map(_.storageLevel).filter(l => !l.deserialized && l.useMemory)
    assert(serLevels.isEmpty,
      s"small-state auto run must stay deserialized, got $serLevels")
  }

  test("auto-posture prices a join of known row counts with the row " +
    "model, not its inflated byte size") {
    // Catalyst sizes a join as the product of its children's byte sizes
    // and drops the row count: twelve copies of a materialized 2-row
    // cache cross-join to 4096 rows (~1 MB under the row model) whose
    // plan claims far more than the storage pool, as a blown-up join
    // estimate did on a tiny dedup state.
    val small = spark.range(2).toDF("c0").cache()
    small.count()
    val df = (1 until 12).foldLeft(small) { (acc, i) =>
      acc.crossJoin(small.toDF(s"c$i"))
    }
    val stats = df.queryExecution.optimizedPlan.stats
    val pool = spark.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum
    assert(stats.rowCount.isEmpty && stats.sizeInBytes > BigInt(pool),
      s"precondition: rowCount=${stats.rowCount} sizeInBytes=${stats.sizeInBytes} pool=$pool")
    try assert(Iterate.autoStorageLevel(df).isEmpty)
    finally small.unpersist(true)
  }

  test("iterateUntil converges identically under reliable truncation") {
    spark.sparkContext.setCheckpointDir(ckptDir.toString)
    import org.apache.spark.sql.functions._
    def fp(df: org.apache.spark.sql.DataFrame): Long =
      df.agg(coalesce(sum(col("comp")), lit(0L))).head().getLong(0)
    val (l, rl, cl) = Iterate.iterateUntil(init, 20)(step)(fp)
    val (r, rr, cr) =
      Iterate.iterateUntil(init, 20, reliableEvery = 3)(step)(fp)
    assert(cl && cr, "both paths must converge on a 64-node path graph")
    assert(rl == rr, s"round counts diverged: $rl local vs $rr reliable")
    assert(r.orderBy("id").collect().toSeq ==
      l.orderBy("id").collect().toSeq)
  }
}
