package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.est.{BayesNet, BayesNetEstimator}

/** Scratch profiler for the wide-BN fit (round-7 ask #4). */
object ProfileBn {
  def main(args: Array[String]): Unit = {
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val li = graft.core.Tables.read(spark, d, "lineitem")
    li.filter(col("l_orderkey") > 0).groupBy("l_returnflag").count().collect()
    def time[T](tag: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[profile] $tag: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }
    val wideCols = Seq("l_returnflag", "l_linestatus", "l_quantity",
      "l_discount", "l_tax", "l_shipdate")
    val df = li.select(wideCols.map(col): _*)
    val bn = time("fitRebinned")(
      BayesNet.fitRebinned(df, "lineitem", wideCols, maxBins = 64))
    val est = new BayesNetEstimator(bn, numSamples = 2000)
    val W3 = Queries.W3
    time("query1")(est.query(W3))
    time("query2")(est.query(W3))
    spark.stop()
  }
}
