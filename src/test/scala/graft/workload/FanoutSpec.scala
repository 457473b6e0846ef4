package graft.workload

import java.util.concurrent.{CountDownLatch, FutureTask, TimeUnit}

import scala.concurrent.{ExecutionContext, Future}

import graft.Fanout
import graft.query.{Op, Pred}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** [[Fanout]] runs its calls on threads it owns: `Workload.trueCards`
  * past one count-if chunk completes while every thread of the global
  * ExecutionContext is held, with the answers of its chunks run one
  * after another. */
class FanoutSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("map keeps the input order and rethrows the first failure") {
    assert(Fanout.map(1 to 50)(k => { Thread.sleep(50 - k); k * k }) == (1 to 50).map(k => k * k))
    val e = intercept[IllegalStateException] {
      Fanout.map(1 to 9)(k => if (k % 4 == 3) throw new IllegalStateException(s"k$k") else k)
    }
    assert(e.getMessage == "k3")
  }

  test("trueCards past one chunk completes while the global pool is held") {
    val df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    // 150 queries: three count-if chunks of at most 64.
    val queries = (0 until 150).map(k => Seq(
      Pred("l_quantity", Op.Leq, (k % 50 + 1).toDouble),
      Pred("l_discount", Op.Geq, (k % 11) / 100.0)))
    val sequential = queries.grouped(64).flatMap(Workload.trueCards(df, _)).toSeq
    assert(sequential.distinct.size > 10)

    val threads = Runtime.getRuntime.availableProcessors()
    val started = new CountDownLatch(threads)
    val release = new CountDownLatch(1)
    // Plain blocking calls, without `blocking`: the pool adds no thread.
    for (_ <- 0 until 2 * threads) Future {
      started.countDown()
      release.await()
    }(ExecutionContext.global)
    try {
      assert(started.await(30, TimeUnit.SECONDS), "the global pool's threads did not all start")
      val call = new FutureTask(() => Workload.trueCards(df, queries).toSeq)
      val t = new Thread(call, "trueCards")
      t.setDaemon(true)
      t.start()
      assert(call.get(120, TimeUnit.SECONDS) == sequential)
    } finally release.countDown()
  }
}
