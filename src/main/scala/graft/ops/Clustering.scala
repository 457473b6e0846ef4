package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed Lloyd's k-means over an embedding column.
  *
  * The reference pipelines cluster embeddings for IVF index training and
  * SemDeDup-style semantic grouping; [[Similarity.kmeansCentroids]] covers
  * the sampled driver-side training path (how a production system trains a
  * small codebook). This is the complementary FULL-DATA path: every
  * iteration is one map-side pass over the vectors with the centroids
  * broadcast, reduced to k partial rows — the exact shape MLlib's KMeans
  * uses, so it holds at 100 TB:
  *
  *  - the vectors never shuffle; only (cell, count, sumVec) partials move,
  *    and `reduceByKey` combines them map-side first, so the shuffle is
  *    O(partitions · k · dim) doubles regardless of row count;
  *  - centroid state is k·dim doubles broadcast per iteration (KBs);
  *  - the final assignment is one more broadcast map — no join.
  *
  * The argmin runs in JVM code over the broadcast float matrix rather than
  * as a Catalyst expression tree: a k·dim-term expression costs seconds of
  * analysis alone (the measured finding documented at
  * [[Similarity.ivfTopK]]), so this sits in the repo's audited
  * mapPartitions exception class.
  */
object Clustering {

  final case class KMeansModel(
      centroids: Array[Array[Double]],
      iters: Int,
      converged: Boolean)

  private def nearest(v: Seq[Float], cs: Array[Array[Double]]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < cs.length) {
      var d = 0.0
      var i = 0
      while (i < cs(c).length) {
        val diff = v(i) - cs(c)(i)
        d += diff * diff
        i += 1
      }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Run Lloyd's iterations from `init` until the max squared centroid
    * shift drops below `tol` or `maxIters` is reached. Empty cells keep
    * their previous centroid (deterministic; no reseeding, so the result
    * is a pure function of data + init).
    */
  def lloyds(df: DataFrame, embCol: String,
      init: Array[Array[Double]], maxIters: Int = 10,
      tol: Double = 1e-12): KMeansModel = {
    require(init.nonEmpty, "k-means needs at least one initial centroid")
    val spark = df.sparkSession
    // Lloyd's re-reads the data once per iteration; cache the projected
    // vectors (MEMORY_AND_DISK, MLlib's own choice) so iterations 2..n
    // skip the scan, and release the blocks before returning.
    val vecs = df.select(col(embCol)).rdd.map(_.getSeq[Float](0))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dim = init(0).length
    var centroids = init.map(_.clone())
    var iter = 0
    var converged = false
    while (iter < maxIters && !converged) {
      val bc = spark.sparkContext.broadcast(centroids)
      // (cell) -> (count, per-dim sums): partials combine map-side, so
      // at most numPartitions·k tiny records reach the k reducers and
      // exactly k rows reach the driver.
      val partials = vecs.mapPartitions { rows =>
        val cs = bc.value
        val counts = new Array[Long](cs.length)
        val sums = Array.fill(cs.length)(new Array[Double](dim))
        rows.foreach { v =>
          val c = nearest(v, cs)
          counts(c) += 1L
          var i = 0
          while (i < dim) { sums(c)(i) += v(i); i += 1 }
        }
        Iterator.tabulate(cs.length)(c => (c, (counts(c), sums(c))))
      }.reduceByKey { (a, b) =>
        val s = a._2
        var i = 0
        while (i < dim) { s(i) += b._2(i); i += 1 }
        (a._1 + b._1, s)
      }.collect()
      bc.destroy()
      val next = centroids.map(_.clone())
      partials.foreach { case (c, (n, s)) =>
        if (n > 0L) { var i = 0; while (i < dim) { next(c)(i) = s(i) / n; i += 1 } }
      }
      val shift = centroids.zip(next).map { case (a, b) =>
        a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
      }.max
      centroids = next
      iter += 1
      if (shift < tol) converged = true
    }
    vecs.unpersist(blocking = false)
    KMeansModel(centroids, iter, converged)
  }

  /** Assign every row to its nearest centroid: one broadcast map, no
    * shuffle, preserving `idCol` for downstream joins/censuses.
    */
  def assign(df: DataFrame, idCol: String, embCol: String,
      centroids: Array[Array[Double]]): DataFrame = {
    val spark = df.sparkSession
    val bc = spark.sparkContext.broadcast(centroids)
    val rows = df.select(col(idCol).cast("long"), col(embCol))
      .rdd.map { r =>
        Row(r.getLong(0), nearest(r.getSeq[Float](1), bc.value))
      }
    val schema = StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField("cluster", IntegerType, nullable = false)))
    spark.createDataFrame(rows, schema)
  }

  /** Squared L2 distance between two centroid vectors (driver-side,
    * used by callers to require() planted-separation contracts). */
  def sqDist(a: Array[Double], b: Array[Double]): Double =
    a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
}
