package graft.est

import graft.core.{ColumnMeta, TableMeta}
import graft.nn.{Made, Trainer, Transformer}
import graft.nn.Trainer.ConstantLr
import graft.query.{Op, Pred}
import org.apache.spark.sql.types.IntegerType
import org.scalatest.funsuite.AnyFunSuite

/** Golden bits of the progressive samplers' estimates. Each check folds
  * the `doubleToRawLongBits` of a seeded query set's `selectivity` into
  * one digest and compares it with a literal. A change to the sampler's
  * arithmetic, its rng draw order or the model's forward changes a
  * digest; a change to how the sampler batches its forwards must not.
  *
  * Models are trained on 64-tuple minibatches, as in
  * [[graft.nn.TransformerKernelSpec]], so no training step forks and the
  * digests hold on any core count; inference rows are computed
  * independently of the batch they sit in.
  */
class EstimateGoldenSpec extends AnyFunSuite {

  private def meta(bins: Array[Int]): TableMeta = TableMeta("t", 100000L,
    bins.indices.map { c =>
      ColumnMeta(s"c$c", IntegerType,
        Array.tabulate(bins(c))(identity).map(_.asInstanceOf[Any]),
        hasNull = false)
    })

  /** A skewed, correlated table, so a trained model is not uniform. */
  private def data(bins: Array[Int], n: Int, seed: Long): Array[Array[Int]] = {
    val rng = new java.util.Random(seed)
    Array.fill(n) {
      val a = rng.nextInt(bins(0))
      Array.tabulate(bins.length)(c =>
        if (c == 0) a else (a * (c + 2) + rng.nextInt(1 + bins(c) / 3)) % bins(c))
    }
  }

  /** `n` seeded conjunctions over 1–3 columns. */
  private def queries(bins: Array[Int], n: Int, seed: Long): Seq[Seq[Pred]] = {
    val ops = Array[Op](Op.Leq, Op.Geq, Op.Eq)
    val rng = new java.util.Random(seed)
    Seq.fill(n) {
      val cols = scala.util.Random.javaRandomToRandom(rng)
        .shuffle(bins.indices.toList).take(1 + rng.nextInt(3))
      cols.map(c => Pred(s"c$c", ops(rng.nextInt(3)), rng.nextInt(bins(c))))
    }
  }

  private def digest(selectivity: Seq[Pred] => Double,
      qs: Seq[Seq[Pred]]): Long = {
    var h = 1125899906842597L
    for (q <- qs)
      h = 31 * h + java.lang.Double.doubleToRawLongBits(selectivity(q))
    h
  }

  private def train(m: graft.nn.Trainable, d: Array[Array[Int]]): Unit =
    Trainer.train(m, d, epochs = 1, batchSize = 64,
      schedule = ConstantLr(5e-3f), seed = 3)

  private val binsT = Array(3, 7, 4, 11, 6)
  private val binsM = Array(4, 3, 51, 12, 10)
  // Wide domains first: with 1000 paths, ~360 distinct values of c0 and
  // then nearly one (c0, c1) prefix per path.
  private val binsW = Array(400, 250, 6)

  private val pinned: Map[String, Long] = Map(
    "transformer/sc=false" -> 2130011665979970190L,
    "transformer/sc=true" -> 5942341589629859060L,
    "multimask" -> -133158020855232454L,
    "ensemble" -> -6349895279017951095L,
    "wide" -> 196227574265532122L,
    "sample" -> 5730765918784579622L,
    "msample" -> -3826797949449329243L)

  private def check(got: Seq[(String, Long)]): Unit = {
    val exp = got.map { case (k, _) => k -> pinned(k) }
    assert(got == exp, got.mkString("\n", "\n", ""))
  }

  test("Transformer selectivities keep their pinned bits, shortcircuit off and on") {
    val m = new Transformer(5, binsT, dModel = 12, dFf = 20, numHeads = 3,
      numBlocks = 2, columnMasking = true,
      fixedOrdering = Array(2, 0, 4, 1, 3), seed = 8)
    train(m, data(binsT, 192, 5))
    val qs = queries(binsT, 20, 9)
    check(for (sc <- Seq(false, true)) yield s"transformer/sc=$sc" ->
      digest(new ProgressiveSampling(m, meta(binsT), numSamples = 1000,
        shortcircuit = sc, seed = 21L).selectivity, qs))
  }

  test("MultiMaskProgressiveSampling over a 3-mask MADE keeps its pinned bits") {
    val m = new Made(5, Seq(40, 40), binsM, inputEncoding = "one_hot",
      residual = true, doDirectIo = true, columnMasking = true,
      numMasks = 3, seed = 9)
    train(m, data(binsM, 192, 6))
    check(Seq("multimask" -> digest(new MultiMaskProgressiveSampling(m,
      meta(binsM), numSamples = 900, shortcircuit = true,
      seed = 22L).selectivity, queries(binsM, 20, 10))))
  }

  test("EnsembleProgressiveSampling of two MADEs keeps its pinned bits") {
    val d = data(binsM, 192, 7)
    val samplers = Seq(null, Array(4, 2, 0, 3, 1)).zipWithIndex.map {
      case (ord, k) =>
        val m = new Made(5, Seq(32, 32), binsM, inputEncoding = "one_hot",
          residual = true, fixedOrdering = ord, seed = 13 + k)
        train(m, d)
        new ProgressiveSampling(m, meta(binsM), numSamples = 1000,
          seed = 23L + k)
    }
    check(Seq("ensemble" -> digest(
      new EnsembleProgressiveSampling(samplers).selectivity,
      queries(binsM, 20, 11))))
  }

  test("wide-range queries on large-domain columns keep their pinned bits") {
    val m = new Made(3, Seq(32), binsW, inputEncoding = "one_hot", seed = 17)
    train(m, data(binsW, 192, 8))
    val rng = new java.util.Random(12)
    val qs = Seq.fill(8) {
      val lo = rng.nextInt(40)
      Seq(Pred("c0", Op.Geq, lo), Pred("c0", Op.Leq, 360 + rng.nextInt(40)),
        Pred("c2", Op.Leq, 2 + rng.nextInt(4)))
    }
    check(Seq("wide" -> digest(new ProgressiveSampling(m, meta(binsW),
      numSamples = 1000, seed = 24L).selectivity, qs)))
  }

  test("SampleFromModel draws keep their pinned bits") {
    // The benchmark's ResMADE shape: a 2000-row forward forks every layer.
    val m = new Made(5, Seq(64, 64), binsM, inputEncoding = "one_hot",
      residual = true, doDirectIo = true, columnMasking = true, seed = 11123L)
    train(m, data(binsM, 192, 13))
    var h = 1125899906842597L
    for (t <- m.sample(2000, new java.util.Random(26)); v <- t) h = 31 * h + v
    val sm = new SampleFromModel(m, meta(binsM), numSamplesPerQuery = 2000,
      seed = 27L)
    check(Seq("sample" -> h,
      "msample" -> digest(q => sm.query(q).toDouble, queries(binsM, 10, 14))))
  }
}
