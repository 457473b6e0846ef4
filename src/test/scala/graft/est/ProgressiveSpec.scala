package graft.est

import graft.core.{ColumnMeta, TableMeta}
import graft.nn.Made
import graft.query.{Op, Pred}
import org.apache.spark.sql.types.IntegerType
import org.scalatest.funsuite.AnyFunSuite

/** ProgressiveSampling vs brute-force model marginalization on tiny
  * domains (SURVEY §5: property test; the model's joint has ≤ 60 states
  * so the exact answer is enumerable).
  */
class ProgressiveSpec extends AnyFunSuite {

  private val bins = Array(3, 4, 5)
  private def mkMeta(card: Long): TableMeta = TableMeta("t", card,
    Seq("a", "b", "c").zip(bins).map { case (n, k) =>
      ColumnMeta(n, IntegerType,
        Array.tabulate(k)(identity).map(_.asInstanceOf[Any]), hasNull = false)
    })

  /** Exact p(tuple) under the model: product of per-column softmax
    * conditionals, via one forward per tuple batch. */
  private def exactProb(model: Made, preds: Seq[Pred], meta: TableMeta): Double = {
    val tuples = for {
      a <- 0 until bins(0); b <- 0 until bins(1); c <- 0 until bins(2)
    } yield Array(a, b, c)
    val byCol = Pred.fillWildcards(meta, preds)
    val valid: Array[Array[Boolean]] = Array.tabulate(3) { nat =>
      val ps = byCol(nat)
      if (ps.isEmpty) Array.fill(bins(nat))(true)
      else {
        val masks = ps.map(_.domainMask(meta.columns(nat)))
        Array.tabulate(bins(nat))(j => masks.forall(_(j)))
      }
    }
    val data = tuples.toArray
    val logits = model.forward(data, train = false)
    var total = 0.0
    for ((t, r) <- data.zipWithIndex
         if t.zipWithIndex.forall { case (v, c) => valid(c)(v) }) {
      var logp = 0.0
      for (c <- 0 until 3) {
        val colLogits = model.logitsForCol(c, logits, data.length)
        val base = r * bins(c)
        var mx = Float.NegativeInfinity
        for (j <- 0 until bins(c)) mx = math.max(mx, colLogits(base + j))
        var sum = 0.0
        for (j <- 0 until bins(c)) sum += math.exp(colLogits(base + j) - mx)
        logp += colLogits(base + t(c)) - mx - math.log(sum)
      }
      total += math.exp(logp)
    }
    total
  }

  private def trainedModel(columnMasking: Boolean = false): Made = {
    val model = new Made(3, Seq(16), bins, inputEncoding = "one_hot",
      columnMasking = columnMasking, seed = 3)
    // A short training run on correlated data gives a non-degenerate,
    // non-uniform joint to estimate against.
    val rng = new java.util.Random(5)
    val data = Array.fill(256) {
      val a = rng.nextInt(3)
      val b = (a + rng.nextInt(2)) % 4
      val c = (b + rng.nextInt(3)) % 5
      Array(a, b, c)
    }
    val opt = new graft.nn.Adam(model.params, lr = 5e-3f)
    for (_ <- 0 until 30) {
      opt.zeroGrad()
      val logits = model.forward(data, train = true)
      val (_, grad) = model.nllWithGrad(logits, data, data.length)
      model.backward(grad, data.length)
      opt.step()
    }
    model
  }

  test("estimate matches exact marginalization, all columns queried") {
    val model = trainedModel()
    val meta = mkMeta(100000L)
    val preds = Seq(Pred("a", Op.Leq, 1), Pred("b", Op.Geq, 1),
      Pred("c", Op.Eq, 2))
    val exact = exactProb(model, preds, meta)
    val ps = new ProgressiveSampling(model, meta, numSamples = 4000)
    val est = ps.selectivity(preds)
    assert(math.abs(est - exact) <= 0.05 * exact + 0.005,
      s"est=$est exact=$exact")
  }

  test("estimate matches exact marginalization with wildcards (no shortcircuit)") {
    val model = trainedModel()
    val meta = mkMeta(100000L)
    val preds = Seq(Pred("c", Op.Geq, 2)) // a, b wildcards
    val exact = exactProb(model, preds, meta)
    val ps = new ProgressiveSampling(model, meta, numSamples = 4000)
    val est = ps.selectivity(preds)
    assert(math.abs(est - exact) <= 0.05 * exact + 0.005,
      s"est=$est exact=$exact")
  }

  test("shortcircuit path equals full path when every column is queried") {
    val model = trainedModel(columnMasking = true)
    val meta = mkMeta(100000L)
    val preds = Seq(Pred("a", Op.Eq, 1), Pred("b", Op.Leq, 2),
      Pred("c", Op.Geq, 1))
    val exact = exactProb(model, preds, meta)
    val full = new ProgressiveSampling(model, meta, 4000).selectivity(preds)
    val sc = new ProgressiveSampling(model, meta, 4000,
      shortcircuit = true).selectivity(preds)
    assert(math.abs(full - exact) <= 0.05 * exact + 0.005, s"full=$full exact=$exact")
    assert(math.abs(sc - exact) <= 0.05 * exact + 0.005, s"sc=$sc exact=$exact")
  }

  test("multi-ordering ensemble averages per-ordering estimates") {
    val meta = mkMeta(100000L)
    val preds = Seq(Pred("a", Op.Leq, 1), Pred("c", Op.Geq, 2))
    // Two models over different orderings, same training data.
    val rng = new java.util.Random(5)
    val data = Array.fill(256) {
      val a = rng.nextInt(3)
      val b = (a + rng.nextInt(2)) % 4
      val c = (b + rng.nextInt(3)) % 5
      Array(a, b, c)
    }
    val samplers = Seq(null, Array(2, 1, 0)).map { ord =>
      val m = new Made(3, Seq(16), bins, inputEncoding = "one_hot",
        seed = 3, fixedOrdering = ord)
      val opt = new graft.nn.Adam(m.params, lr = 5e-3f)
      for (_ <- 0 until 30) {
        opt.zeroGrad()
        val logits = m.forward(data, train = true)
        val (_, grad) = m.nllWithGrad(logits, data, data.length)
        m.backward(grad, data.length)
        opt.step()
      }
      new ProgressiveSampling(m, meta, numSamples = 2000)
    }
    val ens = new EnsembleProgressiveSampling(samplers)
    val est = ens.selectivity(preds)
    // Each selectivity() call draws fresh sample paths, so compare
    // statistically: the ensemble must sit near the mean of independent
    // per-ordering runs (2000 paths each -> sub-1% noise here).
    val parts = samplers.map(_.selectivity(preds))
    assert(math.abs(est - parts.sum / 2) < 0.01,
      s"est=$est parts=${parts.mkString(",")}")
  }

  test("vanished paths do not poison the estimate") {
    val model = trainedModel()
    val meta = mkMeta(100000L)
    // An impossible conjunct: c = 4 AND c = 0 (mask all false).
    val preds = Seq(Pred("c", Op.Eq, 4), Pred("c", Op.Eq, 0))
    val ps = new ProgressiveSampling(model, meta, numSamples = 500)
    assert(ps.selectivity(preds) == 0.0)
    assert(ps.query(preds) == 0L)
  }

  test("SampleFromModel agrees with exact marginalization statistically") {
    val model = trainedModel()
    val meta = mkMeta(100000L)
    val preds = Seq(Pred("a", Op.Leq, 1), Pred("c", Op.Geq, 2))
    val exact = exactProb(model, preds, meta)
    val sm = new SampleFromModel(model, meta, numSamplesPerQuery = 8000)
    val est = sm.query(preds).toDouble / meta.cardinality
    assert(math.abs(est - exact) <= 0.1 * exact + 0.01, s"est=$est exact=$exact")
  }

  /** Test-only [[ArModel]] that forwards every call to `inner` and
    * records each forward's batch and the number of distinct rows in its
    * input. */
  private final class CountingArModel(inner: ArModel) extends ArModel {
    val batches = scala.collection.mutable.ArrayBuffer[Int]()
    val distinctRows = scala.collection.mutable.ArrayBuffer[Int]()
    def nin: Int = inner.nin
    def inputBins: Array[Int] = inner.inputBins
    def ordering: Array[Int] = inner.ordering
    def columnMasking: Boolean = inner.columnMasking
    def totalInputSize: Int = inner.totalInputSize
    def encodeColumn(naturalIdx: Int, values: Array[Int], out: Array[Float],
        batch: Int): Unit = inner.encodeColumn(naturalIdx, values, out, batch)
    def forwardEncoded(inp: Array[Float], batch: Int): Array[Float] = {
      val w = totalInputSize
      batches += batch
      distinctRows += (0 until batch)
        .map(r => inp.slice(r * w, (r + 1) * w).toSeq).distinct.size
      inner.forwardEncoded(inp, batch)
    }
    def logitsForCol(idx: Int, logits: Array[Float], batch: Int): Array[Float] =
      inner.logitsForCol(idx, logits, batch)
  }

  test("the model runs once per distinct sampled prefix, with pinned estimates") {
    val meta = mkMeta(100000L)
    // b is a wildcard sampled from its full conditional (no shortcircuit).
    val preds = Seq(Pred("a", Op.Leq, 1), Pred("c", Op.Geq, 2))
    val counting = new CountingArModel(trainedModel())
    val est = new ProgressiveSampling(counting, meta, numSamples = 2000,
      seed = 7L).selectivity(preds)
    assert(java.lang.Double.doubleToRawLongBits(est) == 4602466424728344142L,
      s"est=$est")
    assert(counting.batches.head == 1)
    assert(counting.batches == counting.distinctRows,
      s"batches=${counting.batches} distinct=${counting.distinctRows}")
    assert(counting.batches.forall(_ <= 2000))
  }

  test("diverging paths grow the groups up to numSamples") {
    // 400 × 250 leading domains: after two sampled columns nearly every
    // path has its own prefix.
    val wide = Array(400, 250, 6)
    val model = new Made(3, Seq(16), wide, inputEncoding = "one_hot", seed = 4)
    val meta = TableMeta("w", 100000L, Seq("a", "b", "c").zip(wide).map {
      case (n, k) => ColumnMeta(n, IntegerType,
        Array.tabulate(k)(identity).map(_.asInstanceOf[Any]), hasNull = false)
    })
    val counting = new CountingArModel(model)
    new ProgressiveSampling(counting, meta, numSamples = 1000, seed = 5L)
      .selectivity(Seq(Pred("a", Op.Geq, 10), Pred("c", Op.Leq, 3)))
    assert(counting.batches.head == 1)
    assert(counting.batches == counting.distinctRows)
    assert(counting.batches.last > 900 && counting.batches.last <= 1000,
      s"batches=${counting.batches}")
  }

  test("concurrent selectivity calls on one shared MADE and Transformer match serial") {
    val meta = mkMeta(100000L)
    val made = trainedModel(columnMasking = true)
    val tf = new graft.nn.Transformer(3, bins, dModel = 12, dFf = 20,
      numHeads = 3, numBlocks = 2, columnMasking = true, seed = 6)
    val rng = new java.util.Random(5)
    val data = Array.fill(192)(bins.map(rng.nextInt))
    graft.nn.Trainer.train(tf, data, epochs = 1, batchSize = 64, seed = 3)
    val qrng = new java.util.Random(9)
    val ops = Array[Op](Op.Leq, Op.Geq, Op.Eq)
    val qs = Seq.fill(12) {
      Seq("a", "b", "c").zip(bins).filter(_ => qrng.nextBoolean())
        .map { case (n, k) => Pred(n, ops(qrng.nextInt(3)), qrng.nextInt(k)) }
    }
    // (model, query, shortcircuit) jobs, each with its own seeded sampler.
    val jobs = for {
      m <- Seq[ArModel](made, tf); (q, i) <- qs.zipWithIndex
      sc <- Seq(false, true)
    } yield () => new ProgressiveSampling(m, meta, numSamples = 600,
      shortcircuit = sc, seed = 100L + i).selectivity(q)
    val serial = jobs.map(_())
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = jobs.map(j => pool.submit(new java.util.concurrent.Callable[Double] {
        def call(): Double = j()
      }))
      val concurrent = futures.map(_.get())
      assert(concurrent == serial)
    } finally pool.shutdown()
  }
}
