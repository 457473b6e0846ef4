package graft.nn

import org.scalatest.funsuite.AnyFunSuite

/** Transformer checks mirroring the reference's self-test
  * (transformer.py:601-651): autoregressiveness via embedding gradients,
  * plus finite-difference backprop verification and a learning test.
  */
class TransformerSpec extends AnyFunSuite {

  private val bins = Array(3, 4, 2, 5)

  test("autoregressiveness across natural/reversed/random orderings") {
    // Mirrors the reference's ordering test matrix (transformer.py:601-651).
    val orderings = Seq(null, Array(3, 2, 1, 0), Array(2, 0, 3, 1))
    for (ord <- orderings) {
      val model = new Transformer(4, bins, dModel = 16, dFf = 32,
        numHeads = 4, numBlocks = 2, fixedOrdering = ord, seed = 14)
      val ordering = model.ordering
      val rng = new java.util.Random(2)
      val data = Array(bins.map(b => rng.nextInt(b)))
      for (i <- 0 until 4; k <- Seq(0, model.dModel - 1)) {
        model.params.foreach(_.zeroGrad())
        val hidden = model.forward(data, train = false)
        val grad = new Array[Float](hidden.length)
        // Output for column i lives at its ORDER position.
        grad((0 * model.seqLen + ordering(i)) * model.dModel + k) = 1f
        model.backward(grad, 1)
        // (transformer.py:636-649): embeddings of columns at order
        // position >= ordering(i) must have zero gradient — output i
        // conditions only on columns earlier in the ordering.
        for (j <- 0 until 4 if ordering(j) >= ordering(i))
          assert(model.embeddings(j).grad.forall(_ == 0f),
            s"ord=${ordering.mkString(",")}: output col $i depends on embedding $j")
        // And some earlier-in-ordering embedding should receive gradient
        // (sanity that the check is not vacuous).
        if (ordering(i) > 0)
          assert((0 until 4).exists(j => ordering(j) < ordering(i) &&
            model.embeddings(j).grad.exists(_ != 0f)),
            s"ord=${ordering.mkString(",")}: no gradient reached any " +
              s"earlier embedding for output $i")
      }
    }
  }

  test("backprop matches finite differences") {
    val model = new Transformer(3, Array(3, 4, 2), dModel = 8, dFf = 16,
      numHeads = 2, numBlocks = 2, fixedOrdering = Array(2, 0, 1), seed = 5)
    val rng = new java.util.Random(3)
    val data = Array.fill(4)(Array(3, 4, 2).map(b => rng.nextInt(b)))

    def loss(): Double = {
      val hidden = model.forward(data, train = false)
      model.nll(hidden, data, data.length)
    }
    model.params.foreach(_.zeroGrad())
    val hidden = model.forward(data, train = false)
    val (_, gradH) = model.nllWithGrad(hidden, data, data.length)
    model.backward(gradH, data.length)

    // eps must be small relative to the 0.02-std embedding init — at
    // 1e-2 the central difference picks up curvature, not the gradient.
    val eps = 1e-3f
    var checked = 0
    for (p <- model.params; if p.data.nonEmpty) {
      val idxs = Seq(0, p.data.length / 2, p.data.length - 1).distinct
      for (i <- idxs) {
        val orig = p.data(i)
        p.data(i) = orig + eps; val lp = loss()
        p.data(i) = orig - eps; val lm = loss()
        p.data(i) = orig
        val numeric = (lp - lm) / (2 * eps)
        val analytic = p.grad(i)
        assert(math.abs(numeric - analytic) <= 2e-3 + 0.08 * math.abs(numeric),
          s"grad mismatch at param len=${p.data.length} idx=$i: " +
            s"analytic=$analytic numeric=$numeric")
        checked += 1
      }
    }
    assert(checked > 30)
  }

  test("training reduces NLL on a learnable synthetic table") {
    val rng = new java.util.Random(42)
    val tBins = Array(4, 4)
    val data = Array.fill(512) {
      val a = rng.nextInt(4)
      val b = if (rng.nextDouble() < 0.9) a else rng.nextInt(4)
      Array(a, b)
    }
    val model = new Transformer(2, tBins, dModel = 16, dFf = 32,
      numHeads = 2, numBlocks = 2, seed = 2)
    val opt = new Adam(model.params, lr = 5e-3f)
    def evalNll(): Double = {
      val hidden = model.forward(data, train = false)
      model.nll(hidden, data, data.length)
    }
    val before = evalNll()
    for (_ <- 0 until 80) {
      opt.zeroGrad()
      val hidden = model.forward(data, train = true)
      val (_, grad) = model.nllWithGrad(hidden, data, data.length)
      model.backward(grad, data.length)
      opt.step()
    }
    val after = evalNll()
    assert(after < before - 0.3, s"NLL did not improve: $before -> $after")
    assert(after / math.log(2) < 3.5, s"NLL ${after / math.log(2)} bits too high")
  }

  test("forwardEncoded is safe under concurrent callers with mixed batch sizes") {
    // Both families: the Transformer, and a single-mask ResMADE shaped
    // like the benchmark's (one-hot, residual, direct-io).
    val models = Seq[graft.est.ArModel](
      new Transformer(5, Array(3, 7, 4, 11, 6), dModel = 16,
        dFf = 32, numHeads = 2, numBlocks = 2, seed = 21),
      new Made(5, Seq(64, 64), Array(4, 3, 51, 12, 10),
        inputEncoding = "one_hot", residual = true, doDirectIo = true,
        columnMasking = true, seed = 21))
    for (model <- models) {
      val name = model.getClass.getSimpleName
      val sizes = Array(1, 7, 250, 2000)
      val rng = new java.util.Random(4)
      val inputs = sizes.map(b =>
        Array.fill(b * model.totalInputSize)((rng.nextGaussian() * 0.1).toFloat))
      val serial = sizes.indices.map(s => model.forwardEncoded(inputs(s).clone(), sizes(s)))
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      try {
        val calls = (0 until 8).map { t =>
          pool.submit(new java.util.concurrent.Callable[Int] {
            def call(): Int = (0 until 200).count { k =>
              val s = (t + k) % sizes.length
              !java.util.Arrays.equals(
                model.forwardEncoded(inputs(s).clone(), sizes(s)), serial(s))
            }
          })
        }
        val outcomes = calls.map(c => scala.util.Try(c.get()))
        val thrown = outcomes.collect { case scala.util.Failure(e) => e.getCause }
        assert(thrown.isEmpty, s"$name: ${thrown.size} of 8 threads threw: ${thrown.headOption}")
        val differing = outcomes.map(_.get).sum
        assert(differing == 0, s"$name: $differing of 1600 concurrent results differ from the serial ones")
      } finally pool.shutdownNow()
    }
  }

  test("training at odd batch sizes is deterministic, and a forked " +
    "forwardEncoded equals batch-1 calls") {
    val fBins = Array(4, 3, 51, 12, 10)
    def model() = new Transformer(5, fBins, dModel = 16, dFf = 32,
      numHeads = 2, numBlocks = 2, columnMasking = true, seed = 17)
    val rng = new java.util.Random(6)
    val data = Array.fill(1001)(fBins.map(rng.nextInt))
    // Batch 1001 forks (at 4 or more cores) over ranges that do not divide
    // it; 1 and 7 run inline. Each trains two steps per epoch.
    for (bs <- Seq(1, 7, 1001)) {
      val rows = data.take(math.min(2 * bs, data.length))
      val runs = Seq.fill(2) {
        val m = model()
        Trainer.train(m, rows, epochs = 2, batchSize = bs,
          schedule = Trainer.ConstantLr(5e-3f), seed = 8)
        m.params.map(_.data.clone())
      }
      assert(runs(0).zip(runs(1)).forall { case (a, b) =>
        java.util.Arrays.equals(a, b) }, s"batch $bs: two runs differ")
      assert(runs(0).forall(_.forall(v => !v.isNaN && !v.isInfinite)),
        s"batch $bs: a parameter is not finite")
    }
    // ProgressiveSampling's prefix groups rely on each sequence's hidden
    // states not depending on the batch around it.
    val m = model()
    Trainer.train(m, data.take(512), epochs = 1, batchSize = 256, seed = 2)
    val n = 2000
    val inp = new Array[Float](n * m.totalInputSize)
    for (c <- 0 until m.nin) {
      val values = Array.fill(n)(rng.nextInt(fBins(c)))
      m.encodeColumn(c, values, inp, n)
    }
    val whole = m.forwardEncoded(inp.clone(), n)
    val w = m.totalInputSize
    val differing = (0 until n).count { r =>
      val one = m.forwardEncoded(java.util.Arrays.copyOfRange(inp, r * w, (r + 1) * w), 1)
      !java.util.Arrays.equals(one, java.util.Arrays.copyOfRange(whole, r * w, (r + 1) * w))
    }
    assert(differing == 0, s"$differing of $n sequences differ from their batch-1 forward")
  }

  test("ProgressiveSampling drives the Transformer via ArModel") {
    for (ord <- Seq(null, Array(2, 1, 0))) psampleMatchesExact(ord)
  }

  private def psampleMatchesExact(ord: Array[Int]): Unit = {
    import graft.core.{ColumnMeta, TableMeta}
    import graft.est.ProgressiveSampling
    import graft.query.{Op, Pred}
    import org.apache.spark.sql.types.IntegerType
    val tBins = Array(3, 4, 5)
    // Train on correlated data so the joint is non-uniform.
    val rng = new java.util.Random(5)
    val data = Array.fill(256) {
      val a = rng.nextInt(3)
      val b = (a + rng.nextInt(2)) % 4
      val c = (b + rng.nextInt(3)) % 5
      Array(a, b, c)
    }
    val model = new Transformer(3, tBins, dModel = 16, dFf = 32,
      numHeads = 2, numBlocks = 2, fixedOrdering = ord, seed = 3)
    val opt = new Adam(model.params, lr = 5e-3f)
    for (_ <- 0 until 30) {
      opt.zeroGrad()
      val hidden = model.forward(data, train = true)
      val (_, grad) = model.nllWithGrad(hidden, data, data.length)
      model.backward(grad, data.length)
      opt.step()
    }
    val meta = TableMeta("t", 100000L,
      Seq("a", "b", "c").zip(tBins).map { case (n, k) =>
        ColumnMeta(n, IntegerType,
          Array.tabulate(k)(identity).map(_.asInstanceOf[Any]), hasNull = false)
      })
    // Exact marginalization of the model's joint via per-tuple forwards.
    val preds = Seq(Pred("a", Op.Leq, 1), Pred("b", Op.Geq, 1),
      Pred("c", Op.Eq, 2))
    val tuples = (for {
      a <- 0 until 3; b <- 0 until 4; c <- 0 until 5
    } yield Array(a, b, c)).toArray
    val hidden = model.forward(tuples, train = false)
    var exact = 0.0
    for ((t, r) <- tuples.zipWithIndex
         if t(0) <= 1 && t(1) >= 1 && t(2) == 2) {
      var logp = 0.0
      for (c <- 0 until 3) {
        val colLogits = model.logitsForCol(c, hidden, tuples.length)
        val dom = tBins(c)
        val base = r * dom
        var mx = Float.NegativeInfinity
        for (j <- 0 until dom) mx = math.max(mx, colLogits(base + j))
        var sum = 0.0
        for (j <- 0 until dom) sum += math.exp(colLogits(base + j) - mx)
        logp += colLogits(base + t(c)) - mx - math.log(sum)
      }
      exact += math.exp(logp)
    }
    val ps = new ProgressiveSampling(model, meta, numSamples = 4000)
    val est = ps.selectivity(preds)
    assert(math.abs(est - exact) <= 0.05 * exact + 0.005,
      s"ord=${if (ord == null) "natural" else ord.mkString(",")}: " +
        s"est=$est exact=$exact")
  }
}
