package graft.nn

import org.scalatest.funsuite.AnyFunSuite

/** Port of the reference's autoregressiveness self-checks
  * (made.py:710-752) plus finite-difference gradient verification of the
  * hand-written backprop.
  */
class MadeSpec extends AnyFunSuite {

  // (nin, hiddens, input_bins, direct_io) — made.py:714-724.
  private val referenceConfigs = Seq(
    (2, Seq(10), Array(2, 5), false),
    (2, Seq(10, 30), Array(2, 5), false),
    (3, Seq(6), Array(2, 2, 2), false),
    (3, Seq(4, 4), Array(2, 1, 2), false),
    (4, Seq(16, 8, 16), Array(2, 3, 1, 2), false),
    (2, Seq(10), Array(2, 5), true),
    (2, Seq(10, 30), Array(2, 5), true),
    (3, Seq(6), Array(2, 2, 2), true),
    (3, Seq(4, 4), Array(2, 1, 2), true),
    (4, Seq(16, 8, 16), Array(2, 3, 1, 2), true)
  )

  /** dLogits[k]/dInput via backprop, for a single random input row. */
  private def inputGrad(model: Made, k: Int, inp: Array[Float]): Array[Float] = {
    model.trainForward(inp.clone(), 1)((_, _) => ())
    val gradLogits = new Array[Float](model.totalOutputSize)
    gradLogits(k) = 1f
    model.backwardToInput(gradLogits, 1)
  }

  test("autoregressiveness: reference configs, raw input encoding") {
    val rng = new java.util.Random(14)
    for ((nin, hiddens, bins, directIo) <- referenceConfigs) {
      val model = new Made(nin, hiddens, bins, inputEncoding = null,
        doDirectIo = directIo)
      val cumsum = bins.scanLeft(0)(_ + _).tail
      for (k <- 0 until model.totalOutputSize) {
        val inp = Array.fill(nin)(rng.nextFloat())
        val grad = inputGrad(model, k, inp)
        val varIdx = cumsum.indexWhere(k < _)
        // Output head k (column varIdx) must not depend on inputs >= varIdx.
        for (i <- varIdx until nin)
          assert(grad(i) == 0f,
            s"cfg=($nin,$hiddens,${bins.mkString(",")},$directIo) " +
              s"output $k (col $varIdx) depends on input $i")
      }
    }
  }

  test("autoregressiveness: one_hot and binary encodings, ResMADE, orderings") {
    val rng = new java.util.Random(7)
    val bins = Array(3, 4, 2, 5)
    val orderings = Seq(null, Array(2, 0, 3, 1), Array(3, 2, 1, 0))
    for {
      enc <- Seq("one_hot", "binary", "embed")
      outEnc <- if (enc == "embed") Seq("one_hot", "embed") else Seq("one_hot")
      res <- Seq(false, true)
      directIo <- Seq(false, true)
      ord <- orderings
    } {
      // embedSize=3 makes columns with dom>3 use learnable embeddings
      // and the rest fall back to one-hot (made.py:180-184).
      val model = new Made(4, Seq(16, 16), bins, inputEncoding = enc,
        outputEncoding = outEnc, residual = res, doDirectIo = directIo,
        fixedOrdering = if (ord == null) null else ord, embedSize = 3)
      val ordering = model.ordering
      val cumOut = model.logitIndices
      val cumIn = model.inputBinsEncodedCumsum
      for (k <- 0 until model.totalOutputSize) {
        val inp = Array.fill(model.totalInputSize)(rng.nextFloat())
        val grad = inputGrad(model, k, inp)
        val outCol = cumOut.indexWhere(k < _)
        // Output for column outCol may depend only on input columns at an
        // earlier position in the ordering.
        for (inCol <- 0 until 4 if ordering(inCol) >= ordering(outCol)) {
          val l = if (inCol == 0) 0 else cumIn(inCol - 1)
          for (j <- l until cumIn(inCol))
            assert(grad(j) == 0f,
              s"enc=$enc res=$res dio=$directIo ord=${ordering.mkString(",")}: " +
                s"output $k (col $outCol) depends on input col $inCol")
        }
      }
    }
  }

  test("multi-mask cycling: autoregressive under every mask, weights preserved") {
    val rng = new java.util.Random(21)
    val bins = Array(3, 4, 2, 5)
    val orderings = Seq(Array(0, 1, 2, 3), Array(3, 2, 1, 0), Array(2, 0, 3, 1))
    for (res <- Seq(false, true); directIo <- Seq(false, true)) {
      val model = new Made(4, Seq(16, 16), bins, inputEncoding = "one_hot",
        residual = res, doDirectIo = directIo, numMasks = 3,
        orderings = orderings)
      val cumOut = model.logitIndices
      val cumIn = model.inputBinsEncodedCumsum
      // Every cycled mask must be autoregressive wrt ITS ordering.
      for (k <- 0 until 3) {
        model.setMask(k)
        assert(model.ordering.sameElements(orderings(k)))
        val ordering = model.ordering
        for (out <- 0 until model.totalOutputSize) {
          val inp = Array.fill(model.totalInputSize)(rng.nextFloat())
          val grad = inputGrad(model, out, inp)
          val outCol = cumOut.indexWhere(out < _)
          for (inCol <- 0 until 4 if ordering(inCol) >= ordering(outCol)) {
            val l = if (inCol == 0) 0 else cumIn(inCol - 1)
            for (j <- l until cumIn(inCol))
              assert(grad(j) == 0f,
                s"res=$res dio=$directIo mask=$k: output $out (col $outCol) " +
                  s"depends on input col $inCol")
          }
        }
      }
      // Weight preservation: activating other masks and returning must
      // reproduce bit-identical logits (masks multiply at forward time,
      // they never destroy weights shared across configurations).
      model.setMask(0)
      val inp = Array.fill(model.totalInputSize)(rng.nextFloat())
      val before = model.forwardEncoded(inp.clone(), 1).clone()
      model.setMask(1); model.setMask(2); model.setMask(0)
      val after = model.forwardEncoded(inp.clone(), 1)
      assert(before.sameElements(after), s"res=$res dio=$directIo: " +
        "mask round-trip changed the function")
    }
    // Without an explicit orderings list, each mask draws a seeded
    // permutation (made.py:314-320) — deterministic per (seed, k).
    val m1 = new Made(4, Seq(8), bins, inputEncoding = "one_hot", numMasks = 2)
    val m2 = new Made(4, Seq(8), bins, inputEncoding = "one_hot", numMasks = 2)
    for (k <- 0 until 2) {
      m1.setMask(k); m2.setMask(k)
      assert(m1.ordering.sameElements(m2.ordering))
    }
  }

  test("multi-mask training cycles masks and still learns") {
    val bins = Array(4, 3)
    val rng = new java.util.Random(5)
    // Correlated columns: c1 = c0 % 3 with noise.
    val data = Array.fill(512) {
      val a = rng.nextInt(4)
      Array(a, if (rng.nextInt(10) == 0) rng.nextInt(3) else a % 3)
    }
    val model = new Made(2, Seq(16, 16), bins, inputEncoding = "one_hot",
      residual = true, numMasks = 2,
      orderings = Seq(Array(0, 1), Array(1, 0)))
    val logs = Trainer.train(model, data, epochs = 8, batchSize = 64,
      schedule = Trainer.ConstantLr(5e-3f), seed = 3L)
    assert(logs.last.meanNllNats < logs.head.meanNllNats,
      s"NLL did not improve: ${logs.map(_.meanNllNats)}")
    // Both masks were visited during training (cycled per batch).
    assert(model.numMasks == 2)
    // Each mask's NLL in eval mode is finite and sane.
    for (k <- 0 until 2) {
      model.setMask(k)
      val nll = Trainer.evalNll(model, data.take(128))
      assert(!nll.isNaN && nll > 0 && nll < 10, s"mask $k nll=$nll")
    }
  }

  test("backprop matches finite differences") {
    val bins = Array(3, 4, 2)
    val model = new Made(3, Seq(8, 8), bins, inputEncoding = "one_hot",
      residual = true, doDirectIo = true, seed = 5)
    val rng = new java.util.Random(3)
    val data = Array.fill(4)(bins.map(b => rng.nextInt(b)))

    def loss(): Double = {
      val logits = model.forward(data, train = false)
      model.nll(logits, data, data.length)
    }
    // Analytic grads.
    model.params.foreach(_.zeroGrad())
    val logits = model.forward(data, train = false)
    val (_, gradLogits) = model.nllWithGrad(logits, data, data.length)
    model.backward(gradLogits, data.length)

    val eps = 1e-2f
    var checked = 0
    // Enumerate params WITH their masks: perturbing a masked weight entry
    // must be skipped — the mask is baked into the weights (init + grad
    // time), so the forward pass intentionally does not re-apply it.
    val paramsWithMask: Seq[(Param, Array[Float])] =
      model.linears.toSeq.flatMap(l => Seq((l.weight, l.mask), (l.bias, null)))
    for ((p, mask) <- paramsWithMask; if p.data.nonEmpty) {
      // Spot-check a few entries per param tensor.
      val idxs = Seq(0, p.data.length / 2, p.data.length - 1).distinct
        .filter(i => mask == null || mask(i) != 0f)
      for (i <- idxs) {
        val orig = p.data(i)
        p.data(i) = orig + eps; val lp = loss()
        p.data(i) = orig - eps; val lm = loss()
        p.data(i) = orig
        val numeric = (lp - lm) / (2 * eps)
        val analytic = p.grad(i)
        assert(math.abs(numeric - analytic) <= 1e-3 + 0.05 * math.abs(numeric),
          s"grad mismatch at $i: analytic=$analytic numeric=$numeric")
        checked += 1
      }
    }
    assert(checked > 20)
  }

  test("embed input encoding: backprop matches finite differences") {
    val bins = Array(6, 4, 7)
    val model = new Made(3, Seq(8), bins, inputEncoding = "embed",
      embedSize = 4, seed = 8)
    val rng = new java.util.Random(4)
    val data = Array.fill(4)(bins.map(b => rng.nextInt(b)))
    def loss(): Double = {
      val logits = model.forward(data, train = false)
      model.nll(logits, data, data.length)
    }
    model.params.foreach(_.zeroGrad())
    val logits = model.forward(data, train = false)
    val (_, gradLogits) = model.nllWithGrad(logits, data, data.length)
    model.backward(gradLogits, data.length)
    // Check the embedding params specifically (plus spot-check others).
    val eps = 1e-3f
    var checked = 0
    for (p <- model.embedWeights.filter(_ != null);
         i <- Seq(0, p.data.length / 2, p.data.length - 1).distinct) {
      val orig = p.data(i)
      p.data(i) = orig + eps; val lp = loss()
      p.data(i) = orig - eps; val lm = loss()
      p.data(i) = orig
      val numeric = (lp - lm) / (2 * eps)
      assert(math.abs(numeric - p.grad(i)) <= 1e-3 + 0.05 * math.abs(numeric),
        s"embed grad mismatch at $i: analytic=${p.grad(i)} numeric=$numeric")
      checked += 1
    }
    assert(checked >= 6)
    assert(model.embedWeights.count(_ != null) == 2) // dom 6 and 7 > embedSize 4
  }

  test("tied-embedding output decoding: backprop matches finite differences") {
    val bins = Array(6, 4, 7)
    val model = new Made(3, Seq(8), bins, inputEncoding = "embed",
      outputEncoding = "embed", embedSize = 4, seed = 8)
    // dom 6 and 7 > embedSize 4 -> tied embedSize-wide heads; dom 4 keeps
    // the full one-hot head (no embedding to tie to).
    assert(model.encodedOutBins.toSeq == Seq(4, 4, 4))
    assert(model.tiedOutput(0) && !model.tiedOutput(1) && model.tiedOutput(2))
    val rng = new java.util.Random(4)
    val data = Array.fill(4)(bins.map(b => rng.nextInt(b)))
    def loss(): Double = {
      val logits = model.forward(data, train = false)
      model.nll(logits, data, data.length)
    }
    model.params.foreach(_.zeroGrad())
    val logits = model.forward(data, train = false)
    val (nllG, gradLogits) = model.nllWithGrad(logits, data, data.length)
    model.backward(gradLogits, data.length)
    // nllWithGrad's decoded loss must equal the nll() evaluation path.
    assert(math.abs(nllG - loss()) < 1e-6)
    // The embedding params carry BOTH the encoder and the tied-decoder
    // gradient; finite differences see the same total derivative.
    val eps = 1e-3f
    var checked = 0
    for (p <- model.embedWeights.filter(_ != null);
         i <- Seq(0, p.data.length / 3, p.data.length / 2,
           p.data.length - 1).distinct) {
      val orig = p.data(i)
      p.data(i) = orig + eps; val lp = loss()
      p.data(i) = orig - eps; val lm = loss()
      p.data(i) = orig
      val numeric = (lp - lm) / (2 * eps)
      assert(math.abs(numeric - p.grad(i)) <= 1e-3 + 0.05 * math.abs(numeric),
        s"tied embed grad mismatch at $i: analytic=${p.grad(i)} numeric=$numeric")
      checked += 1
    }
    assert(checked >= 8)
  }

  test("tied-embedding output trains to NLL comparable to one-hot heads") {
    // Wide-ish correlated domains so the tied decoding is actually used.
    val rng = new java.util.Random(31)
    val bins = Array(12, 10)
    val data = Array.fill(512) {
      val a = rng.nextInt(12)
      Array(a, (a + rng.nextInt(3)) % 10)
    }
    def train(outEnc: String): Double = {
      val m = new Made(2, Seq(32), bins, inputEncoding = "embed",
        outputEncoding = outEnc, embedSize = 6, seed = 6)
      val opt = new Adam(m.params, lr = 5e-3f)
      for (_ <- 0 until 150) {
        opt.zeroGrad()
        val logits = m.forward(data, train = true)
        val (_, grad) = m.nllWithGrad(logits, data, data.length)
        m.backward(grad, data.length)
        opt.step()
      }
      val logits = m.forward(data, train = false)
      m.nll(logits, data, data.length)
    }
    val oneHot = train("one_hot")
    val tied = train("embed")
    assert(tied < oneHot + 0.3,
      s"tied-embedding NLL $tied not comparable to one-hot $oneHot")
    // And it genuinely learned: well under the ~log(12*10) uniform bound.
    assert(tied < math.log(12 * 10) - 1.0, s"tied NLL $tied did not learn")
  }

  test("column-masking wildcard embedding gets gradients") {
    val bins = Array(3, 4)
    val model = new Made(2, Seq(8), bins, inputEncoding = "one_hot",
      columnMasking = true, seed = 1)
    val rng = new java.util.Random(9)
    val data = Array.fill(64)(bins.map(b => rng.nextInt(b)))
    // At step 0 every path through a dropped row is dead: unk embeddings
    // and biases are zero, so hidden pre-activations are exactly 0 and
    // ReLU'(0)=0 (the reference has the same cold start). Take a few
    // optimizer steps so biases move, then require gradient flow into the
    // unk embeddings.
    val opt = new Adam(model.params, lr = 1e-2f)
    var gotGrad = false
    for (_ <- 0 until 20) {
      opt.zeroGrad()
      val logits = model.forward(data, train = true)
      val (_, gradLogits) = model.nllWithGrad(logits, data, data.length)
      model.backward(gradLogits, data.length)
      if (model.unkEmbeddings.exists(_.grad.exists(_ != 0f))) gotGrad = true
      opt.step()
    }
    assert(gotGrad, "no gradient reached any unk embedding")
    // And the embeddings themselves must have moved.
    assert(model.unkEmbeddings.exists(_.data.exists(_ != 0f)))
  }

  test("multi-ordering logsumexp NLL is no worse than the best single model") {
    val rng = new java.util.Random(21)
    val bins = Array(4, 3)
    val data = Array.fill(256) {
      val a = rng.nextInt(4)
      Array(a, (a + rng.nextInt(2)) % 3)
    }
    val models = Seq(null, Array(1, 0)).map { ord =>
      val m = new Made(2, Seq(16), bins, inputEncoding = "one_hot",
        seed = 4, fixedOrdering = ord)
      val opt = new Adam(m.params, lr = 5e-3f)
      for (_ <- 0 until 40) {
        opt.zeroGrad()
        val logits = m.forward(data, train = true)
        val (_, grad) = m.nllWithGrad(logits, data, data.length)
        m.backward(grad, data.length)
        opt.step()
      }
      m
    }
    val singles = models.map(m => Trainer.evalNll(m, data))
    val ens = Trainer.evalNllEnsemble(models, data)
    // Mixture of K models can cost at most log(K) extra nats vs the best
    // component, and typically sits at or below the mean of the singles.
    assert(ens <= singles.min + math.log(2) + 1e-9,
      s"ensemble $ens vs singles $singles")
    assert(ens <= singles.sum / 2 + 0.05, s"ensemble $ens vs mean of $singles")
  }

  test("training reduces NLL on a learnable synthetic table") {
    // Two strongly correlated columns: x2 = x1 with prob .9.
    val rng = new java.util.Random(42)
    val bins = Array(4, 4)
    val data = Array.fill(512) {
      val a = rng.nextInt(4)
      val b = if (rng.nextDouble() < 0.9) a else rng.nextInt(4)
      Array(a, b)
    }
    val model = new Made(2, Seq(32), bins, inputEncoding = "one_hot", seed = 2)
    val opt = new Adam(model.params, lr = 5e-3f)
    def evalNll(): Double = {
      val logits = model.forward(data, train = false)
      model.nll(logits, data, data.length)
    }
    val before = evalNll()
    for (_ <- 0 until 60) {
      opt.zeroGrad()
      val logits = model.forward(data, train = true)
      val (_, grad) = model.nllWithGrad(logits, data, data.length)
      model.backward(grad, data.length)
      opt.step()
    }
    val after = evalNll()
    assert(after < before - 0.3,
      s"NLL did not improve: before=$before after=$after")
    // Joint entropy of the generating process ≈ 2 + 0.9*log2(...) bits;
    // the model must land well under the 4-bit independence bound.
    assert(after / math.log(2) < 3.5, s"NLL ${after / math.log(2)} bits too high")
  }
}
