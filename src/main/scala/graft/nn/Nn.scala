package graft.nn

/** Minimal dependency-free neural-net core: flat row-major `Array[Float]`
  * tensors `[batch, dim]`, one dense layer with manual backprop
  * ([[MaskedLinear]], weights `[nIn, nOut]`, shared by MADE and the
  * Transformer), and Adam. Sized for the reference's models (hundreds of
  * units, MBs of weights — reference README.md:75-85), which train
  * driver-side on Spark-prepared encoded data and broadcast for
  * distributed inference.
  *
  * Forward kernels keep one summation order whatever the row tiling or
  * the number of forked chunks: every output adds its terms in ascending
  * input index, so a seeded model's logits are the same bits on any core
  * count. A backward that forks sums gradients per chunk and merges the
  * chunks in order, so its bits depend on the chunk count (`Nn.chunks`)
  * and never on scheduling.
  *
  * Scale posture: the 100 TB path never moves raw data to the driver —
  * only encoded minibatches (bounded) flow in and model weights (MBs)
  * flow out; see graft.nn.Trainer.
  */
final class Param(val data: Array[Float]) extends Serializable {
  val grad = new Array[Float](data.length)
  // Adam moments (estimators stay zero where grads are always zero, so
  // masked weight entries never drift away from zero).
  val m = new Array[Float](data.length)
  val v = new Array[Float](data.length)
  def zeroGrad(): Unit = java.util.Arrays.fill(grad, 0f)
}

/** Adam (reference train_model.py:375-383: lr 2e-4 default; the per-step
  * lr is overwritten by the schedule in the train loop).
  */
final class Adam(params: Seq[Param], var lr: Float = 2e-4f,
    beta1: Float = 0.9f, beta2: Float = 0.999f, eps: Float = 1e-8f)
    extends Serializable {
  private var t = 0
  def zeroGrad(): Unit = params.foreach(_.zeroGrad())
  def step(): Unit = {
    t += 1
    val bc1 = 1.0 - math.pow(beta1, t)
    val bc2 = 1.0 - math.pow(beta2, t)
    params.foreach { p =>
      val d = p.data; val g = p.grad; val m = p.m; val v = p.v
      var i = 0
      while (i < d.length) {
        m(i) = beta1 * m(i) + (1 - beta1) * g(i)
        v(i) = beta2 * v(i) + (1 - beta2) * g(i) * g(i)
        val mh = m(i) / bc1
        val vh = v(i) / bc2
        d(i) -= (lr * mh / (math.sqrt(vh) + eps)).toFloat
        i += 1
      }
    }
  }
}

private[nn] object Nn {
  private val cores = Runtime.getRuntime.availableProcessors()
  /** What one `math.exp`/`math.tanh` call costs, counted in MACs, for
    * callers whose per-row work is mostly transcendental calls (GeLU,
    * softmax): ~30-60 ns a call vs ~1.2 ns a scalar MAC. */
  val TranscendentalMacs = 32
  /** Parallelism for an op over `batch` independent rows, where
    * `workPerRow` is one row's cost in MACs: dIn·dOut for a dense layer,
    * ~8·d for a LayerNorm row, `TranscendentalMacs` per GeLU element,
    * and for attention one sequence's scores, softmax `exp`s and context.
    * Only worth forking when there's real work (≥ ~1M MACs) to amortize
    * it. (A work-scaled chunk count — one chunk per ~2M MACs — was
    * measured 25-30% SLOWER on the transformer train loop: the
    * common-pool forks are cheap enough that core-count chunks win once
    * past the threshold.) */
  def chunks(batch: Int, workPerRow: Int): Int = {
    val totalWork = batch.toLong * workPerRow
    if (totalWork < (1L << 20) || batch < 64) 1
    else math.min(math.min(cores, 16), batch / 32).max(1)
  }

  /** Runs `body(c, r0, r1)` for each of `chunks` disjoint row ranges
    * `[r0, r1)` that together cover `[0, n)` — in parallel on the common
    * pool when `chunks > 1`, inline otherwise. `c` is the chunk index,
    * for callers that keep per-chunk buffers. */
  def forRows(n: Int, chunks: Int)(body: (Int, Int, Int) => Unit): Unit =
    if (chunks <= 1) body(0, 0, n)
    else java.util.stream.IntStream.range(0, chunks).parallel().forEach { c =>
      body(c, n * c / chunks, n * (c + 1) / chunks)
    }

  /** Mean over `batch` rows of `−log p(row)`, summed over columns, from
    * each column's full-domain logits (`logitsForCol`): the evaluation
    * NLL of both model families. */
  def meanNll(m: graft.est.ArModel, out: Array[Float], data: Array[Array[Int]],
      batch: Int): Double = {
    var total = 0.0
    for (c <- 0 until m.nin) {
      val dom = m.inputBins(c)
      val logits = m.logitsForCol(c, out, batch)
      var r = 0
      while (r < batch) {
        val base = r * dom
        var mx = Float.NegativeInfinity
        var j = 0
        while (j < dom) { if (logits(base + j) > mx) mx = logits(base + j); j += 1 }
        var sum = 0.0
        j = 0
        while (j < dom) { sum += math.exp(logits(base + j) - mx); j += 1 }
        total += mx + math.log(sum) - logits(base + data(r)(c))
        r += 1
      }
    }
    total / batch
  }

  /** max(x, 0) elementwise, into a fresh array. */
  def relu(x: Array[Float]): Array[Float] = {
    val out = new Array[Float](x.length)
    var k = 0
    while (k < x.length) { out(k) = if (x(k) > 0f) x(k) else 0f; k += 1 }
    out
  }

  /** ReLU's backward: `g` where the activation `a` (its input or its
    * output: both are positive at the same places) is positive, else 0. */
  def reluBackward(a: Array[Float], g: Array[Float]): Array[Float] = {
    val out = new Array[Float](g.length)
    var k = 0
    while (k < g.length) { out(k) = if (a(k) > 0f) g(k) else 0f; k += 1 }
    out
  }
}

/** The train-loop surface shared by both model families (MADE and the
  * Transformer): opaque forward output consumed by the model's own NLL.
  */
trait Trainable extends Serializable {
  def params: Seq[Param]
  def parameterCount: Long
  def forward(data: Array[Array[Int]], train: Boolean): Array[Float]
  def nllWithGrad(logits: Array[Float], data: Array[Array[Int]],
      batch: Int): (Double, Array[Float])
  def nll(logits: Array[Float], data: Array[Array[Int]], batch: Int): Double
  def backward(grad: Array[Float], batch: Int): Unit
  /** Cycle to the next mask/ordering configuration before a minibatch —
    * the reference's per-batch `update_masks()` call
    * (train_model.py:183-185). No-op for single-mask models. */
  def updateMasks(): Unit = ()
}

sealed trait Layer extends Serializable {
  /** Forward over `batch` rows; returns [batch, nOut]. `cache` keeps
    * what backward needs (training only); with `cache = false` the call
    * keeps nothing, so any number of threads may run it at once, with any
    * batch sizes. */
  def forward(x: Array[Float], batch: Int, cache: Boolean): Array[Float]
  /** Backward given dL/dOut after a caching forward; accumulates param
    * grads, returns dL/dIn. */
  def backward(gradOut: Array[Float], batch: Int): Array[Float]
  def params: Seq[Param]
  def nIn: Int
  def nOut: Int
}

/** `y = x (M ⊙ W) + b`, the one dense layer of both model families:
  * MADE's masked linear (reference made.py:11-28) and, with `mask = null`,
  * the Transformer's Conv1d (transformer.py:121-137). Weight and mask
  * layout: row-major [nIn, nOut], so row `i` holds input `i`'s weights
  * to every output.
  *
  * By default the mask is baked into the weights (applied at init and to
  * every gradient), which is both the reference's `masked_weight`
  * inference optimization (made.py:24-28) and the invariant that keeps
  * Adam from moving masked entries.
  *
  * `preserveWeights = true` switches to the reference's TRAINING
  * semantics (`F.linear(x, mask * weight)`, made.py:24-28): the mask is
  * multiplied in at forward/backward time and the underlying weights are
  * never zeroed — required for multi-mask cycling (made.py:277-311),
  * where an entry masked under one connectivity pattern is live under
  * another and its weight must survive the switch.
  */
final class MaskedLinear(val nIn: Int, val nOut: Int,
    val preserveWeights: Boolean = false) extends Layer {
  val weight = new Param(new Array[Float](nIn * nOut))
  val bias = new Param(new Array[Float](nOut))
  /** null = dense. Layout [nIn, nOut], 1f = connected. */
  var mask: Array[Float] = null
  private var xCache: Array[Float] = null
  // Materialized M ⊙ W for the preserveWeights path: refreshed once per
  // forward/backward CALL (O(nIn·nOut), amortized over the O(batch·
  // nIn·nOut) loop it feeds) so the hot inner loops stay dense instead
  // of paying a per-element mask multiply. Weights only change between
  // calls (optimizer steps), never during one, so per-call refresh is
  // always current. Derived scratch, so @transient (a broadcast model
  // must not ship a second copy of every weight matrix). Thread safety:
  // each call writes through a LOCAL reference and returns it, so the
  // caller always sees an array it fully wrote itself; concurrent calls
  // at most allocate redundantly or overwrite with identical values.
  @transient private var wEff: Array[Float] = null

  private def effectiveW(): Array[Float] =
    if (!preserveWeights || mask == null) weight.data
    else {
      val w = weight.data
      var e = wEff
      if (e == null || e.length != w.length) e = new Array[Float](w.length)
      var k = 0
      while (k < e.length) { e(k) = w(k) * mask(k); k += 1 }
      wEff = e
      e
    }

  /** Set connectivity from an [nIn, nOut] boolean matrix (the orientation
    * update_masks builds, made.py:339-340). */
  def setMaskInOut(m: Array[Array[Boolean]]): Unit = {
    require(m.length == nIn && m(0).length == nOut, s"${m.length}x${m(0).length} vs $nIn x $nOut")
    mask = new Array[Float](nIn * nOut)
    var i = 0
    while (i < nIn) {
      var o = 0
      while (o < nOut) { mask(i * nOut + o) = if (m(i)(o)) 1f else 0f; o += 1 }
      i += 1
    }
    applyMask()
  }

  /** Bake the mask into the weights. No-op under `preserveWeights` —
    * there the mask is applied at forward time instead. */
  def applyMask(): Unit = if (mask != null && !preserveWeights) {
    var k = 0
    while (k < weight.data.length) {
      if (mask(k) == 0f) weight.data(k) = 0f
      k += 1
    }
  }

  /** Xavier-uniform init (reference train_model.py:322-327). The draw
    * order is output-major (each output's inputs in turn); seeded models,
    * and the digests `MadeKernelSpec` pins, depend on it. */
  def initXavier(rng: java.util.Random): Unit = {
    val bound = math.sqrt(6.0 / (nIn + nOut)).toFloat
    var o = 0
    while (o < nOut) {
      var i = 0
      while (i < nIn) {
        weight.data(i * nOut + o) = (rng.nextFloat() * 2 - 1) * bound
        i += 1
      }
      o += 1
    }
    java.util.Arrays.fill(bias.data, 0f)
    applyMask()
  }

  /** Rows `ra` and `rb` (`rb == ra` for an odd last row), register-tiled:
    * 2 rows × 8 outputs stay in 16 local accumulators for the whole walk
    * over `i`, so each weight load feeds two MACs and no partial sum
    * goes back to memory. Every output is still
    * `b_o + x_0·w_0o + x_1·w_1o + …` added in ascending `i`, the order
    * of a one-row dot-product loop, so the bits are the same as that
    * loop's. Zero inputs (one-hot encodings, ReLU outputs, masked
    * weights) need no skip branch: adding x·w = ±0 leaves a partial sum
    * unchanged, since one that starts at the bias is never −0. */
  private def forwardRows(x: Array[Float], w: Array[Float], out: Array[Float],
      ra: Int, rb: Int): Unit = {
    val bd = bias.data
    val xa = ra * nIn; val xb = rb * nIn
    val oa = ra * nOut; val ob = rb * nOut
    var o = 0
    while (o + 8 <= nOut) {
      var a0 = bd(o); var a1 = bd(o + 1); var a2 = bd(o + 2); var a3 = bd(o + 3)
      var a4 = bd(o + 4); var a5 = bd(o + 5); var a6 = bd(o + 6); var a7 = bd(o + 7)
      var c0 = a0; var c1 = a1; var c2 = a2; var c3 = a3
      var c4 = a4; var c5 = a5; var c6 = a6; var c7 = a7
      var i = 0
      var wi = o
      while (i < nIn) {
        val u = x(xa + i); val v = x(xb + i)
        val w0 = w(wi); val w1 = w(wi + 1); val w2 = w(wi + 2); val w3 = w(wi + 3)
        val w4 = w(wi + 4); val w5 = w(wi + 5); val w6 = w(wi + 6); val w7 = w(wi + 7)
        a0 += u * w0; a1 += u * w1; a2 += u * w2; a3 += u * w3
        a4 += u * w4; a5 += u * w5; a6 += u * w6; a7 += u * w7
        c0 += v * w0; c1 += v * w1; c2 += v * w2; c3 += v * w3
        c4 += v * w4; c5 += v * w5; c6 += v * w6; c7 += v * w7
        wi += nOut
        i += 1
      }
      out(oa + o) = a0; out(oa + o + 1) = a1; out(oa + o + 2) = a2; out(oa + o + 3) = a3
      out(oa + o + 4) = a4; out(oa + o + 5) = a5; out(oa + o + 6) = a6; out(oa + o + 7) = a7
      out(ob + o) = c0; out(ob + o + 1) = c1; out(ob + o + 2) = c2; out(ob + o + 3) = c3
      out(ob + o + 4) = c4; out(ob + o + 5) = c5; out(ob + o + 6) = c6; out(ob + o + 7) = c7
      o += 8
    }
    while (o < nOut) { // output tail: 2 rows × 1 output
      var a = bd(o); var c = a
      var i = 0
      var wi = o
      while (i < nIn) {
        val wv = w(wi)
        a += x(xa + i) * wv; c += x(xb + i) * wv
        wi += nOut
        i += 1
      }
      out(oa + o) = a; out(ob + o) = c
      o += 1
    }
  }

  def forward(x: Array[Float], batch: Int, cache: Boolean): Array[Float] = {
    if (cache) xCache = x
    val out = new Array[Float](batch * nOut)
    val w = effectiveW()
    Nn.forRows(batch, Nn.chunks(batch, nIn * nOut)) { (_, r0, r1) =>
      var r = r0
      while (r + 1 < r1) { forwardRows(x, w, out, r, r + 1); r += 2 }
      if (r < r1) forwardRows(x, w, out, r, r)
    }
    out
  }

  /** Rows `[r0, r1)`: bias and weight grads accumulate into `gb`/`gw` in
    * row order; each input grad is `Σ_o g_o·w_io` in ascending `o`. */
  private def backwardRange(x: Array[Float], g: Array[Float], w: Array[Float],
      gx: Array[Float], gw: Array[Float], gb: Array[Float], r0: Int, r1: Int): Unit = {
    var r = r0
    while (r < r1) {
      val xo = r * nIn; val oo = r * nOut
      var o = 0
      while (o < nOut) { gb(o) += g(oo + o); o += 1 }
      var i = 0
      while (i < nIn) {
        val wo = i * nOut
        val xv = x(xo + i)
        var acc = 0f
        o = 0
        while (o < nOut) {
          val gv = g(oo + o)
          gw(wo + o) += gv * xv
          acc += gv * w(wo + o)
          o += 1
        }
        gx(xo + i) = acc
        i += 1
      }
      r += 1
    }
  }

  def backward(gradOut: Array[Float], batch: Int): Array[Float] = {
    val x = xCache
    val w = effectiveW()
    val gx = new Array[Float](batch * nIn)
    val chunks = Nn.chunks(batch, nIn * nOut)
    if (chunks <= 1) backwardRange(x, gradOut, w, gx, weight.grad, bias.grad, 0, batch)
    else {
      // Disjoint rows per chunk; weight/bias grads go to per-chunk local
      // buffers merged in chunk order (no atomics).
      val localGw = Array.fill(chunks)(new Array[Float](weight.grad.length))
      val localGb = Array.fill(chunks)(new Array[Float](bias.grad.length))
      Nn.forRows(batch, chunks) { (c, r0, r1) =>
        backwardRange(x, gradOut, w, gx, localGw(c), localGb(c), r0, r1)
      }
      val gw = weight.grad; val gb = bias.grad
      var c = 0
      while (c < chunks) {
        val lw = localGw(c); val lb = localGb(c)
        var k = 0
        while (k < gw.length) { gw(k) += lw(k); k += 1 }
        k = 0
        while (k < gb.length) { gb(k) += lb(k); k += 1 }
        c += 1
      }
    }
    // Mask the weight gradient so Adam's moments never see masked entries
    // (equivalent to differentiating through W_eff = M ⊙ W).
    if (mask != null) {
      val gw = weight.grad
      var k = 0
      while (k < gw.length) { if (mask(k) == 0f) gw(k) = 0f; k += 1 }
    }
    gx
  }

  def params: Seq[Param] = Seq(weight, bias)
}

final class ReLU(val dim: Int) extends Layer {
  private var outCache: Array[Float] = null
  def nIn: Int = dim
  def nOut: Int = dim
  def forward(x: Array[Float], batch: Int, cache: Boolean): Array[Float] = {
    val out = Nn.relu(x)
    if (cache) outCache = out
    out
  }
  def backward(gradOut: Array[Float], batch: Int): Array[Float] =
    Nn.reluBackward(outCache, gradOut)
  def params: Seq[Param] = Nil
}

/** `x + L2(act(L1(act(x))))`, both linears sharing one mask — reference
  * made.py:31-51. */
final class MaskedResidualBlock(val dim: Int,
    val preserveWeights: Boolean = false) extends Layer {
  val l1 = new MaskedLinear(dim, dim, preserveWeights)
  val l2 = new MaskedLinear(dim, dim, preserveWeights)
  private var xCache: Array[Float] = null
  private var h1Cache: Array[Float] = null
  def nIn: Int = dim
  def nOut: Int = dim
  def setMaskInOut(m: Array[Array[Boolean]]): Unit = {
    l1.setMaskInOut(m); l2.setMaskInOut(m)
  }
  def forward(x: Array[Float], batch: Int, cache: Boolean): Array[Float] = {
    val h1 = l1.forward(Nn.relu(x), batch, cache)
    val h2 = l2.forward(Nn.relu(h1), batch, cache)
    if (cache) { xCache = x; h1Cache = h1 }
    val out = new Array[Float](x.length)
    var k = 0
    while (k < x.length) { out(k) = x(k) + h2(k); k += 1 }
    out
  }
  def backward(gradOut: Array[Float], batch: Int): Array[Float] = {
    val gA1 = l1.backward(Nn.reluBackward(h1Cache, l2.backward(gradOut, batch)), batch)
    val gX = Nn.reluBackward(xCache, gA1)
    var k = 0
    while (k < gX.length) { gX(k) = gradOut(k) + gX(k); k += 1 }
    gX
  }
  def params: Seq[Param] = l1.params ++ l2.params
}
