package graft.nn

/** Minimal dependency-free neural-net core: flat row-major `Array[Float]`
  * tensors `[batch, dim]`, masked linear layers with manual backprop, and
  * Adam. Sized for the reference's models (hundreds of units, MBs of
  * weights — reference README.md:75-85), which train driver-side on
  * Spark-prepared encoded data and broadcast for distributed inference.
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
  /** Forward; caches whatever backward needs. Returns [batch, nOut]. */
  def forward(x: Array[Float], batch: Int): Array[Float]
  /** Backward given dL/dOut; accumulates param grads, returns dL/dIn. */
  def backward(gradOut: Array[Float], batch: Int): Array[Float]
  def params: Seq[Param]
  def nIn: Int
  def nOut: Int
}

/** `y = (M ⊙ W) x + b` — reference made.py:11-28. By default the mask is
  * baked into the weights (applied at init and to every gradient), which
  * is both the reference's `masked_weight` inference optimization
  * (made.py:24-28) and the invariant that keeps Adam from moving masked
  * entries.
  *
  * `preserveWeights = true` switches to the reference's TRAINING
  * semantics (`F.linear(x, mask * weight)`, made.py:24-28): the mask is
  * multiplied in at forward/backward time and the underlying weights are
  * never zeroed — required for multi-mask cycling (made.py:277-311),
  * where an entry masked under one connectivity pattern is live under
  * another and its weight must survive the switch.
  * Weight layout: row-major [nOut, nIn].
  */
final class MaskedLinear(val nIn: Int, val nOut: Int,
    val preserveWeights: Boolean = false) extends Layer {
  val weight = new Param(new Array[Float](nOut * nIn))
  val bias = new Param(new Array[Float](nOut))
  /** null = dense. Layout [nOut, nIn], 1f = connected. */
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
    * update_masks builds, made.py:19-21 transposes on set). */
  def setMaskInOut(m: Array[Array[Boolean]]): Unit = {
    require(m.length == nIn && m(0).length == nOut, s"${m.length}x${m(0).length} vs $nIn x $nOut")
    mask = new Array[Float](nOut * nIn)
    var i = 0
    while (i < nIn) {
      var o = 0
      while (o < nOut) { mask(o * nIn + i) = if (m(i)(o)) 1f else 0f; o += 1 }
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

  /** Xavier-uniform init (reference train_model.py:322-327). */
  def initXavier(rng: java.util.Random): Unit = {
    val bound = math.sqrt(6.0 / (nIn + nOut)).toFloat
    var k = 0
    while (k < weight.data.length) {
      weight.data(k) = (rng.nextFloat() * 2 - 1) * bound
      k += 1
    }
    java.util.Arrays.fill(bias.data, 0f)
    applyMask()
  }

  def forward(x: Array[Float], batch: Int): Array[Float] = {
    xCache = x
    forwardNoCache(x, batch)
  }

  private def forwardRange(x: Array[Float], out: Array[Float],
      w: Array[Float], r0: Int, r1: Int): Unit = {
    val b = bias.data
    var r = r0
    while (r < r1) {
      val xOff = r * nIn
      val oOff = r * nOut
      var o = 0
      while (o < nOut) {
        var acc = b(o)
        val wOff = o * nIn
        var i = 0
        while (i < nIn) { acc += w(wOff + i) * x(xOff + i); i += 1 }
        out(oOff + o) = acc
        o += 1
      }
      r += 1
    }
  }

  /** Inference-path forward that skips the backprop cache. Large batches
    * parallelize over disjoint row ranges (training and batch inference
    * on the driver otherwise leave every other core idle). */
  def forwardNoCache(x: Array[Float], batch: Int): Array[Float] = {
    val out = new Array[Float](batch * nOut)
    val w = effectiveW()
    val chunks = Nn.chunks(batch, nIn * nOut)
    if (chunks <= 1) forwardRange(x, out, w, 0, batch)
    else java.util.stream.IntStream.range(0, chunks).parallel().forEach { c =>
      forwardRange(x, out, w, batch * c / chunks, batch * (c + 1) / chunks)
    }
    out
  }

  def backward(gradOut: Array[Float], batch: Int): Array[Float] = {
    val x = xCache
    val gradIn = new Array[Float](batch * nIn)
    val w = effectiveW()
    val chunks = Nn.chunks(batch, nIn * nOut)
    if (chunks <= 1)
      backwardRange(x, gradOut, gradIn, w, weight.grad, bias.grad, 0, batch)
    else {
      // Disjoint output rows per chunk; weight/bias grads go to
      // per-chunk local buffers merged sequentially (no atomics).
      val localGw = Array.fill(chunks)(new Array[Float](weight.grad.length))
      val localGb = Array.fill(chunks)(new Array[Float](bias.grad.length))
      java.util.stream.IntStream.range(0, chunks).parallel().forEach { c =>
        backwardRange(x, gradOut, gradIn, w, localGw(c), localGb(c),
          batch * c / chunks, batch * (c + 1) / chunks)
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
    val gw = weight.grad
    if (mask != null) {
      var k = 0
      while (k < gw.length) { if (mask(k) == 0f) gw(k) = 0f; k += 1 }
    }
    gradIn
  }

  private def backwardRange(x: Array[Float], gradOut: Array[Float],
      gradIn: Array[Float], w: Array[Float], gw: Array[Float],
      gb: Array[Float], r0: Int, r1: Int): Unit = {
    var r = r0
    while (r < r1) {
      val xOff = r * nIn
      val oOff = r * nOut
      var o = 0
      while (o < nOut) {
        val g = gradOut(oOff + o)
        if (g != 0f) {
          gb(o) += g
          val wOff = o * nIn
          var i = 0
          while (i < nIn) {
            gw(wOff + i) += g * x(xOff + i)
            gradIn(xOff + i) += g * w(wOff + i)
            i += 1
          }
        }
        o += 1
      }
      r += 1
    }
  }

  def params: Seq[Param] = Seq(weight, bias)
}

final class ReLU(val dim: Int) extends Layer {
  private var outCache: Array[Float] = null
  def nIn: Int = dim
  def nOut: Int = dim
  def forward(x: Array[Float], batch: Int): Array[Float] = {
    val out = new Array[Float](batch * dim)
    var k = 0
    while (k < batch * dim) { out(k) = if (x(k) > 0f) x(k) else 0f; k += 1 }
    outCache = out
    out
  }
  def backward(gradOut: Array[Float], batch: Int): Array[Float] = {
    val g = new Array[Float](batch * dim)
    var k = 0
    while (k < batch * dim) { g(k) = if (outCache(k) > 0f) gradOut(k) else 0f; k += 1 }
    g
  }
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
  private def relu(x: Array[Float]): Array[Float] = {
    val out = new Array[Float](x.length)
    var k = 0
    while (k < x.length) { out(k) = if (x(k) > 0f) x(k) else 0f; k += 1 }
    out
  }
  def forward(x: Array[Float], batch: Int): Array[Float] = {
    xCache = x
    val h1 = l1.forward(relu(x), batch)
    h1Cache = h1
    val h2 = l2.forward(relu(h1), batch)
    val out = new Array[Float](x.length)
    var k = 0
    while (k < x.length) { out(k) = x(k) + h2(k); k += 1 }
    out
  }
  def backward(gradOut: Array[Float], batch: Int): Array[Float] = {
    val gA2 = l2.backward(gradOut, batch)
    val gH1 = new Array[Float](gA2.length)
    var k = 0
    while (k < gA2.length) { gH1(k) = if (h1Cache(k) > 0f) gA2(k) else 0f; k += 1 }
    val gA1 = l1.backward(gH1, batch)
    val gX = new Array[Float](gradOut.length)
    k = 0
    while (k < gX.length) {
      gX(k) = gradOut(k) + (if (xCache(k) > 0f) gA1(k) else 0f)
      k += 1
    }
    gX
  }
  def params: Seq[Param] = l1.params ++ l2.params
}
