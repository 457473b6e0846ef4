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
  * and never on scheduling. Both families' training steps run
  * chunk-major: the forward, loss and backward fork once each, and every
  * row range (for the Transformer, a range of whole sequences) runs
  * through all the layers in turn ([[RowStep]]). Each dense layer still
  * sums its parameter gradients the way its own fork would — per range,
  * merged in range order, when it forks at that batch; in row order
  * when it does not — and the gradients that add up over every row
  * (LayerNorm's γ and β, shared embeddings) are summed in row order
  * after the join, so the trained bits are those of a step that forks
  * layer by layer.
  *
  * Every kernel is register-tiled and keeps a one-row loop's summation
  * order, so its bits are that loop's. A dense layer (the Transformer's)
  * runs 2-row × 8-output forward tiles, (input pair × 8-output) weight-
  * gradient tiles over its rows, and 2-row × 8-input input-gradient tiles
  * over a transposed copy of the weights. A masked layer (MADE's) visits
  * only the (input, output) pairs its mask connects, through a
  * [[MaskPlan]] derived from the mask: output groups with one
  * connected-input set feed the forward and the weight gradients, input
  * groups with one connected-output set the input gradients. The skipped
  * terms would each have added x·0 = ±0 to a partial sum that is never
  * −0, so the bits are those of the dense kernels; about half of the
  * benchmark ResMADE's multiply-adds go.
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
  /** Parallelism for a dense layer over `batch` independent rows, where
    * `workPerRow` is one row's cost in MACs (dIn·dOut).
    * Only worth forking when there's real work (≥ ~1M MACs) to amortize
    * it; past that, one chunk per core. The chunk-major training steps
    * take their range count from their dense layers' chunks, so their
    * trained bits depend on this function. A masked layer is counted at
    * its dense `nIn·nOut` by design, although its plan does about half
    * that work: the count decides where parameter gradients split, and so
    * the trained bits. */
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
    relu(x, out, 0, x.length)
    out
  }

  /** Elements `[k0, k1)` of max(x, 0) into `out` (`out` may be `x`). */
  def relu(x: Array[Float], out: Array[Float], k0: Int, k1: Int): Unit = {
    var k = k0
    while (k < k1) { out(k) = if (x(k) > 0f) x(k) else 0f; k += 1 }
  }

  /** Elements `[k0, k1)` of ReLU's backward into `out` (`out` may be
    * `g`): `g` where the activation `a` (its input or its output: both
    * are positive at the same places) is positive, else 0. */
  def reluBackward(a: Array[Float], g: Array[Float], out: Array[Float],
      k0: Int, k1: Int): Unit = {
    var k = k0
    while (k < k1) { out(k) = if (a(k) > 0f) g(k) else 0f; k += 1 }
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
  /** Forward over `batch` rows; returns [batch, nOut]. Keeps nothing, so
    * any number of threads may run it at once, with any batch sizes. */
  def forward(x: Array[Float], batch: Int): Array[Float]
  /** This layer's part of a training step over the `batch` rows of `x`
    * (see [[RowStep]]). */
  private[nn] def step(x: Array[Float], batch: Int): RowStep
  def params: Seq[Param]
  def nIn: Int
  def nOut: Int
}

/** One layer's part of a training step over full-batch buffers, whose
  * rows the caller splits into ranges: `forward(r0, r1)` writes rows
  * `[r0, r1)` of `out` from the same rows of the step's input. Rows are
  * independent, so a caller may run a range through every layer in turn
  * inside one fork (`Made.trainForward`). */
private[nn] abstract class RowStep(val out: Array[Float]) {
  def forward(r0: Int, r1: Int): Unit
  /** The backward from dL/dout, its rows split into `chunks` ranges.
    * `need`, when not null, marks the dL/dinput entries the caller will
    * read, `[batch, nIn]`; a step may leave the others 0. */
  def backward(gOut: Array[Float], chunks: Int, need: Array[Boolean] = null): RowGrad
}

/** A step's backward: `rows(c, r0, r1)` writes rows `[r0, r1)` of
  * dL/dinput `gx` from the same rows of dL/dout (range `c` of the
  * caller's `chunks`); `finish()`, after every range, completes the
  * parameter gradients. */
private[nn] abstract class RowGrad(val gx: Array[Float]) {
  def rows(c: Int, r0: Int, r1: Int): Unit
  def finish(): Unit = ()
}

/** Where a training step's full-batch buffers come from. [[Arena.fresh]]
  * allocates each one. A keeping arena hands out, after `start()`, the
  * arrays the previous step asked for, in the order it asked for them,
  * whenever the sizes match: a step over the same batch size gets every
  * buffer back instead of allocating, and first-touching, it again. A
  * buffer from a keeping arena holds the previous step's values, so its
  * users overwrite whatever they read. One step at a time may use a
  * keeping arena. */
private[nn] final class Arena(keep: Boolean) {
  private val floatBufs = scala.collection.mutable.ArrayBuffer[Array[Float]]()
  private val doubleBufs = scala.collection.mutable.ArrayBuffer[Array[Double]]()
  private var nf = 0
  private var nd = 0
  def start(): Unit = { nf = 0; nd = 0 }
  def floats(n: Int): Array[Float] =
    if (!keep) new Array[Float](n)
    else { nf += 1; Arena.take(floatBufs, nf - 1, n, new Array[Float](n)) }
  def doubles(n: Int): Array[Double] =
    if (!keep) new Array[Double](n)
    else { nd += 1; Arena.take(doubleBufs, nd - 1, n, new Array[Double](n)) }
}

private[nn] object Arena {
  /** Allocates every buffer; keeps nothing, so any thread may use it. */
  val fresh = new Arena(keep = false)
  private def take[A](bufs: scala.collection.mutable.ArrayBuffer[Array[A]], i: Int,
      n: Int, alloc: => Array[A]): Array[A] = {
    if (i == bufs.length) bufs += alloc
    else if (bufs(i).length != n) bufs(i) = alloc
    bufs(i)
  }
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
  * applied at forward/backward time and the underlying weights are never
  * zeroed — required for multi-mask cycling (made.py:277-311), where an
  * entry masked under one connectivity pattern is live under another and
  * its weight must survive the switch.
  *
  * A masked layer runs on its [[MaskPlan]], built from the mask on first
  * use after every `setMaskInOut`: its forward and backward visit only
  * the connected (input, output) pairs, and read the stored weight there
  * (the effective weight `1·w` is `w`). The skipped terms are exactly the
  * ones whose effective weight is a mask zero, so each would have added
  * x·0 = ±0 (finite x) to a partial sum that starts at the +0 bias or
  * buffer and so is never −0, leaving it unchanged: the plan kernels give
  * the bits of the dense ones, in the same summation order. Masked
  * weight-gradient entries read 0 after every backward, as before. A
  * dense layer (`mask = null`) runs [[forwardRows]], [[weightGrads]] and
  * [[inputGrads]].
  */
final class MaskedLinear(val nIn: Int, val nOut: Int,
    val preserveWeights: Boolean = false) extends Layer {
  val weight = new Param(new Array[Float](nIn * nOut))
  val bias = new Param(new Array[Float](nOut))
  /** null = dense. Layout [nIn, nOut], 1f = connected. Replace it through
    * `setMaskInOut` rather than editing it in place: the plan follows the
    * array, not its contents. */
  var mask: Array[Float] = null
  // Derived from `mask` (the plan records the array it was built from),
  // so @transient and rebuilt lazily: a broadcast model ships no copy.
  // Concurrent callers at most build identical plans redundantly.
  @transient private var planCache: MaskPlan = null

  /** The plan of the current mask; null for a dense layer. */
  private[nn] def plan: MaskPlan = {
    val m = mask
    if (m == null) null
    else {
      var p = planCache
      if (p == null || (p.mask ne m)) { p = MaskPlan(m, nIn, nOut); planCache = p }
      p
    }
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

  /** Rows `ra` and `rb` (`rb == ra` for an odd last row) of the dense
    * forward, register-tiled: 2 rows × 8 outputs stay in 16 local
    * accumulators for the whole walk over `i`, so each weight load feeds
    * two MACs and no partial sum goes back to memory. Every output is
    * still `b_o + x_0·w_0o + x_1·w_1o + …` added in ascending `i`, the
    * order of a one-row dot-product loop, so the bits are the same as that
    * loop's. Zero inputs (one-hot encodings, ReLU outputs) need no skip
    * branch: adding x·w = ±0 leaves a partial sum unchanged, since one
    * that starts at the bias is never −0. */
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

  /** Forward forked over this layer's own row ranges. */
  def forward(x: Array[Float], batch: Int): Array[Float] = {
    val s = step(x, batch)
    Nn.forRows(batch, Nn.chunks(batch, nIn * nOut))((_, r0, r1) => s.forward(r0, r1))
    s.out
  }

  private[nn] def step(x: Array[Float], batch: Int): RowStep = step(x, batch, Arena.fresh)

  /** [[step]] taking its output and dL/dinput buffers from `arena`. */
  private[nn] def step(x: Array[Float], batch: Int, arena: Arena): RowStep = {
    val p = plan
    val w = weight.data
    val wp = if (p == null || batch < MaskPlan.PackRows) null else p.packForward(w)
    val out = arena.floats(batch * nOut)
    def rows(ra: Int, rb: Int): Unit =
      if (p == null) forwardRows(x, w, out, ra, rb)
      else if (wp == null) p.forwardRowsInPlace(x, w, bias.data, out, ra, rb)
      else p.forwardRows(x, wp, bias.data, out, ra, rb)
    new RowStep(out) {
      def forward(r0: Int, r1: Int): Unit = {
        var r = r0
        while (r + 1 < r1) { rows(r, r + 1); r += 2 }
        if (r < r1) rows(r, r)
      }
      // The input gradients `need` leaves out must read 0: a fresh buffer.
      def backward(gOut: Array[Float], chunks: Int, need: Array[Boolean]): RowGrad =
        backwardStep(x, w, p, gOut, need, batch, chunks,
          if (need == null) arena.floats(batch * nIn) else new Array[Float](batch * nIn))
    }
  }

  /** The backward of a step over `batch` rows that the caller splits into
    * `chunks` ranges. Parameter gradients keep the summation order of
    * this layer's own fork (`Nn.chunks` at its dense size), whatever
    * `chunks` is: a layer that forks sums each range into its own buffer
    * and `finish` adds the buffers in range order; one that does not adds
    * every row in row order, inside its one range or, when the caller
    * splits the rows anyway, in `finish` from the full-batch buffers. */
  private def backwardStep(x: Array[Float], w: Array[Float], p: MaskPlan,
      g: Array[Float], need: Array[Boolean], batch: Int, chunks: Int,
      gxBuf: Array[Float]): RowGrad = {
    val own = Nn.chunks(batch, nIn * nOut)
    require(own == 1 || own == chunks, s"$own row ranges of a layer vs $chunks of its step")
    val gws = if (own > 1) Array.fill(own)(new Array[Float](weight.grad.length)) else null
    val gbs = if (own > 1) Array.fill(own)(new Array[Float](bias.grad.length)) else null
    val wq = if (p == null) transposed(w) else p.packInput(w)
    def range(gx: Array[Float], gw: Array[Float], gb: Array[Float], r0: Int, r1: Int): Unit = {
      if (gb != null) MaskPlan.biasGrads(g, gb, nOut, r0, r1)
      if (gw != null) {
        if (p == null) weightGrads(x, g, gw, r0, r1) else p.weightGrads(x, g, gw, r0, r1)
      }
      if (gx != null) {
        if (p == null) inputGrads(g, wq, gx, need, r0, r1) else p.inputGrads(g, wq, gx, need, r0, r1)
      }
    }
    new RowGrad(gxBuf) {
      def rows(c: Int, r0: Int, r1: Int): Unit =
        if (own > 1) range(gx, gws(c), gbs(c), r0, r1)
        else if (chunks == 1) range(gx, weight.grad, bias.grad, r0, r1)
        else range(gx, null, null, r0, r1)
      override def finish(): Unit = {
        val gw = weight.grad; val gb = bias.grad
        if (own > 1) {
          var c = 0
          while (c < own) {
            val lw = gws(c); val lb = gbs(c)
            var k = 0
            while (k < gw.length) { gw(k) += lw(k); k += 1 }
            k = 0
            while (k < gb.length) { gb(k) += lb(k); k += 1 }
            c += 1
          }
        } else if (chunks > 1) range(null, gw, gb, 0, batch)
        // Mask the weight gradient so Adam's moments never see masked
        // entries (equivalent to differentiating through W_eff = M ⊙ W).
        if (mask != null) {
          var k = 0
          while (k < gw.length) { if (mask(k) == 0f) gw(k) = 0f; k += 1 }
        }
      }
    }
  }

  /** Weight gradients of rows `[r0, r1)` of the dense backward, added
    * into `gw`: each (input pair, 8-output tile) keeps its 16 entries in
    * registers over the rows ([[weightTile]]), an odd last input pairs
    * with itself, and outputs past the last full tile take 2 inputs × 1
    * output. Every entry adds its rows' x·g in row order, as a one-row
    * loop does. That loop skipped a zero input, and these tiles add its
    * x·g = ±0 instead: an entry that starts at +0 (or at a finite partial
    * sum) is never −0, so for finite `g` the bits are the same. */
  private def weightGrads(x: Array[Float], g: Array[Float], gw: Array[Float],
      r0: Int, r1: Int): Unit = {
    var i = 0
    while (i < nIn) {
      val j = if (i + 1 < nIn) i + 1 else i
      var o = 0
      while (o + 8 <= nOut) { weightTile(x, g, gw, i, j, o, r0, r1); o += 8 }
      while (o < nOut) { // output tail: 2 inputs × 1 output
        var a = gw(i * nOut + o); var c = gw(j * nOut + o)
        var r = r0
        while (r < r1) {
          val gv = g(r * nOut + o)
          a += gv * x(r * nIn + i); c += gv * x(r * nIn + j)
          r += 1
        }
        gw(i * nOut + o) = a; gw(j * nOut + o) = c
        o += 1
      }
      i += 2
    }
  }

  /** Weight-gradient entries of inputs `i` and `j` (`j == i` for an odd
    * last input) × outputs `[o, o + 8)`, over rows `[r0, r1)`. */
  private def weightTile(x: Array[Float], g: Array[Float], gw: Array[Float],
      i: Int, j: Int, o: Int, r0: Int, r1: Int): Unit = {
    val wa = i * nOut + o; val wb = j * nOut + o
    var a0 = gw(wa); var a1 = gw(wa + 1); var a2 = gw(wa + 2); var a3 = gw(wa + 3)
    var a4 = gw(wa + 4); var a5 = gw(wa + 5); var a6 = gw(wa + 6); var a7 = gw(wa + 7)
    var c0 = gw(wb); var c1 = gw(wb + 1); var c2 = gw(wb + 2); var c3 = gw(wb + 3)
    var c4 = gw(wb + 4); var c5 = gw(wb + 5); var c6 = gw(wb + 6); var c7 = gw(wb + 7)
    var xo = r0 * nIn
    var go = r0 * nOut + o
    var r = r0
    while (r < r1) {
      val u = x(xo + i); val v = x(xo + j)
      val g0 = g(go); val g1 = g(go + 1); val g2 = g(go + 2); val g3 = g(go + 3)
      val g4 = g(go + 4); val g5 = g(go + 5); val g6 = g(go + 6); val g7 = g(go + 7)
      a0 += g0 * u; a1 += g1 * u; a2 += g2 * u; a3 += g3 * u
      a4 += g4 * u; a5 += g5 * u; a6 += g6 * u; a7 += g7 * u
      c0 += g0 * v; c1 += g1 * v; c2 += g2 * v; c3 += g3 * v
      c4 += g4 * v; c5 += g5 * v; c6 += g6 * v; c7 += g7 * v
      xo += nIn
      go += nOut
      r += 1
    }
    gw(wa) = a0; gw(wa + 1) = a1; gw(wa + 2) = a2; gw(wa + 3) = a3
    gw(wa + 4) = a4; gw(wa + 5) = a5; gw(wa + 6) = a6; gw(wa + 7) = a7
    gw(wb) = c0; gw(wb + 1) = c1; gw(wb + 2) = c2; gw(wb + 3) = c3
    gw(wb + 4) = c4; gw(wb + 5) = c5; gw(wb + 6) = c6; gw(wb + 7) = c7
  }

  /** `w` transposed to [nOut, nIn], the dense input gradients' reading
    * order: output `o`'s weights from every input are contiguous. */
  private def transposed(w: Array[Float]): Array[Float] = {
    val wt = new Array[Float](w.length)
    var i = 0
    while (i < nIn) {
      var o = 0
      while (o < nOut) { wt(o * nIn + i) = w(i * nOut + o); o += 1 }
      i += 1
    }
    wt
  }

  /** Input gradients of rows `[r0, r1)` of the dense backward, from the
    * transposed weights `wt`, a row pair at a time ([[inputRows]]; an odd
    * last row pairs with itself). `need` (null = all) marks the entries
    * to write; the others keep the buffer's 0. */
  private def inputGrads(g: Array[Float], wt: Array[Float], gx: Array[Float],
      need: Array[Boolean], r0: Int, r1: Int): Unit = {
    var r = r0
    while (r + 1 < r1) { inputRows(g, wt, gx, need, r, r + 1); r += 2 }
    if (r < r1) inputRows(g, wt, gx, need, r, r)
  }

  /** Input gradients of rows `ra` and `rb`: 2 rows × 8 inputs stay in 16
    * registers over the outputs, then a 2-row × 1-input tail. Each is
    * `Σ_o g_o·w_io` from +0 in ascending `o`, a one-row dot product's
    * order. */
  private def inputRows(g: Array[Float], wt: Array[Float], gx: Array[Float],
      need: Array[Boolean], ra: Int, rb: Int): Unit = {
    val ga = ra * nOut; val gb = rb * nOut
    val xa = ra * nIn; val xb = rb * nIn
    var i = 0
    while (i + 8 <= nIn) {
      var a0 = 0f; var a1 = 0f; var a2 = 0f; var a3 = 0f
      var a4 = 0f; var a5 = 0f; var a6 = 0f; var a7 = 0f
      var c0 = 0f; var c1 = 0f; var c2 = 0f; var c3 = 0f
      var c4 = 0f; var c5 = 0f; var c6 = 0f; var c7 = 0f
      var o = 0
      var wi = i
      while (o < nOut) {
        val u = g(ga + o); val v = g(gb + o)
        val w0 = wt(wi); val w1 = wt(wi + 1); val w2 = wt(wi + 2); val w3 = wt(wi + 3)
        val w4 = wt(wi + 4); val w5 = wt(wi + 5); val w6 = wt(wi + 6); val w7 = wt(wi + 7)
        a0 += u * w0; a1 += u * w1; a2 += u * w2; a3 += u * w3
        a4 += u * w4; a5 += u * w5; a6 += u * w6; a7 += u * w7
        c0 += v * w0; c1 += v * w1; c2 += v * w2; c3 += v * w3
        c4 += v * w4; c5 += v * w5; c6 += v * w6; c7 += v * w7
        wi += nIn
        o += 1
      }
      put(gx, need, xa + i, a0); put(gx, need, xa + i + 1, a1)
      put(gx, need, xa + i + 2, a2); put(gx, need, xa + i + 3, a3)
      put(gx, need, xa + i + 4, a4); put(gx, need, xa + i + 5, a5)
      put(gx, need, xa + i + 6, a6); put(gx, need, xa + i + 7, a7)
      put(gx, need, xb + i, c0); put(gx, need, xb + i + 1, c1)
      put(gx, need, xb + i + 2, c2); put(gx, need, xb + i + 3, c3)
      put(gx, need, xb + i + 4, c4); put(gx, need, xb + i + 5, c5)
      put(gx, need, xb + i + 6, c6); put(gx, need, xb + i + 7, c7)
      i += 8
    }
    while (i < nIn) { // input tail: 2 rows × 1 input
      var a = 0f; var c = 0f
      var o = 0
      var wi = i
      while (o < nOut) {
        val wv = wt(wi)
        a += g(ga + o) * wv; c += g(gb + o) * wv
        wi += nIn
        o += 1
      }
      put(gx, need, xa + i, a); put(gx, need, xb + i, c)
      i += 1
    }
  }

  private def put(gx: Array[Float], need: Array[Boolean], k: Int, v: Float): Unit =
    if (need == null || need(k)) gx(k) = v

  def params: Seq[Param] = Seq(weight, bias)
}

/** Which (input, output) pairs of an [nIn, nOut] mask are connected, laid
  * out for kernels that visit only those pairs (see [[MaskedLinear]]).
  *
  * Outputs that share one set of connected inputs form an output group;
  * inputs that share one set of connected outputs form an input group.
  * Each group keeps its members and its connected set in ascending order,
  * and marks a connected set that is one contiguous run, which the
  * kernels then walk by index arithmetic. In a MADE, the hidden units of
  * one degree form a group, and so do a column's one-hot input slice and
  * its output head; the inputs of the first and the direct-io layer are
  * column-sorted, so each output group's connected inputs there are a
  * prefix, and the heads are contiguous, so each input group's connected
  * outputs in the last two layers are a suffix. Only the cyclic hidden
  * degrees of a ResMADE need index lists.
  *
  * Each kernel adds, per output (forward), weight (weight gradient) or
  * input (input gradient), the terms of the dense kernel minus the masked
  * ones, in the dense kernel's order.
  */
private[nn] final class MaskPlan private (val mask: Array[Float],
    nIn: Int, nOut: Int,
    /** Connected (input, output) pairs: one row's MACs in each kernel
      * without the padding below. */
    val pairs: Int,
    /** Members of each output group, padded to a multiple of 8 by
      * repeating the last (a repeated output computes and stores its own
      * value again), and its connected inputs. */
    outs: Array[Array[Int]], outIns: Array[Array[Int]], outInsRun: Array[Boolean],
    /** Members of each input group, padded the same way to a multiple of
      * 4, and its connected outputs. */
    ins: Array[Array[Int]], inOuts: Array[Array[Int]], inOutsRun: Array[Boolean]) {

  /** The connected weights of `w` in the forward's visiting order: per
    * output group, each 8-output tile's weights input by input, 8 floats
    * an input. */
  def packForward(w: Array[Float]): Array[Float] = {
    var size = 0
    var gi = 0
    while (gi < outs.length) { size += outs(gi).length * outIns(gi).length; gi += 1 }
    val wp = new Array[Float](size)
    var p = 0
    gi = 0
    while (gi < outs.length) {
      val os = outs(gi); val ci = outIns(gi)
      var t = 0
      while (t < os.length) {
        var j = 0
        while (j < ci.length) {
          val wi = ci(j) * nOut
          var k = 0
          while (k < 8) { wp(p) = w(wi + os(t + k)); p += 1; k += 1 }
          j += 1
        }
        t += 8
      }
      gi += 1
    }
    wp
  }

  /** Rows `ra` and `rb` (`rb == ra` for an odd last row) of the forward,
    * from the packed weights `wp` ([[packForward]]). Within an output
    * group, 2 rows × 8 outputs stay in 16 registers for the walk over the
    * group's connected inputs, in ascending order. */
  def forwardRows(x: Array[Float], wp: Array[Float], bd: Array[Float],
      out: Array[Float], ra: Int, rb: Int): Unit = {
    val xa = ra * nIn; val xb = rb * nIn
    val oa = ra * nOut; val ob = rb * nOut
    var p = 0
    var gi = 0
    while (gi < outs.length) {
      val os = outs(gi); val ci = outIns(gi)
      val n = ci.length
      val idx = if (outInsRun(gi)) null else ci
      val lo = if (n == 0) 0 else ci(0)
      var t = 0
      while (t < os.length) {
        val o0 = os(t); val o1 = os(t + 1); val o2 = os(t + 2); val o3 = os(t + 3)
        val o4 = os(t + 4); val o5 = os(t + 5); val o6 = os(t + 6); val o7 = os(t + 7)
        var a0 = bd(o0); var a1 = bd(o1); var a2 = bd(o2); var a3 = bd(o3)
        var a4 = bd(o4); var a5 = bd(o5); var a6 = bd(o6); var a7 = bd(o7)
        var c0 = a0; var c1 = a1; var c2 = a2; var c3 = a3
        var c4 = a4; var c5 = a5; var c6 = a6; var c7 = a7
        var j = 0
        while (j < n) {
          val i = if (idx == null) lo + j else idx(j)
          val u = x(xa + i); val v = x(xb + i)
          val w0 = wp(p); val w1 = wp(p + 1); val w2 = wp(p + 2); val w3 = wp(p + 3)
          val w4 = wp(p + 4); val w5 = wp(p + 5); val w6 = wp(p + 6); val w7 = wp(p + 7)
          a0 += u * w0; a1 += u * w1; a2 += u * w2; a3 += u * w3
          a4 += u * w4; a5 += u * w5; a6 += u * w6; a7 += u * w7
          c0 += v * w0; c1 += v * w1; c2 += v * w2; c3 += v * w3
          c4 += v * w4; c5 += v * w5; c6 += v * w6; c7 += v * w7
          p += 8
          j += 1
        }
        out(oa + o0) = a0; out(oa + o1) = a1; out(oa + o2) = a2; out(oa + o3) = a3
        out(oa + o4) = a4; out(oa + o5) = a5; out(oa + o6) = a6; out(oa + o7) = a7
        out(ob + o0) = c0; out(ob + o1) = c1; out(ob + o2) = c2; out(ob + o3) = c3
        out(ob + o4) = c4; out(ob + o5) = c5; out(ob + o6) = c6; out(ob + o7) = c7
        t += 8
      }
      gi += 1
    }
  }

  /** [[forwardRows]] reading the connected weights in place, for a step
    * over fewer rows than repay [[packForward]] (the sampler's forwards
    * carry a median of 1 row). */
  def forwardRowsInPlace(x: Array[Float], w: Array[Float], bd: Array[Float],
      out: Array[Float], ra: Int, rb: Int): Unit = {
    val xa = ra * nIn; val xb = rb * nIn
    val oa = ra * nOut; val ob = rb * nOut
    var gi = 0
    while (gi < outs.length) {
      val os = outs(gi); val ci = outIns(gi)
      var t = 0
      while (t < os.length) {
        val o0 = os(t); val o1 = os(t + 1); val o2 = os(t + 2); val o3 = os(t + 3)
        val o4 = os(t + 4); val o5 = os(t + 5); val o6 = os(t + 6); val o7 = os(t + 7)
        var a0 = bd(o0); var a1 = bd(o1); var a2 = bd(o2); var a3 = bd(o3)
        var a4 = bd(o4); var a5 = bd(o5); var a6 = bd(o6); var a7 = bd(o7)
        var c0 = a0; var c1 = a1; var c2 = a2; var c3 = a3
        var c4 = a4; var c5 = a5; var c6 = a6; var c7 = a7
        var j = 0
        while (j < ci.length) {
          val i = ci(j)
          val u = x(xa + i); val v = x(xb + i)
          val wi = i * nOut
          val w0 = w(wi + o0); val w1 = w(wi + o1); val w2 = w(wi + o2); val w3 = w(wi + o3)
          val w4 = w(wi + o4); val w5 = w(wi + o5); val w6 = w(wi + o6); val w7 = w(wi + o7)
          a0 += u * w0; a1 += u * w1; a2 += u * w2; a3 += u * w3
          a4 += u * w4; a5 += u * w5; a6 += u * w6; a7 += u * w7
          c0 += v * w0; c1 += v * w1; c2 += v * w2; c3 += v * w3
          c4 += v * w4; c5 += v * w5; c6 += v * w6; c7 += v * w7
          j += 1
        }
        out(oa + o0) = a0; out(oa + o1) = a1; out(oa + o2) = a2; out(oa + o3) = a3
        out(oa + o4) = a4; out(oa + o5) = a5; out(oa + o6) = a6; out(oa + o7) = a7
        out(ob + o0) = c0; out(ob + o1) = c1; out(ob + o2) = c2; out(ob + o3) = c3
        out(ob + o4) = c4; out(ob + o5) = c5; out(ob + o6) = c6; out(ob + o7) = c7
        t += 8
      }
      gi += 1
    }
  }

  /** Weight gradients of rows `[r0, r1)` added into `gw`, each in row
    * order. Rows where an input is 0 add nothing (as in the dense
    * kernel), so each input first lists its nonzero rows; then every
    * (connected input, 8-output tile) pair adds its rows in 8 registers. */
  def weightGrads(x: Array[Float], g: Array[Float], gw: Array[Float],
      r0: Int, r1: Int): Unit = {
    val nr = r1 - r0
    // Input i's nonzero rows and their values at [i·nr, i·nr + cnt(i)).
    val rows = new Array[Int](nIn * nr)
    val vals = new Array[Float](nIn * nr)
    val cnt = new Array[Int](nIn)
    var r = r0
    while (r < r1) {
      val xo = r * nIn
      var i = 0
      while (i < nIn) {
        val xv = x(xo + i)
        if (xv != 0f) {
          val k = i * nr + cnt(i)
          rows(k) = r; vals(k) = xv; cnt(i) += 1
        }
        i += 1
      }
      r += 1
    }
    var gi = 0
    while (gi < outs.length) {
      val os = outs(gi); val ci = outIns(gi)
      var t = 0
      while (t < os.length) {
        val o0 = os(t); val o1 = os(t + 1); val o2 = os(t + 2); val o3 = os(t + 3)
        val o4 = os(t + 4); val o5 = os(t + 5); val o6 = os(t + 6); val o7 = os(t + 7)
        var j = 0
        while (j < ci.length) {
          val i = ci(j)
          val wi = i * nOut
          var a0 = gw(wi + o0); var a1 = gw(wi + o1); var a2 = gw(wi + o2); var a3 = gw(wi + o3)
          var a4 = gw(wi + o4); var a5 = gw(wi + o5); var a6 = gw(wi + o6); var a7 = gw(wi + o7)
          var k = i * nr
          val end = k + cnt(i)
          while (k < end) {
            val go = rows(k) * nOut; val xv = vals(k)
            a0 += g(go + o0) * xv; a1 += g(go + o1) * xv; a2 += g(go + o2) * xv; a3 += g(go + o3) * xv
            a4 += g(go + o4) * xv; a5 += g(go + o5) * xv; a6 += g(go + o6) * xv; a7 += g(go + o7) * xv
            k += 1
          }
          gw(wi + o0) = a0; gw(wi + o1) = a1; gw(wi + o2) = a2; gw(wi + o3) = a3
          gw(wi + o4) = a4; gw(wi + o5) = a5; gw(wi + o6) = a6; gw(wi + o7) = a7
          j += 1
        }
        t += 8
      }
      gi += 1
    }
  }

  /** The connected weights of `w` in the input gradients' visiting order:
    * per input group, each 4-input tile's weights output by output, 4
    * floats an output. */
  def packInput(w: Array[Float]): Array[Float] = {
    var size = 0
    var gi = 0
    while (gi < ins.length) { size += ins(gi).length * inOuts(gi).length; gi += 1 }
    val wq = new Array[Float](size)
    var p = 0
    gi = 0
    while (gi < ins.length) {
      val is = ins(gi); val co = inOuts(gi)
      var t = 0
      while (t < is.length) {
        var j = 0
        while (j < co.length) {
          var k = 0
          while (k < 4) { wq(p) = w(is(t + k) * nOut + co(j)); p += 1; k += 1 }
          j += 1
        }
        t += 4
      }
      gi += 1
    }
    wq
  }

  /** Input gradients of rows `[r0, r1)`, from the packed weights `wq`
    * ([[packInput]]): each is `Σ_o g_o·w_io` over its connected outputs in
    * ascending `o`, written where `need` (null = all) marks it. Within an
    * input group, tiles of 4 inputs run 4 rows at a time over the rows
    * that need any of them (a short last set repeats its last row). */
  def inputGrads(g: Array[Float], wq: Array[Float], gx: Array[Float],
      need: Array[Boolean], r0: Int, r1: Int): Unit = {
    var p = 0
    var gi = 0
    while (gi < ins.length) {
      val is = ins(gi)
      val n = inOuts(gi).length
      var t = 0
      while (t < is.length) {
        val i0 = is(t); val i1 = is(t + 1); val i2 = is(t + 2); val i3 = is(t + 3)
        var ra = -1; var rb = -1; var rc = -1
        var r = r0
        while (r < r1) {
          val xo = r * nIn
          if (need == null || need(xo + i0) || need(xo + i1) || need(xo + i2) || need(xo + i3)) {
            if (ra < 0) ra = r
            else if (rb < 0) rb = r
            else if (rc < 0) rc = r
            else {
              inputTile(g, wq, p, gi, gx, need, ra, rb, rc, r, i0, i1, i2, i3)
              ra = -1; rb = -1; rc = -1
            }
          }
          r += 1
        }
        if (rc >= 0) inputTile(g, wq, p, gi, gx, need, ra, rb, rc, rc, i0, i1, i2, i3)
        else if (rb >= 0) inputTile(g, wq, p, gi, gx, need, ra, rb, rb, rb, i0, i1, i2, i3)
        else if (ra >= 0) inputTile(g, wq, p, gi, gx, need, ra, ra, ra, ra, i0, i1, i2, i3)
        p += 4 * n
        t += 4
      }
      gi += 1
    }
  }

  /** Rows `ra..rd` × inputs `i0..i3` of input group `gi`, whose packed
    * weights start at `wq(p)`. */
  private def inputTile(g: Array[Float], wq: Array[Float], p: Int, gi: Int,
      gx: Array[Float], need: Array[Boolean], ra: Int, rb: Int, rc: Int, rd: Int,
      i0: Int, i1: Int, i2: Int, i3: Int): Unit = {
    val co = inOuts(gi)
    val n = co.length
    val idx = if (inOutsRun(gi)) null else co
    val lo = if (n == 0) 0 else co(0)
    val ga = ra * nOut; val gb = rb * nOut; val gc = rc * nOut; val gd = rd * nOut
    var a0 = 0f; var a1 = 0f; var a2 = 0f; var a3 = 0f
    var b0 = 0f; var b1 = 0f; var b2 = 0f; var b3 = 0f
    var c0 = 0f; var c1 = 0f; var c2 = 0f; var c3 = 0f
    var d0 = 0f; var d1 = 0f; var d2 = 0f; var d3 = 0f
    var k = p
    var j = 0
    while (j < n) {
      val o = if (idx == null) lo + j else idx(j)
      val ua = g(ga + o); val ub = g(gb + o); val uc = g(gc + o); val ud = g(gd + o)
      val v0 = wq(k); val v1 = wq(k + 1); val v2 = wq(k + 2); val v3 = wq(k + 3)
      a0 += ua * v0; a1 += ua * v1; a2 += ua * v2; a3 += ua * v3
      b0 += ub * v0; b1 += ub * v1; b2 += ub * v2; b3 += ub * v3
      c0 += uc * v0; c1 += uc * v1; c2 += uc * v2; c3 += uc * v3
      d0 += ud * v0; d1 += ud * v1; d2 += ud * v2; d3 += ud * v3
      k += 4
      j += 1
    }
    store(gx, need, ra * nIn, i0, i1, i2, i3, a0, a1, a2, a3)
    store(gx, need, rb * nIn, i0, i1, i2, i3, b0, b1, b2, b3)
    store(gx, need, rc * nIn, i0, i1, i2, i3, c0, c1, c2, c3)
    store(gx, need, rd * nIn, i0, i1, i2, i3, d0, d1, d2, d3)
  }

  private def store(gx: Array[Float], need: Array[Boolean], xo: Int,
      i0: Int, i1: Int, i2: Int, i3: Int, v0: Float, v1: Float, v2: Float, v3: Float): Unit = {
    if (need == null || need(xo + i0)) gx(xo + i0) = v0
    if (need == null || need(xo + i1)) gx(xo + i1) = v1
    if (need == null || need(xo + i2)) gx(xo + i2) = v2
    if (need == null || need(xo + i3)) gx(xo + i3) = v3
  }
}

private[nn] object MaskPlan {
  /** Steps over fewer rows read the forward's weights in place. */
  val PackRows = 8

  /** The plan of `mask`, in O(nIn·nOut): one pass hashes every output's
    * and every input's connected set, and members of a group are checked
    * against its first member, so a hash collision only splits a group. */
  def apply(mask: Array[Float], nIn: Int, nOut: Int): MaskPlan = {
    val hOut = new Array[Long](nOut)
    val hIn = new Array[Long](nIn)
    var pairs = 0
    var i = 0
    while (i < nIn) {
      var o = 0
      while (o < nOut) {
        if (mask(i * nOut + o) != 0f) {
          pairs += 1
          hOut(o) = hOut(o) * 0x9E3779B97F4A7C15L + i + 1
          hIn(i) = hIn(i) * 0x9E3779B97F4A7C15L + o + 1
        }
        o += 1
      }
      i += 1
    }
    def on(i: Int, o: Int): Boolean = mask(i * nOut + o) != 0f
    val (outs, outIns, outRun) = groups(hOut, nIn, 8,
      (a, b) => { var i = 0; while (i < nIn && on(i, a) == on(i, b)) i += 1; i == nIn },
      on(_, _))
    val (ins, inOuts, inRun) = groups(hIn, nOut, 4,
      (a, b) => { var o = 0; while (o < nOut && on(a, o) == on(b, o)) o += 1; o == nOut },
      (i, o) => on(o, i))
    new MaskPlan(mask, nIn, nOut, pairs, outs, outIns, outRun, ins, inOuts, inRun)
  }

  /** Groups the units `0 until h.length` by their connected sets over
    * `0 until other`: `same(a, b)` compares two units' sets and
    * `conn(k, u)` says whether `k` is in unit `u`'s set. Returns each
    * group's members, padded to a multiple of `tile` by repeating the
    * last, its connected set and whether that set is a run. */
  private def groups(h: Array[Long], other: Int, tile: Int, same: (Int, Int) => Boolean,
      conn: (Int, Int) => Boolean): (Array[Array[Int]], Array[Array[Int]], Array[Boolean]) = {
    val n = h.length
    // Hash in the high half, unit in the low half: sorting puts each
    // hash's units together, ascending.
    val keys = new Array[Long](n)
    var u = 0
    while (u < n) {
      var z = h(u)
      z = (z ^ (z >>> 33)) * 0xFF51AFD7ED558CCDL
      z = (z ^ (z >>> 33)) * 0xC4CEB9FE1A85EC53L
      keys(u) = (z & 0xFFFFFFFF00000000L) | u
      u += 1
    }
    java.util.Arrays.sort(keys)
    val members = scala.collection.mutable.ArrayBuffer[Array[Int]]()
    var s = 0
    while (s < n) {
      val rep = keys(s).toInt
      var e = s + 1
      while (e < n && (keys(e) >>> 32) == (keys(s) >>> 32) && same(rep, keys(e).toInt)) e += 1
      val padded = (e - s + tile - 1) / tile * tile
      members += Array.tabulate(padded)(k => keys(s + math.min(k, e - s - 1)).toInt)
      s = e
    }
    val sets = members.map { m =>
      val rep = m(0)
      val buf = new Array[Int](other)
      var c = 0
      var k = 0
      while (k < other) { if (conn(k, rep)) { buf(c) = k; c += 1 }; k += 1 }
      java.util.Arrays.copyOf(buf, c)
    }.toArray
    val runs = sets.map(c => c.isEmpty || c(c.length - 1) - c(0) == c.length - 1)
    (members.toArray, sets, runs)
  }

  /** Bias gradients of rows `[r0, r1)`, each added in row order. */
  def biasGrads(g: Array[Float], gb: Array[Float], nOut: Int, r0: Int, r1: Int): Unit = {
    var r = r0
    while (r < r1) {
      val oo = r * nOut
      var o = 0
      while (o < nOut) { gb(o) += g(oo + o); o += 1 }
      r += 1
    }
  }
}

final class ReLU(val dim: Int) extends Layer {
  def nIn: Int = dim
  def nOut: Int = dim
  def forward(x: Array[Float], batch: Int): Array[Float] = Nn.relu(x)
  private[nn] def step(x: Array[Float], batch: Int): RowStep =
    new RowStep(new Array[Float](batch * dim)) {
      def forward(r0: Int, r1: Int): Unit = Nn.relu(x, out, r0 * dim, r1 * dim)
      def backward(gOut: Array[Float], chunks: Int, need: Array[Boolean]): RowGrad =
        new RowGrad(new Array[Float](batch * dim)) {
          def rows(c: Int, r0: Int, r1: Int): Unit =
            Nn.reluBackward(out, gOut, gx, r0 * dim, r1 * dim)
        }
    }
  def params: Seq[Param] = Nil
}

/** `x + L2(act(L1(act(x))))`, both linears sharing one mask — reference
  * made.py:31-51. */
final class MaskedResidualBlock(val dim: Int,
    val preserveWeights: Boolean = false) extends Layer {
  val l1 = new MaskedLinear(dim, dim, preserveWeights)
  val l2 = new MaskedLinear(dim, dim, preserveWeights)
  def nIn: Int = dim
  def nOut: Int = dim
  def setMaskInOut(m: Array[Array[Boolean]]): Unit = {
    l1.setMaskInOut(m); l2.setMaskInOut(m)
  }
  def forward(x: Array[Float], batch: Int): Array[Float] = {
    val out = l2.forward(Nn.relu(l1.forward(Nn.relu(x), batch)), batch)
    var k = 0
    while (k < x.length) { out(k) = x(k) + out(k); k += 1 }
    out
  }
  /** `a0 = act(x)` feeds L1; L1's output becomes `act(h1)` in place and
    * feeds L2; L2's output becomes the block's output in place. ReLU's
    * backward reads `a0` and `act(h1)`, positive where `x` and `h1` are. */
  private[nn] def step(x: Array[Float], batch: Int): RowStep = {
    val a0 = new Array[Float](batch * dim)
    val s1 = l1.step(a0, batch)
    val a1 = s1.out
    val s2 = l2.step(a1, batch)
    new RowStep(s2.out) {
      def forward(r0: Int, r1: Int): Unit = {
        val k0 = r0 * dim; val k1 = r1 * dim
        Nn.relu(x, a0, k0, k1)
        s1.forward(r0, r1)
        Nn.relu(a1, a1, k0, k1)
        s2.forward(r0, r1)
        var k = k0
        while (k < k1) { out(k) = x(k) + out(k); k += 1 }
      }
      def backward(gOut: Array[Float], chunks: Int, need: Array[Boolean]): RowGrad = {
        val b2 = s2.backward(gOut, chunks)
        val b1 = s1.backward(b2.gx, chunks)
        new RowGrad(b1.gx) {
          def rows(c: Int, r0: Int, r1: Int): Unit = {
            val k0 = r0 * dim; val k1 = r1 * dim
            b2.rows(c, r0, r1)
            Nn.reluBackward(a1, b2.gx, b2.gx, k0, k1)
            b1.rows(c, r0, r1)
            var k = k0
            while (k < k1) { gx(k) = gOut(k) + (if (a0(k) > 0f) gx(k) else 0f); k += 1 }
          }
          override def finish(): Unit = { b2.finish(); b1.finish() }
        }
      }
    }
  }
  def params: Seq[Param] = l1.params ++ l2.params
}
