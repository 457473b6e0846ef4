package graft.nn

/** Decoder-only autoregressive Transformer — a from-scratch Scala
  * re-implementation of reference transformer.py:267-598: per-column
  * embeddings + positional embeddings with SOS right-shift
  * (transformer.py:410-493), pre-norm blocks of multi-head self-attention
  * with additive masking (transformer.py:140-208) and a GeLU MLP
  * (transformer.py:211-264), final LayerNorm, tied-embedding output
  * logits (transformer.py:587-598), per-column cross-entropy NLL.
  *
  * Arbitrary autoregressive orderings (reference transformer.py:44-102,
  * checked by transformer.py:601-651 across natural/reversed/random) are
  * realized by permuting the column -> sequence-position mapping under
  * the unchanged causal mask: the column at order position p feeds
  * sequence position p+1, and the hidden at order position p decodes
  * that column. This is semantically the reference's `fixed_ordering`
  * path — its scheme-1 masks exist to express the same permutation
  * without moving rows; here moving the rows is free since encoding is
  * explicit.
  *
  * Layout: sequences are flat row-major `Array[Float]` with index
  * `((b * seq + s) * d + k)`; seq = nin (position 0 is SOS, position p+1
  * holds the column at order position p); the output at order position i
  * is the hidden for `p(x_ord(i) | x_ord(<i))`.
  */
final class Transformer(
    val nin: Int,
    val inputBins: Array[Int],
    val dModel: Int = 32,
    val dFf: Int = 128,
    val numHeads: Int = 4,
    val numBlocks: Int = 2,
    val columnMasking: Boolean = false,
    val fixedOrdering: Array[Int] = null,
    val seed: Long = 11123L) extends graft.est.ArModel with Trainable {

  require(dModel % numHeads == 0)
  require(fixedOrdering == null ||
    fixedOrdering.sorted.sameElements(Array.tabulate(nin)(identity)),
    "fixedOrdering must be a permutation of 0 until nin")
  private val rng = new java.util.Random(seed)
  private val dState = dModel / numHeads
  val seqLen: Int = nin

  /** ordering(naturalIdx) = position in the autoregressive order. */
  val ordering: Array[Int] =
    if (fixedOrdering != null) fixedOrdering.clone()
    else Array.tabulate(nin)(identity)
  /** position -> natural column index. */
  private val invOrder: Array[Int] = {
    val inv = new Array[Int](nin)
    for (nat <- 0 until nin) inv(ordering(nat)) = nat
    inv
  }
  def totalInputSize: Int = seqLen * dModel

  // ---- parameters ----
  private def gaussian(n: Int, std: Double): Array[Float] =
    Array.fill(n)((rng.nextGaussian() * std).toFloat)

  /** Per-column token embeddings [dom_i, d] (transformer.py:372-376). */
  val embeddings: Array[Param] =
    Array.tabulate(nin)(i => new Param(gaussian(inputBins(i) * dModel, 0.02)))
  /** Positional embeddings [seq, d] (transformer.py:378-383). */
  val posEmbeddings: Param = new Param(gaussian(seqLen * dModel, 0.01))
  /** Learnable [MASK] per column [d] (transformer.py:386-389). */
  val unkEmbeddings: Array[Param] =
    if (columnMasking) Array.fill(nin)(new Param(new Array[Float](dModel)))
    else null

  /** A dense layer y = xW + b, W [dIn, dOut] (reference Conv1d,
    * transformer.py:121-137), filled from the model rng at construction. */
  private def dense(dIn: Int, dOut: Int): MaskedLinear = {
    val l = new MaskedLinear(dIn, dOut)
    gaussian(dIn * dOut, 0.02).copyToArray(l.weight.data)
    l
  }

  /** LayerNorm over the last dim (transformer.py:105-118). */
  private final class TNorm(d: Int, eps: Float = 1e-5f) extends Serializable {
    val scale = new Param(Array.fill(d)(1f))
    val shift = new Param(new Array[Float](d))
    private var xhat: Array[Float] = null
    private var invStd: Array[Float] = null
    /** `cache` keeps x̂ and 1/σ for backward (training only). */
    def forward(x: Array[Float], n: Int, cache: Boolean): Array[Float] = {
      val out = new Array[Float](n * d)
      val xh = if (cache) new Array[Float](n * d) else null
      val inv = if (cache) new Array[Float](n) else null
      Nn.forRows(n, Nn.chunks(n, 8 * d)) { (_, r0, r1) =>
        var r = r0
        while (r < r1) {
          val o = r * d
          var mean = 0f
          var i = 0
          while (i < d) { mean += x(o + i); i += 1 }
          mean /= d
          var v = 0f
          i = 0
          while (i < d) { val c = x(o + i) - mean; v += c * c; i += 1 }
          v /= d
          val is = (1.0 / math.sqrt(v + eps)).toFloat
          if (inv != null) inv(r) = is
          i = 0
          while (i < d) {
            val h = (x(o + i) - mean) * is
            if (xh != null) xh(o + i) = h
            out(o + i) = scale.data(i) * h + shift.data(i)
            i += 1
          }
          r += 1
        }
      }
      if (cache) { xhat = xh; invStd = inv }
      out
    }
    def backward(g: Array[Float], n: Int): Array[Float] = {
      val gx = new Array[Float](n * d)
      var r = 0
      while (r < n) {
        val o = r * d
        var sumG = 0f
        var sumGx = 0f
        var i = 0
        while (i < d) {
          val gy = g(o + i) * scale.data(i)
          sumG += gy
          sumGx += gy * xhat(o + i)
          scale.grad(i) += g(o + i) * xhat(o + i)
          shift.grad(i) += g(o + i)
          i += 1
        }
        val is = invStd(r)
        i = 0
        while (i < d) {
          val gy = g(o + i) * scale.data(i)
          gx(o + i) = is * (gy - sumG / d - xhat(o + i) * sumGx / d)
          i += 1
        }
        r += 1
      }
      gx
    }
    def params: Seq[Param] = Seq(scale, shift)
  }

  /** tanh-approx GeLU (transformer.py:211-218). */
  private final class TGelu extends Serializable {
    private var xCache: Array[Float] = null
    private var tanhCache: Array[Double] = null
    private val c = math.sqrt(2.0 / math.Pi)
    /** `cache` keeps `x` and its tanh term for backward (training only). */
    def forward(x: Array[Float], cache: Boolean): Array[Float] = {
      val out = new Array[Float](x.length)
      val th = if (cache) new Array[Double](x.length) else null
      Nn.forRows(x.length, Nn.chunks(x.length, Nn.TranscendentalMacs)) { (_, i0, i1) =>
        var i = i0
        while (i < i1) {
          val v = x(i)
          val t = math.tanh(c * (v + 0.044715 * v * v * v))
          if (th != null) th(i) = t
          out(i) = (0.5 * v * (1 + t)).toFloat
          i += 1
        }
      }
      if (cache) { xCache = x; tanhCache = th }
      out
    }
    def backward(g: Array[Float]): Array[Float] = {
      val gx = new Array[Float](g.length)
      var i = 0
      while (i < g.length) {
        val v = xCache(i)
        val t = tanhCache(i)
        val du = c * (1 + 3 * 0.044715 * v * v)
        gx(i) = (g(i) * (0.5 * (1 + t) + 0.5 * v * (1 - t * t) * du)).toFloat
        i += 1
      }
      gx
    }
  }

  /** Multi-head causal self-attention (transformer.py:140-208). */
  private final class TAttention extends Serializable {
    val qkv = dense(dModel, 3 * dModel)
    val out = dense(dModel, dModel)
    private var qkvCache: Array[Float] = null
    private var attnCache: Array[Float] = null // [bs, h, seq, seq]

    /** One sequence's work in MACs: its causal (i, j ≤ i) pairs over all
      * heads, times the cost of one pair. */
    private def seqCost(pairMacs: Int): Int =
      numHeads * seqLen * (seqLen + 1) / 2 * pairMacs

    /** `cache` keeps q/k/v and the attention weights for backward
      * (training only); otherwise each chunk softmaxes in a seqLen
      * scratch row. */
    def forward(x: Array[Float], bs: Int, cache: Boolean): Array[Float] = {
      val n = bs * seqLen
      val q = qkv.forward(x, n, cache)
      val attn = if (cache) new Array[Float](bs * numHeads * seqLen * seqLen) else null
      val ctx = new Array[Float](n * dModel)
      // Per-batch-element state is disjoint -> parallel over b. A pair
      // costs a score and a context row (dState MACs each) and one exp.
      Nn.forRows(bs, Nn.chunks(bs, seqCost(2 * dState + Nn.TranscendentalMacs))) {
        (_, b0, b1) => attend(q, attn, ctx, b0, b1)
      }
      if (cache) { qkvCache = q; attnCache = attn }
      out.forward(ctx, n, cache)
    }

    private def attend(q: Array[Float], attn: Array[Float], ctx: Array[Float],
        b0: Int, b1: Int): Unit = {
      val h3 = 3 * dModel
      val scale = (1.0 / math.sqrt(dState)).toFloat
      val p = if (attn != null) attn else new Array[Float](seqLen)
      var b = b0
      while (b < b1) {
        var h = 0
        while (h < numHeads) {
          val qOff = h * dState
          val kOff = dModel + h * dState
          val vOff = 2 * dModel + h * dState
          var i = 0
          while (i < seqLen) {
            val aOff = if (attn != null) ((b * numHeads + h) * seqLen + i) * seqLen else 0
            val qRow = (b * seqLen + i) * h3 + qOff
            // causal: position i attends to j <= i (mask(n), transformer.py:48-55)
            var mx = Float.NegativeInfinity
            var j = 0
            while (j <= i) {
              val kRow = (b * seqLen + j) * h3 + kOff
              var s = 0f
              var t = 0
              while (t < dState) { s += q(qRow + t) * q(kRow + t); t += 1 }
              s *= scale
              p(aOff + j) = s
              if (s > mx) mx = s
              j += 1
            }
            var sum = 0.0
            j = 0
            while (j <= i) {
              val e = math.exp(p(aOff + j) - mx)
              p(aOff + j) = e.toFloat
              sum += e
              j += 1
            }
            j = 0
            while (j <= i) { p(aOff + j) = (p(aOff + j) / sum).toFloat; j += 1 }
            // ctx_i = sum_j attn_ij v_j
            val cRow = (b * seqLen + i) * dModel + h * dState
            j = 0
            while (j <= i) {
              val a = p(aOff + j)
              val vRow = (b * seqLen + j) * h3 + vOff
              var t = 0
              while (t < dState) { ctx(cRow + t) += a * q(vRow + t); t += 1 }
              j += 1
            }
            i += 1
          }
          h += 1
        }
        b += 1
      }
    }

    def backward(g: Array[Float], bs: Int): Array[Float] = {
      val n = bs * seqLen
      val h3 = 3 * dModel
      val gCtx = out.backward(g, n)
      val q = qkvCache
      val attn = attnCache
      val gQkv = new Array[Float](n * h3)
      val scale = (1.0 / math.sqrt(dState)).toFloat
      // gQkv rows are per-batch-element -> disjoint, parallel over b. A
      // pair costs four dState-long loops.
      Nn.forRows(bs, Nn.chunks(bs, seqCost(4 * dState))) { (_, b0, b1) =>
      val dAttn = new Array[Float](seqLen)
      var b = b0
      while (b < b1) {
        var h = 0
        while (h < numHeads) {
          val qOff = h * dState
          val kOff = dModel + h * dState
          val vOff = 2 * dModel + h * dState
          var i = 0
          while (i < seqLen) {
            val aOff = ((b * numHeads + h) * seqLen + i) * seqLen
            val cRow = (b * seqLen + i) * dModel + h * dState
            // dAttn_ij = gCtx_i . v_j ; dV_j += attn_ij gCtx_i
            var j = 0
            while (j <= i) {
              val vRow = (b * seqLen + j) * h3 + vOff
              var s = 0f
              var t = 0
              while (t < dState) {
                s += gCtx(cRow + t) * q(vRow + t)
                gQkv(vRow + t) += attn(aOff + j) * gCtx(cRow + t)
                t += 1
              }
              dAttn(j) = s
              j += 1
            }
            // softmax backward: dScore = a * (dAttn - sum_k a_k dAttn_k)
            var dot = 0f
            j = 0
            while (j <= i) { dot += attn(aOff + j) * dAttn(j); j += 1 }
            val qRow = (b * seqLen + i) * h3 + qOff
            j = 0
            while (j <= i) {
              val dScore = attn(aOff + j) * (dAttn(j) - dot) * scale
              val kRow = (b * seqLen + j) * h3 + kOff
              var t = 0
              while (t < dState) {
                gQkv(qRow + t) += dScore * q(kRow + t)
                gQkv(kRow + t) += dScore * q(qRow + t)
                t += 1
              }
              j += 1
            }
            i += 1
          }
          h += 1
        }
        b += 1
      }
      }
      qkv.backward(gQkv, n)
    }
    def params: Seq[Param] = qkv.params ++ out.params
  }

  /** Pre-norm residual block (transformer.py:221-264, do_residual=true). */
  private final class TBlock extends Serializable {
    val norm1 = new TNorm(dModel)
    val norm2 = new TNorm(dModel)
    val attn = new TAttention
    val fc1 = dense(dModel, dFf)
    val act = new TGelu
    val fc2 = dense(dFf, dModel)
    def forward(x: Array[Float], bs: Int, cache: Boolean): Array[Float] = {
      val n = bs * seqLen
      val a = attn.forward(norm1.forward(x, n, cache), bs, cache)
      val x1 = new Array[Float](x.length)
      var i = 0
      while (i < x.length) { x1(i) = x(i) + a(i); i += 1 }
      val f = fc1.forward(norm2.forward(x1, n, cache), n, cache)
      val m = fc2.forward(act.forward(f, cache), n, cache)
      val x2 = new Array[Float](x.length)
      i = 0
      while (i < x.length) { x2(i) = x1(i) + m(i); i += 1 }
      x2
    }
    def backward(g: Array[Float], bs: Int): Array[Float] = {
      val n = bs * seqLen
      val gM = fc1.backward(act.backward(fc2.backward(g, n)), n)
      val gX1 = norm2.backward(gM, n)
      var i = 0
      while (i < g.length) { gX1(i) += g(i); i += 1 }
      val gA = attn.backward(gX1, bs)
      val gX = norm1.backward(gA, n)
      i = 0
      while (i < g.length) { gX(i) += gX1(i); i += 1 }
      gX
    }
    def params: Seq[Param] =
      norm1.params ++ norm2.params ++ attn.params ++ fc1.params ++ fc2.params
  }

  private val blocks = Array.fill(numBlocks)(new TBlock)
  private val finalNorm = new TNorm(dModel)

  def params: Seq[Param] =
    embeddings.toSeq ++ Seq(posEmbeddings) ++
      (if (unkEmbeddings != null) unkEmbeddings.toSeq else Nil) ++
      blocks.flatMap(_.params).toSeq ++ finalNorm.params

  def parameterCount: Long = params.map(_.data.length.toLong).sum

  // ---- input encoding (transformer.py:410-530) ----

  /** Write column `nat`'s embedding (+pos emb) into sequence position
    * ordering(nat)+1; the column LAST in the ordering is never an input
    * (right shift). Values null = [MASK]. Position 0 (SOS + pos emb 0)
    * is owned by forwardEncoded.
    */
  def encodeColumn(naturalIdx: Int, values: Array[Int], out: Array[Float],
      batch: Int): Unit = {
    val pos = ordering(naturalIdx) + 1
    if (pos >= seqLen) return // right-shifted out (transformer.py:440-444)
    var r = 0
    while (r < batch) {
      val o = (r * seqLen + pos) * dModel
      var k = 0
      if (values == null) {
        val unk = unkEmbeddings(naturalIdx).data
        while (k < dModel) {
          out(o + k) = unk(k) + posEmbeddings.data(pos * dModel + k)
          k += 1
        }
      } else {
        val e = embeddings(naturalIdx).data
        val eo = values(r) * dModel
        while (k < dModel) {
          out(o + k) = e(eo + k) + posEmbeddings.data(pos * dModel + k)
          k += 1
        }
      }
      r += 1
    }
  }

  // Per-batch dropout state for column masking.
  private var dropMask: Array[Array[Boolean]] = null
  private var dataCache: Array[Array[Int]] = null

  /** Full training encode: SOS + right-shifted embeddings + pos embs,
    * with per-column [MASK] dropout when training (transformer.py:456-487).
    */
  def encodeInput(data: Array[Array[Int]], train: Boolean): Array[Float] = {
    val bs = data.length
    val out = new Array[Float](bs * seqLen * dModel)
    dataCache = data
    dropMask = if (columnMasking && train) new Array[Array[Boolean]](nin) else null
    // SOS: zeros + pos emb 0.
    var r = 0
    while (r < bs) {
      System.arraycopy(posEmbeddings.data, 0, out, r * seqLen * dModel, dModel)
      r += 1
    }
    val colBuf = new Array[Int](bs)
    for (ordPos <- 0 until nin - 1) {
      val nat = invOrder(ordPos)
      var i = 0
      while (i < bs) { colBuf(i) = data(i)(nat); i += 1 }
      encodeColumn(nat, colBuf, out, bs)
      if (dropMask != null) {
        val p = rng.nextInt(nin).toDouble / nin
        val drops = new Array[Boolean](bs)
        val pos = ordPos + 1
        val unk = unkEmbeddings(nat).data
        i = 0
        while (i < bs) {
          if (rng.nextDouble() < p) {
            drops(i) = true
            val o = (i * seqLen + pos) * dModel
            var k = 0
            while (k < dModel) {
              out(o + k) = unk(k) + posEmbeddings.data(pos * dModel + k)
              k += 1
            }
          }
          i += 1
        }
        dropMask(nat) = drops
      }
    }
    out
  }

  /** Inference forward from an encoded buffer. Overwrites position 0
    * with SOS (pos emb 0) — it never depends on query state. Returns
    * hidden states [bs, seq, d]; use logitsForCol for per-column logits.
    * Writes no field of the model (all scratch is local to the call), so
    * any number of threads may call it at once, with any batch sizes. */
  def forwardEncoded(inp: Array[Float], batch: Int): Array[Float] =
    run(inp, batch, cache = false)

  /** Training forward: like forwardEncoded, but every layer also keeps
    * what `backward` needs. */
  def forward(data: Array[Array[Int]], train: Boolean): Array[Float] =
    run(encodeInput(data, train), data.length, cache = true)

  private def run(inp: Array[Float], batch: Int, cache: Boolean): Array[Float] = {
    var r = 0
    while (r < batch) {
      System.arraycopy(posEmbeddings.data, 0, inp, r * seqLen * dModel, dModel)
      r += 1
    }
    var h = inp
    var i = 0
    while (i < numBlocks) { h = blocks(i).forward(h, batch, cache); i += 1 }
    finalNorm.forward(h, batch * seqLen, cache)
  }

  /** Backward from dL/dHidden; routes gradients into block params,
    * embeddings, pos embeddings, and unk embeddings. */
  def backward(gradHidden: Array[Float], batch: Int): Unit = {
    var g = finalNorm.backward(gradHidden, batch * seqLen)
    var i = numBlocks - 1
    while (i >= 0) { g = blocks(i).backward(g, batch); i -= 1 }
    // g = dL/dEncodedInput. Route into embeddings/pos/unk.
    var r = 0
    while (r < batch) {
      // SOS slice: pos emb 0 only.
      var k = 0
      while (k < dModel) {
        posEmbeddings.grad(k) += g(r * seqLen * dModel + k)
        k += 1
      }
      var ordPos = 0
      while (ordPos < nin - 1) {
        val nat = invOrder(ordPos)
        val pos = ordPos + 1
        val o = (r * seqLen + pos) * dModel
        val dropped = dropMask != null && dropMask(nat)(r)
        k = 0
        while (k < dModel) {
          val gv = g(o + k)
          posEmbeddings.grad(pos * dModel + k) += gv
          if (dropped) unkEmbeddings(nat).grad(k) += gv
          else embeddings(nat).grad(dataCache(r)(nat) * dModel + k) += gv
          k += 1
        }
        ordPos += 1
      }
      r += 1
    }
  }

  /** Tied-embedding logits for column idx (transformer.py:587-598):
    * hidden at the column's ORDER position dotted with its embedding
    * matrix. */
  def logitsForCol(idx: Int, hidden: Array[Float], batch: Int): Array[Float] = {
    val dom = inputBins(idx)
    val e = embeddings(idx).data
    val out = new Array[Float](batch * dom)
    val pos = ordering(idx)
    var r = 0
    while (r < batch) {
      val hOff = (r * seqLen + pos) * dModel
      var v = 0
      while (v < dom) {
        var s = 0f
        var k = 0
        while (k < dModel) { s += hidden(hOff + k) * e(v * dModel + k); k += 1 }
        out(r * dom + v) = s
        v += 1
      }
      r += 1
    }
    out
  }

  /** Mean NLL + gradient wrt hidden states AND tied embeddings
    * (transformer.py:568-585); grad scaled 1/batch. */
  def nllWithGrad(hidden: Array[Float], data: Array[Array[Int]],
      batch: Int): (Double, Array[Float]) = {
    val gradH = new Array[Float](hidden.length)
    var total = 0.0
    val invB = 1f / batch
    for (c <- 0 until nin) {
      val dom = inputBins(c)
      val e = embeddings(c)
      val logits = logitsForCol(c, hidden, batch)
      val pos = ordering(c)
      var r = 0
      while (r < batch) {
        val base = r * dom
        var mx = Float.NegativeInfinity
        var j = 0
        while (j < dom) { if (logits(base + j) > mx) mx = logits(base + j); j += 1 }
        var sum = 0.0
        j = 0
        while (j < dom) { sum += math.exp(logits(base + j) - mx); j += 1 }
        val logZ = mx + math.log(sum)
        val t = data(r)(c)
        total += logZ - logits(base + t)
        val hOff = (r * seqLen + pos) * dModel
        j = 0
        while (j < dom) {
          val gl = ((math.exp(logits(base + j) - logZ)).toFloat -
            (if (j == t) 1f else 0f)) * invB
          if (gl != 0f) {
            var k = 0
            while (k < dModel) {
              gradH(hOff + k) += gl * e.data(j * dModel + k)
              e.grad(j * dModel + k) += gl * hidden(hOff + k)
              k += 1
            }
          }
          j += 1
        }
        r += 1
      }
    }
    (total / batch, gradH)
  }

  def nll(hidden: Array[Float], data: Array[Array[Int]], batch: Int): Double =
    Nn.meanNll(this, hidden, data, batch)
}
