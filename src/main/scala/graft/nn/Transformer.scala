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
  /** Column c's bins are entries `[binStart(c), binStart(c + 1))` of all
    * columns' bins. */
  private val binStart: Array[Int] = inputBins.scanLeft(0)(_ + _)

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

    /** This norm's part of a step over the `n` rows of `x` (see
      * [[RowStep]]), its buffers from `arena`; `train` keeps x̂ and 1/σ
      * for the backward. */
    def step(x: Array[Float], n: Int, train: Boolean, arena: Arena): RowStep = {
      val xh = if (train) arena.floats(n * d) else null
      val inv = if (train) arena.floats(n) else null
      new RowStep(arena.floats(n * d)) {
        def forward(r0: Int, r1: Int): Unit = {
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
        /** dL/dx by row range; `finish` adds γ's and β's gradients over
          * all rows, in row order. */
        def backward(g: Array[Float], chunks: Int, need: Array[Boolean]): RowGrad =
          new RowGrad(arena.floats(n * d)) {
            def rows(c: Int, r0: Int, r1: Int): Unit = {
              var r = r0
              while (r < r1) {
                val o = r * d
                var sumG = 0f
                var sumGx = 0f
                var i = 0
                while (i < d) {
                  val gy = g(o + i) * scale.data(i)
                  sumG += gy
                  sumGx += gy * xh(o + i)
                  i += 1
                }
                val is = inv(r)
                i = 0
                while (i < d) {
                  val gy = g(o + i) * scale.data(i)
                  gx(o + i) = is * (gy - sumG / d - xh(o + i) * sumGx / d)
                  i += 1
                }
                r += 1
              }
            }
            override def finish(): Unit = {
              var o = 0
              while (o < n * d) {
                var i = 0
                while (i < d) {
                  scale.grad(i) += g(o + i) * xh(o + i)
                  shift.grad(i) += g(o + i)
                  i += 1
                }
                o += d
              }
            }
          }
      }
    }
    def params: Seq[Param] = Seq(scale, shift)
  }

  private val geluC = math.sqrt(2.0 / math.Pi)

  /** Elements `[k0, k1)` of the tanh-approx GeLU (transformer.py:211-218)
    * of `x` into `out`; `th`, when not null, keeps the tanh terms for
    * [[geluBackward]]. */
  private def gelu(x: Array[Float], out: Array[Float], th: Array[Double],
      k0: Int, k1: Int): Unit = {
    var i = k0
    while (i < k1) {
      val v = x(i)
      val t = math.tanh(geluC * (v + 0.044715 * v * v * v))
      if (th != null) th(i) = t
      out(i) = (0.5 * v * (1 + t)).toFloat
      i += 1
    }
  }

  /** Elements `[k0, k1)` of GeLU's backward, in place: dL/dout `g`
    * becomes dL/dx, from the input `x` and the kept tanh terms. */
  private def geluBackward(x: Array[Float], th: Array[Double], g: Array[Float],
      k0: Int, k1: Int): Unit = {
    var i = k0
    while (i < k1) {
      val v = x(i)
      val t = th(i)
      val du = geluC * (1 + 3 * 0.044715 * v * v)
      g(i) = (g(i) * (0.5 * (1 + t) + 0.5 * v * (1 - t * t) * du)).toFloat
      i += 1
    }
  }

  /** `y(k) = x(k) + y(k)` for elements `[k0, k1)`: a residual add. */
  private def addInto(x: Array[Float], y: Array[Float], k0: Int, k1: Int): Unit = {
    var k = k0
    while (k < k1) { y(k) = x(k) + y(k); k += 1 }
  }

  /** Sequences `[b0, b1)` of multi-head causal self-attention
    * (transformer.py:140-208): `ctx` accumulates each position's
    * attention-weighted values from the fused q/k/v rows `q`. `attn`,
    * [bs, h, seq, seq], keeps the attention weights for the backward;
    * when null, each query softmaxes in a seqLen scratch row. */
  private def attend(q: Array[Float], attn: Array[Float], ctx: Array[Float],
      b0: Int, b1: Int): Unit = {
    val h3 = 3 * dModel
    val scale = (1.0 / math.sqrt(dState)).toFloat
    val p = if (attn != null) attn else new Array[Float](seqLen)
    java.util.Arrays.fill(ctx, b0 * seqLen * dModel, b1 * seqLen * dModel, 0f)
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

  /** Sequences `[b0, b1)` of attention's backward: `gQkv` accumulates
    * dL/dq, dL/dk and dL/dv from dL/dctx `gCtx`, the fused
    * q/k/v rows `q` and the attention weights `attn` the forward kept. */
  private def attendBackward(q: Array[Float], attn: Array[Float],
      gCtx: Array[Float], gQkv: Array[Float], b0: Int, b1: Int): Unit = {
    val h3 = 3 * dModel
    val scale = (1.0 / math.sqrt(dState)).toFloat
    val dAttn = new Array[Float](seqLen)
    java.util.Arrays.fill(gQkv, b0 * seqLen * h3, b1 * seqLen * h3, 0f)
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

  /** Pre-norm residual block (transformer.py:221-264, do_residual=true):
    * `x1 = x + proj(attend(qkv(norm1(x))))`,
    * `y = x1 + fc2(gelu(fc1(norm2(x1))))`. */
  private final class TBlock extends Serializable {
    val norm1 = new TNorm(dModel)
    val norm2 = new TNorm(dModel)
    val qkv = dense(dModel, 3 * dModel)
    val proj = dense(dModel, dModel)
    val fc1 = dense(dModel, dFf)
    val fc2 = dense(dFf, dModel)

    /** This block's part of a step over the `bs` sequences of `x`, whose
      * SEQUENCES the caller splits into ranges: `forward(b0, b1)` runs
      * sequences `[b0, b1)` through every layer in turn, whose steps
      * take the matching token rows `[b0·seqLen, b1·seqLen)`. `train`
      * keeps what the backward needs; every buffer, the backward's too,
      * comes from `arena`. The proj and fc2 layers' outputs become the
      * residual sums in place. */
    def step(x: Array[Float], bs: Int, train: Boolean, arena: Arena): RowStep = {
      val n = bs * seqLen
      val s1 = norm1.step(x, n, train, arena)
      val sq = qkv.step(s1.out, n, arena)
      val attn = if (train) arena.floats(bs * numHeads * seqLen * seqLen) else null
      val ctx = arena.floats(n * dModel)
      val so = proj.step(ctx, n, arena)
      val x1 = so.out
      val s2 = norm2.step(x1, n, train, arena)
      val sf1 = fc1.step(s2.out, n, arena)
      val th = if (train) arena.doubles(n * dFf) else null
      val act = arena.floats(n * dFf)
      val sf2 = fc2.step(act, n, arena)
      new RowStep(sf2.out) {
        def forward(b0: Int, b1: Int): Unit = {
          val r0 = b0 * seqLen; val r1 = b1 * seqLen
          s1.forward(r0, r1)
          sq.forward(r0, r1)
          attend(sq.out, attn, ctx, b0, b1)
          so.forward(r0, r1)
          addInto(x, x1, r0 * dModel, r1 * dModel)
          s2.forward(r0, r1)
          sf1.forward(r0, r1)
          gelu(sf1.out, act, th, r0 * dFf, r1 * dFf)
          sf2.forward(r0, r1)
          addInto(x1, out, r0 * dModel, r1 * dModel)
        }
        /** dL/dx by sequence range; `finish` completes every layer's
          * parameter gradients. */
        def backward(gOut: Array[Float], chunks: Int, need: Array[Boolean]): RowGrad = {
          val gf2 = sf2.backward(gOut, chunks)
          val gf1 = sf1.backward(gf2.gx, chunks)
          val g2 = s2.backward(gf1.gx, chunks)
          val gx1 = g2.gx
          val go = so.backward(gx1, chunks)
          val gQkv = arena.floats(n * 3 * dModel)
          val gq = sq.backward(gQkv, chunks)
          val g1 = s1.backward(gq.gx, chunks)
          new RowGrad(g1.gx) {
            def rows(c: Int, b0: Int, b1: Int): Unit = {
              val r0 = b0 * seqLen; val r1 = b1 * seqLen
              gf2.rows(c, r0, r1)
              geluBackward(sf1.out, th, gf2.gx, r0 * dFf, r1 * dFf)
              gf1.rows(c, r0, r1)
              g2.rows(c, r0, r1)
              addInto(gOut, gx1, r0 * dModel, r1 * dModel)
              go.rows(c, r0, r1)
              attendBackward(sq.out, attn, go.gx, gQkv, b0, b1)
              gq.rows(c, r0, r1)
              g1.rows(c, r0, r1)
              addInto(gx1, gx, r0 * dModel, r1 * dModel)
            }
            override def finish(): Unit = {
              gf2.finish(); gf1.finish(); g2.finish()
              go.finish(); gq.finish(); g1.finish()
            }
          }
        }
      }
    }
    def params: Seq[Param] =
      norm1.params ++ norm2.params ++ qkv.params ++ proj.params ++ fc1.params ++ fc2.params
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
      if (values == null) embed(unkEmbeddings(naturalIdx).data, 0, out, r, pos)
      else embed(embeddings(naturalIdx).data, values(r) * dModel, out, r, pos)
      r += 1
    }
  }

  /** `src[off, off + dModel)` + position `pos`'s embedding into sequence
    * `r`'s slot `pos`. */
  private def embed(src: Array[Float], off: Int, out: Array[Float], r: Int,
      pos: Int): Unit = {
    val o = (r * seqLen + pos) * dModel
    val pe = posEmbeddings.data
    var k = 0
    while (k < dModel) { out(o + k) = src(off + k) + pe(pos * dModel + k); k += 1 }
  }

  /** Sequence ranges of a step over `bs` sequences: the count `Nn.chunks`
    * gives every dense layer that forks at bs·seqLen token rows, 1 when
    * none does. Every forking layer gets the same count, and the widest
    * (qkv or the MLP's) forks first. */
  private def stepChunks(bs: Int): Int =
    Nn.chunks(bs * seqLen, dModel * math.max(3 * dModel, dFf))

  /** What a training forward leaves for `backward`. */
  private final class Step(val blocks: Array[RowStep], val norm: RowStep,
      val data: Array[Array[Int]], val drops: Array[Array[Boolean]])
  @transient private var last: Step = null
  /** The training steps' block buffers, kept from one step to the next. */
  @transient private var arena: Arena = null

  /** The forward over the `bs` sequences of `inp`, chunk-major: one fork
    * whose sequence ranges each run `encode(b0, b1)`, which fills those
    * sequences of `inp`, then the SOS slot (pos emb 0, never query
    * state), every block and the final norm. Forward bits do not depend
    * on the ranges: every kernel computes a row, or for attention a
    * sequence, on its own. The blocks' buffers come from `arena`; the
    * final norm's, the returned hidden states among them, are fresh. */
  private def walk(inp: Array[Float], bs: Int, train: Boolean, arena: Arena)(
      encode: (Int, Int) => Unit): (Array[RowStep], RowStep) = {
    val s = new Array[RowStep](numBlocks)
    var h = inp
    var i = 0
    while (i < numBlocks) { s(i) = blocks(i).step(h, bs, train, arena); h = s(i).out; i += 1 }
    val norm = finalNorm.step(h, bs * seqLen, train, Arena.fresh)
    Nn.forRows(bs, stepChunks(bs)) { (_, b0, b1) =>
      encode(b0, b1)
      var b = b0
      while (b < b1) {
        System.arraycopy(posEmbeddings.data, 0, inp, b * seqLen * dModel, dModel)
        b += 1
      }
      var i = 0
      while (i < numBlocks) { s(i).forward(b0, b1); i += 1 }
      norm.forward(b0 * seqLen, b1 * seqLen)
    }
    (s, norm)
  }

  /** Inference forward from an encoded buffer. Overwrites position 0
    * with SOS (pos emb 0) — it never depends on query state. Returns
    * hidden states [bs, seq, d]; use logitsForCol for per-column logits.
    * Writes no field of the model (all scratch is local to the call), so
    * any number of threads may call it at once, with any batch sizes. */
  def forwardEncoded(inp: Array[Float], batch: Int): Array[Float] =
    walk(inp, batch, train = false, Arena.fresh)((_, _) => ())._2.out

  /** Training forward: SOS + right-shifted embeddings + pos embs
    * (transformer.py:456-487), then the net, keeping what `backward`
    * needs. With columnMasking and train=true, each input column draws
    * p ~ U{0..nin-1}/nin and each row's slot becomes the [MASK]
    * embedding w.p. p; the draws run here, in (order position, row)
    * order, the encoding in the step's sequence ranges. Reuses the last
    * training step's buffers, so one caller at a time may train a model. */
  def forward(data: Array[Array[Int]], train: Boolean): Array[Float] = {
    val bs = data.length
    val drops =
      if (columnMasking && train) Array.fill(nin - 1) {
        val p = rng.nextInt(nin).toDouble / nin
        Array.fill(bs)(rng.nextDouble() < p)
      } else null
    if (arena == null) arena = new Arena(keep = true)
    arena.start()
    val inp = arena.floats(bs * seqLen * dModel)
    val (s, norm) = walk(inp, bs, train = true, arena) { (b0, b1) =>
      var r = b0
      while (r < b1) {
        var p = 0
        while (p < nin - 1) {
          val nat = invOrder(p)
          if (drops != null && drops(p)(r)) embed(unkEmbeddings(nat).data, 0, inp, r, p + 1)
          else embed(embeddings(nat).data, data(r)(nat) * dModel, inp, r, p + 1)
          p += 1
        }
        r += 1
      }
    }
    last = new Step(s, norm, data, drops)
    norm.out
  }

  /** Backward from dL/dHidden, chunk-major like `forward`, which it must
    * follow: one fork whose sequence ranges each run the final norm's
    * and every block's backward. After the join the layers complete
    * their parameter gradients, and dL/dEncodedInput is routed into the
    * embeddings, pos embeddings and unk embeddings in row order. */
  def backward(gradHidden: Array[Float], batch: Int): Unit = {
    val st = last
    val chunks = stepChunks(batch)
    val gn = st.norm.backward(gradHidden, chunks)
    val gs = new Array[RowGrad](numBlocks)
    var g = gn.gx
    var i = numBlocks - 1
    while (i >= 0) { gs(i) = st.blocks(i).backward(g, chunks); g = gs(i).gx; i -= 1 }
    Nn.forRows(batch, chunks) { (c, b0, b1) =>
      gn.rows(c, b0 * seqLen, b1 * seqLen)
      var i = numBlocks - 1
      while (i >= 0) { gs(i).rows(c, b0, b1); i -= 1 }
    }
    gn.finish()
    gs.foreach(_.finish())
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
        val dropped = st.drops != null && st.drops(ordPos)(r)
        k = 0
        while (k < dModel) {
          val gv = g(o + k)
          posEmbeddings.grad(pos * dModel + k) += gv
          if (dropped) unkEmbeddings(nat).grad(k) += gv
          else embeddings(nat).grad(st.data(r)(nat) * dModel + k) += gv
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
    * (transformer.py:568-585); grad scaled 1/batch. One fork over the
    * training step's sequence ranges computes each row's loss terms,
    * logit gradients and dL/dhidden; after the join the terms are summed
    * in (column, row) order, and a second fork over the (column, bin)
    * embedding rows adds up the tied embeddings' gradients, each row's
    * terms in row order. */
  def nllWithGrad(hidden: Array[Float], data: Array[Array[Int]],
      batch: Int): (Double, Array[Float]) = {
    val gradH = new Array[Float](hidden.length)
    val terms = new Array[Double](nin * batch) // column c's row r at c·batch + r
    // Column c's logits, then their gradients, [batch, dom_c].
    val gLogits = Array.tabulate(nin)(c => new Array[Float](batch * inputBins(c)))
    val invB = 1f / batch
    Nn.forRows(batch, stepChunks(batch)) { (_, r0, r1) =>
      var c = 0
      while (c < nin) {
        val dom = inputBins(c)
        val e = embeddings(c).data
        val gl = gLogits(c)
        val pos = ordering(c)
        var r = r0
        while (r < r1) {
          val base = r * dom
          val hOff = (r * seqLen + pos) * dModel
          var mx = Float.NegativeInfinity
          var j = 0
          while (j < dom) {
            var s = 0f
            var k = 0
            while (k < dModel) { s += hidden(hOff + k) * e(j * dModel + k); k += 1 }
            gl(base + j) = s
            if (s > mx) mx = s
            j += 1
          }
          var sum = 0.0
          j = 0
          while (j < dom) { sum += math.exp(gl(base + j) - mx); j += 1 }
          val logZ = mx + math.log(sum)
          val t = data(r)(c)
          terms(c * batch + r) = logZ - gl(base + t)
          j = 0
          while (j < dom) {
            val g = ((math.exp(gl(base + j) - logZ)).toFloat -
              (if (j == t) 1f else 0f)) * invB
            gl(base + j) = g
            if (g != 0f) {
              var k = 0
              while (k < dModel) { gradH(hOff + k) += g * e(j * dModel + k); k += 1 }
            }
            j += 1
          }
          r += 1
        }
        c += 1
      }
    }
    var total = 0.0
    var k = 0
    while (k < terms.length) { total += terms(k); k += 1 }
    // Each (column, bin) embedding row adds its rows' terms in row order;
    // the rows are disjoint, so they fork.
    Nn.forRows(binStart(nin), stepChunks(batch)) { (_, e0, e1) =>
      var c = 0
      var e = e0
      while (e < e1) {
        while (binStart(c + 1) <= e) c += 1
        val dom = inputBins(c)
        val j = e - binStart(c)
        val eg = embeddings(c).grad
        val gl = gLogits(c)
        val pos = ordering(c)
        var r = 0
        while (r < batch) {
          val g = gl(r * dom + j)
          if (g != 0f) {
            val hOff = (r * seqLen + pos) * dModel
            var k = 0
            while (k < dModel) { eg(j * dModel + k) += g * hidden(hOff + k); k += 1 }
          }
          r += 1
        }
        e += 1
      }
    }
    (total / batch, gradH)
  }

  def nll(hidden: Array[Float], data: Array[Array[Int]], batch: Int): Double =
    Nn.meanNll(this, hidden, data, batch)
}
