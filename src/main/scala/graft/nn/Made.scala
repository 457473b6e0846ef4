package graft.nn

/** MADE / ResMADE: autoregressive masked MLP over `nin` dictionary-encoded
  * columns with per-column multi-class output heads — a from-scratch Scala
  * re-implementation of the architecture in reference made.py:54-707
  * (MADE ICML'15, ResMADE arXiv:1904.05626).
  *
  * Differences from the reference, deliberate:
  *  - mask construction for the direct input→output connections uses the
  *    ordering-general construction (reference made.py:224-245) for ALL
  *    orderings; the natural-ordering special case at made.py:216-222
  *    indexes `[curr:dist_size]` where it means `[curr:curr+dist_size]`
  *    and silently under-connects.
  *  - `one_hot` input encoding always emits a full one-hot (the
  *    reference's `dom<=2 → single column` shortcut at made.py:498-499 is
  *    inconsistent with its own declared encoded size at made.py:255-256).
  *  - no GPU/torch machinery; manual backprop (layers in Nn.scala).
  *
  * @param nin            number of columns
  * @param hiddenSizes    hidden layer widths
  * @param inputBins      per-column domain sizes (made.py:86-88)
  * @param inputEncoding  null | "one_hot" | "binary" | "embed"
  *                       (made.py:595-612); "embed" uses a learnable
  *                       per-column embedding, falling back to one-hot
  *                       for domains <= embedSize (made.py:177-184)
  * @param outputEncoding "one_hot" | "embed" (made.py:265-275): "embed"
  *                       ties the output decoding to the INPUT embedding
  *                       weights (made.py:645-674) — the network head for
  *                       an embedded column is embedSize wide and its
  *                       full-domain logits are the dot products with the
  *                       column's input embedding rows, shrinking
  *                       parameter count on wide domains from
  *                       O(hidden*dom) to O(hidden*embedSize); requires
  *                       inputEncoding = "embed"
  * @param residual       ResMADE residual blocks (made.py:100)
  * @param doDirectIo     direct input→output connections (made.py:90-91)
  * @param columnMasking  train-time wildcard dropout enabling the
  *                       wildcard-skipping inference optimization
  *                       (made.py:101-103, 452-487)
  * @param fixedOrdering  ordering(i) = position of column i (made.py:105-107)
  * @param numMasks       number of ordering + connectivity configurations
  *                       to cycle through within this ONE model
  *                       (made.py:83-84; update_masks made.py:277-311).
  *                       The trainer calls [[updateMasks]] before every
  *                       minibatch (train_model.py:183-185), so all
  *                       configurations share one weight set; mask k is
  *                       deterministic (rng seeded `seed + k`). Layers of
  *                       a multi-mask model multiply the mask in at
  *                       forward time instead of baking it into the
  *                       weights, so switching masks never destroys
  *                       weights live under another mask.
  * @param orderings      explicit ordering list for mask cycling: mask k
  *                       uses `orderings(k % orderings.length)` — the
  *                       reference's special-orderings branch
  *                       (made.py:307-312; it indexes
  *                       `orderings[seed % 4]` with a hardcoded 4, we use
  *                       the list length). Takes precedence over
  *                       fixedOrdering. Without it, a multi-mask model
  *                       draws a seeded permutation per mask
  *                       (made.py:314-320, natural_ordering=False).
  */
final class Made(
    val nin: Int,
    val hiddenSizes: Seq[Int],
    val inputBins: Array[Int],
    val inputEncoding: String = null,
    val outputEncoding: String = "one_hot",
    val residual: Boolean = false,
    val doDirectIo: Boolean = false,
    val columnMasking: Boolean = false,
    val seed: Long = 11123L,
    val fixedOrdering: Array[Int] = null,
    val embedSize: Int = 32,
    val inputNoEmbIfLeq: Boolean = true,
    val numMasks: Int = 1,
    val orderings: Seq[Array[Int]] = null)
    extends graft.est.ArModel with Trainable {

  require(inputBins.length == nin)
  require(outputEncoding == "one_hot" ||
    (outputEncoding == "embed" && inputEncoding == "embed"),
    "outputEncoding=embed requires inputEncoding=embed (tied weights)")
  require(numMasks >= 1)
  require(orderings == null ||
    (orderings.nonEmpty && orderings.forall(o =>
      o.length == nin && o.sorted.sameElements(Array.tabulate(nin)(identity)))),
    "each ordering must be a permutation of 0 until nin")
  private val rng = new java.util.Random(seed)

  /** Encoded width of column i at the input (made.py:249-263). */
  def inputEncodedSize(i: Int): Int = inputEncoding match {
    case null => 1
    case "one_hot" => inputBins(i)
    case "binary" =>
      math.max(1, math.ceil(math.log(inputBins(i)) / math.log(2)).toInt)
    case "embed" =>
      if (inputNoEmbIfLeq) math.min(inputBins(i), embedSize) else embedSize
    case other => throw new IllegalArgumentException(other)
  }

  /** Whether column i uses a learnable embedding (vs one-hot fallback,
    * made.py:180-184). */
  def usesEmbedding(i: Int): Boolean =
    inputEncoding == "embed" &&
      (inputBins(i) > embedSize || !inputNoEmbIfLeq)

  /** Whether column i's output decoding is tied to its input embedding
    * (made.py:645-674): only with embed output AND an actual embedding
    * (small domains fall back to one-hot heads on both sides). */
  def tiedOutput(i: Int): Boolean =
    outputEncoding == "embed" && usesEmbedding(i)

  /** Output head width of column i (made.py:265-275): full domain for
    * one-hot heads, embedSize for tied-embedding heads. */
  def outputEncodedSize(i: Int): Int =
    if (tiedOutput(i)) inputEncodedSize(i) else inputBins(i)

  val inputBinsEncoded: Array[Int] = Array.tabulate(nin)(inputEncodedSize)
  /** cumsum of encoded input widths (made.py:138-139). */
  val inputBinsEncodedCumsum: Array[Int] = inputBinsEncoded.scanLeft(0)(_ + _).tail
  val encodedOutBins: Array[Int] = Array.tabulate(nin)(outputEncodedSize)
  /** cumsum of output head widths (made.py:199). */
  val logitIndices: Array[Int] = encodedOutBins.scanLeft(0)(_ + _).tail
  val totalInputSize: Int = inputBinsEncodedCumsum.last
  val totalOutputSize: Int = logitIndices.last

  /** Ordering of mask k (made.py:296-320 precedence: orderings list >
    * fixedOrdering > natural / seeded permutation). */
  private def orderingForMask(k: Int): Array[Int] =
    if (orderings != null) orderings(k % orderings.length).clone()
    else if (fixedOrdering != null) fixedOrdering.clone()
    else if (numMasks == 1) Array.tabulate(nin)(identity)
    else {
      // Seeded Fisher-Yates permutation per mask (made.py:316-317).
      val prng = new java.util.Random(seed + k)
      val a = Array.tabulate(nin)(identity)
      var i = nin - 1
      while (i > 0) {
        val j = prng.nextInt(i + 1)
        val t = a(i); a(i) = a(j); a(j) = t
        i -= 1
      }
      a
    }

  private var _ordering: Array[Int] = orderingForMask(0)
  private var _maskIndex: Int = 0

  /** ordering(naturalIdx) = position in the autoregressive order (of the
    * currently active mask). */
  def ordering: Array[Int] = _ordering
  def maskIndex: Int = _maskIndex

  // ---- network (made.py:143-172) ----
  private val preserveW = numMasks > 1
  val layers: Array[Layer] = {
    val hs = totalInputSize +: hiddenSizes :+ totalOutputSize
    val buf = scala.collection.mutable.ArrayBuffer[Layer]()
    for (Seq(h0, h1) <- hs.sliding(2)) {
      if (residual) {
        if (h0 == h1) buf += new MaskedResidualBlock(h0, preserveW)
        else buf += new MaskedLinear(h0, h1, preserveW)
      } else {
        buf += new MaskedLinear(h0, h1, preserveW)
        buf += new ReLU(h1)
      }
    }
    if (!residual) buf.remove(buf.length - 1) // pop trailing activation
    buf.toArray
  }
  private val maskedLayers: Array[Layer] = layers.collect {
    case l: MaskedLinear => l
    case b: MaskedResidualBlock => b
  }

  val directIoLayer: MaskedLinear =
    if (doDirectIo) new MaskedLinear(totalInputSize, totalOutputSize, preserveW)
    else null

  /** Every dense layer, in layer order, the direct-io layer last. */
  private[nn] val linears: Array[MaskedLinear] = layers.flatMap {
    case l: MaskedLinear => Seq(l)
    case b: MaskedResidualBlock => Seq(b.l1, b.l2)
    case _ => Nil
  } ++ Option(directIoLayer)

  /** Learnable [MASK] representation per column (made.py:186-191). */
  val unkEmbeddings: Array[Param] =
    if (columnMasking) Array.tabulate(nin)(i => new Param(new Array[Float](inputBinsEncoded(i))))
    else null

  /** Per-column input embeddings [dom_i, encodedWidth_i] where active
    * (made.py:177-184); normal(0.02) init (train_model.py:326-327). */
  val embedWeights: Array[Param] = Array.tabulate(nin) { i =>
    if (usesEmbedding(i)) {
      val p = new Param(new Array[Float](inputBins(i) * inputBinsEncoded(i)))
      val erng = new java.util.Random(seed + 77 + i)
      var k = 0
      while (k < p.data.length) {
        p.data(k) = (erng.nextGaussian() * 0.02).toFloat; k += 1
      }
      p
    } else null
  }

  // Single-mask construction keeps the historical rng stream (the
  // instance rng later also drives column-masking dropout); multi-mask
  // construction is setMask(0)'s deterministic per-mask rng.
  if (numMasks == 1) buildMasks(rng)
  else buildMasks(new java.util.Random(seed))
  initWeights()

  /** Activate mask configuration k (the `invoke_order` path of
    * update_masks, made.py:294-305): deterministic per k, weights
    * untouched (they are shared across configurations). */
  def setMask(k: Int): Unit = {
    require(k >= 0 && k < numMasks, s"mask $k of $numMasks")
    _maskIndex = k
    _ordering = orderingForMask(k)
    buildMasks(new java.util.Random(seed + k))
  }

  /** Cycle to the next mask (reference update_masks() cycling,
    * made.py:277-320; called per minibatch by the trainer). No-op for
    * single-mask models. */
  override def updateMasks(): Unit =
    if (numMasks > 1) setMask((_maskIndex + 1) % numMasks)

  def params: Seq[Param] =
    layers.flatMap(_.params).toSeq ++
      (if (directIoLayer != null) directIoLayer.params else Nil) ++
      (if (unkEmbeddings != null) unkEmbeddings.toSeq else Nil) ++
      embedWeights.filter(_ != null).toSeq

  def parameterCount: Long = params.map(_.data.length.toLong).sum

  /** Port of update_masks (made.py:277-393); `mrng` drives the hidden-
    * degree sampling (the instance rng for the single-mask case, a
    * per-mask seeded rng under cycling). */
  private def buildMasks(mrng: java.util.Random): Unit = {
    val L = hiddenSizes.length
    // Hidden-unit degrees (made.py:322-337).
    val degrees = new Array[Array[Int]](L)
    for (l <- 0 until L) {
      degrees(l) =
        if (nin > 1) {
          if (residual)
            // Sequential assignment for ResMADE (made.py:325-327).
            Array.tabulate(hiddenSizes(l))(k => math.floorMod(k - 1, nin - 1))
          else {
            val low = if (l == 0) ordering.min else degrees(l - 1).min
            Array.fill(hiddenSizes(l))(low + mrng.nextInt(nin - 1 - low))
          }
        } else Array.fill(hiddenSizes(l))(-1)
    }
    def deg(l: Int): Array[Int] = if (l == -1) ordering else degrees(l)
    // Connectivity: hidden masks use <=, output mask uses < (made.py:339-340).
    val masks = scala.collection.mutable.ArrayBuffer[Array[Array[Boolean]]]()
    for (l <- 0 until L)
      masks += Array.tabulate(deg(l - 1).length, hiddenSizes(l))(
        (i, j) => deg(l - 1)(i) <= degrees(l)(j))
    masks += Array.tabulate(deg(L - 1).length, nin)(
      (i, j) => deg(L - 1)(i) < ordering(j))

    // Expand output mask columns by per-column head widths (made.py:342-365).
    val last = masks.remove(masks.length - 1)
    masks += last.map(row =>
      Array.tabulate(nin)(j => Array.fill(encodedOutBins(j))(row(j))).flatten)

    // Expand input mask rows by per-column encoded widths (made.py:367-382).
    if (inputEncoding != null) {
      val first = masks.remove(0)
      masks.insert(0,
        Array.tabulate(nin)(i =>
          Array.fill(inputBinsEncoded(i))(first(i))).flatten)
    }

    require(masks.length == maskedLayers.length)
    maskedLayers.zip(masks).foreach {
      case (l: MaskedLinear, m) => l.setMaskInOut(m)
      case (b: MaskedResidualBlock, m) => b.setMaskInOut(m)
      case _ => ()
    }

    if (doDirectIo) buildDirectIoMask()
  }

  /** Direct input→output connectivity, ordering-general construction
    * (made.py:224-245): output head of the column at order position j
    * connects to the input slice of every column at order position < j.
    */
  private def buildDirectIoMask(): Unit = {
    val m = Array.ofDim[Boolean](totalInputSize, totalOutputSize)
    val invOrdering = new Array[Int](nin) // position -> natural idx
    for (nat <- 0 until nin) invOrdering(ordering(nat)) = nat
    for (ordI <- 0 until nin) {
      val natI = invOrdering(ordI)
      val inpL = if (natI == 0) 0 else inputBinsEncodedCumsum(natI - 1)
      val inpR = inputBinsEncodedCumsum(natI)
      for (ordJ <- ordI + 1 until nin) {
        val natJ = invOrdering(ordJ)
        val outL = if (natJ == 0) 0 else logitIndices(natJ - 1)
        val outR = logitIndices(natJ)
        for (i <- inpL until inpR; o <- outL until outR) m(i)(o) = true
      }
    }
    directIoLayer.setMaskInOut(m)
  }

  def initWeights(): Unit = {
    val wrng = new java.util.Random(seed ^ 0x5DEECE66DL)
    linears.foreach(_.initXavier(wrng))
  }

  // ---- input encoding (made.py:492-612) ----

  /** Encode one column's values into `out[., sliceOf(naturalIdx)]`.
    * `values == null` writes the learnable [MASK] embedding (wildcard,
    * made.py:413-418). The workhorse of both training encode and the
    * progressive sampler's incremental buffer updates.
    */
  def encodeColumn(naturalIdx: Int, values: Array[Int], out: Array[Float],
      batch: Int): Unit = encodeRows(naturalIdx, values, out, 0, batch)

  /** Rows `[r0, r1)` of [[encodeColumn]]; `values(r)` is row r's bin. */
  private def encodeRows(naturalIdx: Int, values: Array[Int], out: Array[Float],
      r0: Int, r1: Int): Unit = {
    val off = if (naturalIdx == 0) 0 else inputBinsEncodedCumsum(naturalIdx - 1)
    val w = inputBinsEncoded(naturalIdx)
    val stride = totalInputSize
    if (values == null) {
      require(unkEmbeddings != null,
        "wildcard encoding requires columnMasking=true")
      val unk = unkEmbeddings(naturalIdx).data
      var r = r0
      while (r < r1) {
        System.arraycopy(unk, 0, out, r * stride + off, w)
        r += 1
      }
    } else inputEncoding match {
      case "embed" =>
        val w = inputBinsEncoded(naturalIdx)
        if (usesEmbedding(naturalIdx)) {
          val e = embedWeights(naturalIdx).data
          var r = r0
          while (r < r1) {
            System.arraycopy(e, values(r) * w, out, r * stride + off, w)
            r += 1
          }
        } else {
          // one-hot fallback for small domains (made.py:435-440)
          var r = r0
          while (r < r1) {
            val base = r * stride + off
            java.util.Arrays.fill(out, base, base + w, 0f)
            out(base + values(r)) = 1f
            r += 1
          }
        }
      case "one_hot" =>
        var r = r0
        while (r < r1) {
          val base = r * stride + off
          java.util.Arrays.fill(out, base, base + w, 0f)
          out(base + values(r)) = 1f
          r += 1
        }
      case "binary" =>
        var r = r0
        while (r < r1) {
          val base = r * stride + off
          val v = values(r)
          var b = 0
          while (b < w) { out(base + b) = ((v >> b) & 1).toFloat; b += 1 }
          r += 1
        }
      case null =>
        var r = r0
        while (r < r1) { out(r * stride + off) = values(r).toFloat; r += 1 }
      case other => throw new IllegalArgumentException(other)
    }
  }

  /** Per-batch column-masking state for backprop into unk embeddings. */
  private var dropMask: Array[Array[Boolean]] = null
  private var dataCache: Array[Array[Int]] = null
  /** The last training forward's layer steps, for `backwardToInput`. */
  @transient private var steps: Array[RowStep] = null
  @transient private var directIoStep: RowStep = null

  // ---- forward / backward ----

  /** Inference forward from an encoded input buffer (made.py:637-643),
    * one fork per layer. Keeps no backward cache (a multi-mask model only
    * rewrites its per-call masked-weight scratch, with identical values),
    * so any number of threads may call it at once, with any batch sizes. */
  def forwardEncoded(inp: Array[Float], batch: Int): Array[Float] = {
    var h = inp
    var i = 0
    while (i < layers.length) { h = layers(i).forward(h, batch); i += 1 }
    if (directIoLayer != null) {
      val res = directIoLayer.forward(inp, batch)
      var k = 0
      while (k < h.length) { h(k) += res(k); k += 1 }
    }
    h
  }

  /** Row ranges of a training step: the count `Nn.chunks` gives every
    * layer that forks at this batch, 1 when none does. */
  private def stepChunks(batch: Int): Int =
    linears.map(l => Nn.chunks(batch, l.nIn * l.nOut)).max

  /** Training forward: encode + net (made.py:614-635), keeping what
    * `backward` needs. With columnMasking and train=true it applies the
    * reference's wildcard dropout (made.py:452-487): per column draw
    * p ~ U{0..nin-1}/nin, then per row replace the encoding with the
    * [MASK] embedding w.p. p. The draws run here, in (column, row) order;
    * the encoding runs in the step's row ranges. */
  def forward(data: Array[Array[Int]], train: Boolean): Array[Float] = {
    val batch = data.length
    val drops =
      if (columnMasking && train) Array.tabulate(nin) { _ =>
        val p = rng.nextInt(nin).toDouble / nin
        Array.fill(batch)(rng.nextDouble() < p)
      } else null
    dataCache = data
    dropMask = drops
    val inp = new Array[Float](batch * totalInputSize)
    val values = Array.ofDim[Int](nin, batch)
    trainForward(inp, batch) { (r0, r1) =>
      var c = 0
      while (c < nin) {
        val v = values(c)
        var r = r0
        while (r < r1) { v(r) = data(r)(c); r += 1 }
        encodeRows(c, v, inp, r0, r1)
        if (drops != null) {
          val off = if (c == 0) 0 else inputBinsEncodedCumsum(c - 1)
          val unk = unkEmbeddings(c).data
          r = r0
          while (r < r1) {
            if (drops(c)(r)) System.arraycopy(unk, 0, inp, r * totalInputSize + off, unk.length)
            r += 1
          }
        }
        c += 1
      }
    }
  }

  /** The training forward over `inp`, chunk-major: one fork whose row
    * ranges each run `encode(r0, r1)`, which fills those rows of `inp`,
    * then every layer and the direct-io add. Returns the logits; every
    * layer's full-batch buffers stay for `backwardToInput`. */
  private[nn] def trainForward(inp: Array[Float], batch: Int)(
      encode: (Int, Int) => Unit): Array[Float] = {
    val s = new Array[RowStep](layers.length)
    var h = inp
    var i = 0
    while (i < layers.length) { s(i) = layers(i).step(h, batch); h = s(i).out; i += 1 }
    val logits = h
    val dio = if (directIoLayer != null) directIoLayer.step(inp, batch) else null
    Nn.forRows(batch, stepChunks(batch)) { (_, r0, r1) =>
      encode(r0, r1)
      var i = 0
      while (i < s.length) { s(i).forward(r0, r1); i += 1 }
      if (dio != null) {
        dio.forward(r0, r1)
        var k = r0 * totalOutputSize
        while (k < r1 * totalOutputSize) { logits(k) += dio.out(k); k += 1 }
      }
    }
    steps = s
    directIoStep = dio
    logits
  }

  /** Backward from dL/dLogits; accumulates all param grads including the
    * unk embeddings touched by column masking. */
  def backward(gradLogits: Array[Float], batch: Int): Unit = {
    // Only the slices routed below need dL/dEncodedInput: dropped ones
    // into the unk embeddings and non-dropped embed-encoded ones into the
    // input embeddings (made.py:448-449 backprop path).
    val need = new Array[Boolean](batch * totalInputSize)
    for (c <- 0 until nin; r <- 0 until batch
         if embedWeights(c) != null || (dropMask != null && dropMask(c)(r))) {
      val base = r * totalInputSize + (if (c == 0) 0 else inputBinsEncodedCumsum(c - 1))
      java.util.Arrays.fill(need, base, base + inputBinsEncoded(c), true)
    }
    val g = backwardInput(gradLogits, batch, need)
    if (dropMask != null || embedWeights.exists(_ != null)) {
      for (c <- 0 until nin) {
        val off = if (c == 0) 0 else inputBinsEncodedCumsum(c - 1)
        val w = inputBinsEncoded(c)
        val drops = if (dropMask != null) dropMask(c) else null
        val eg = if (embedWeights(c) != null) embedWeights(c).grad else null
        var r = 0
        while (r < batch) {
          val base = r * totalInputSize + off
          if (drops != null && drops(r)) {
            val ug = unkEmbeddings(c).grad
            var j = 0
            while (j < w) { ug(j) += g(base + j); j += 1 }
          } else if (eg != null) {
            val eo = dataCache(r)(c) * w
            var j = 0
            while (j < w) { eg(eo + j) += g(base + j); j += 1 }
          }
          r += 1
        }
      }
    }
  }

  /** Gradient wrt the (encoded) input, accumulating the layers' param
    * grads on the way — also the autoregressiveness check's probe
    * (made.py:710-752). Chunk-major like `trainForward`, which it must
    * follow: one fork whose row ranges each run every layer's backward
    * and the direct-io add; the layers complete their parameter
    * gradients after the join. */
  def backwardToInput(gradLogits: Array[Float], batch: Int): Array[Float] =
    backwardInput(gradLogits, batch, null)

  /** [[backwardToInput]], computing only the input gradients `need`
    * marks (null = all); the others may be left 0. */
  private def backwardInput(gradLogits: Array[Float], batch: Int,
      need: Array[Boolean]): Array[Float] = {
    val chunks = stepChunks(batch)
    val gs = new Array[RowGrad](steps.length)
    var g = gradLogits
    var i = steps.length - 1
    while (i >= 0) {
      gs(i) = steps(i).backward(g, chunks, if (i == 0) need else null)
      g = gs(i).gx
      i -= 1
    }
    val gIn = g
    val dio = if (directIoStep != null) directIoStep.backward(gradLogits, chunks, need) else null
    Nn.forRows(batch, chunks) { (c, r0, r1) =>
      var i = gs.length - 1
      while (i >= 0) { gs(i).rows(c, r0, r1); i -= 1 }
      if (dio != null) {
        dio.rows(c, r0, r1)
        var k = r0 * totalInputSize
        while (k < r1 * totalInputSize) { gIn(k) += dio.gx(k); k += 1 }
      }
    }
    gs.foreach(_.finish())
    if (dio != null) dio.finish()
    gIn
  }

  /** Full-domain logits for `log p(x_i | x_<i)` (made.py:645-674):
    * a direct slice for one-hot heads; for tied-embedding heads the
    * embedSize-wide raw head is decoded against the column's input
    * embedding rows (logit_v = head · E_v). Always [batch, dom_i]. */
  def logitsForCol(idx: Int, logits: Array[Float], batch: Int): Array[Float] = {
    val l = if (idx == 0) 0 else logitIndices(idx - 1)
    val w = encodedOutBins(idx)
    if (!tiedOutput(idx)) {
      val out = new Array[Float](batch * w)
      var r = 0
      while (r < batch) {
        System.arraycopy(logits, r * totalOutputSize + l, out, r * w, w)
        r += 1
      }
      out
    } else {
      val dom = inputBins(idx)
      val e = embedWeights(idx).data
      val out = new Array[Float](batch * dom)
      var r = 0
      while (r < batch) {
        val base = r * totalOutputSize + l
        var v = 0
        while (v < dom) {
          var s = 0f
          var k = 0
          while (k < w) { s += logits(base + k) * e(v * w + k); k += 1 }
          out(r * dom + v) = s
          v += 1
        }
        r += 1
      }
      out
    }
  }

  /** Mean NLL (nats) + dL/dRawOutputs for a batch: per-column softmax
    * cross-entropy summed over columns (made.py:676-694), gradient scaled
    * by 1/batch for a mean loss. For tied-embedding heads the softmax
    * runs over the decoded full-domain logits; the returned gradient is
    * wrt the raw embedSize-wide head (dL/dhead = Σ_v dL/dlogit_v · E_v)
    * and the shared embedding rows accumulate dL/dE_v = dL/dlogit_v ·
    * head directly (made.py:660-674 tied backward).
    *
    * One fork over the training step's row ranges computes the one-hot
    * heads' loss terms and gradients; the tied heads follow on the
    * caller, since their shared embedding gradients add up over rows.
    * The terms are summed there too, in (column, row) order.
    */
  def nllWithGrad(logits: Array[Float], data: Array[Array[Int]],
      batch: Int): (Double, Array[Float]) = {
    val grad = new Array[Float](logits.length)
    val terms = new Array[Double](nin * batch) // column c's row r at c·batch + r
    val invB = 1f / batch
    def rows(c: Int, r0: Int, r1: Int): Unit = {
      val l = if (c == 0) 0 else logitIndices(c - 1)
      val w = encodedOutBins(c)
      if (!tiedOutput(c)) {
        var r = r0
        while (r < r1) {
          val base = r * totalOutputSize + l
          var mx = Float.NegativeInfinity
          var j = 0
          while (j < w) { if (logits(base + j) > mx) mx = logits(base + j); j += 1 }
          var sum = 0.0
          j = 0
          while (j < w) { sum += math.exp(logits(base + j) - mx); j += 1 }
          val logZ = mx + math.log(sum)
          val t = data(r)(c)
          terms(c * batch + r) = logZ - logits(base + t)
          j = 0
          while (j < w) {
            grad(base + j) =
              ((math.exp(logits(base + j) - logZ)).toFloat -
                (if (j == t) 1f else 0f)) * invB
            j += 1
          }
          r += 1
        }
      } else {
        val dom = inputBins(c)
        val e = embedWeights(c)
        val lg = new Array[Float](dom)
        var r = r0
        while (r < r1) {
          val base = r * totalOutputSize + l
          var mx = Float.NegativeInfinity
          var v = 0
          while (v < dom) {
            var s = 0f
            var k = 0
            while (k < w) { s += logits(base + k) * e.data(v * w + k); k += 1 }
            lg(v) = s
            if (s > mx) mx = s
            v += 1
          }
          var sum = 0.0
          v = 0
          while (v < dom) { sum += math.exp(lg(v) - mx); v += 1 }
          val logZ = mx + math.log(sum)
          val t = data(r)(c)
          terms(c * batch + r) = logZ - lg(t)
          v = 0
          while (v < dom) {
            val gl = ((math.exp(lg(v) - logZ)).toFloat -
              (if (v == t) 1f else 0f)) * invB
            if (gl != 0f) {
              var k = 0
              while (k < w) {
                grad(base + k) += gl * e.data(v * w + k)
                e.grad(v * w + k) += gl * logits(base + k)
                k += 1
              }
            }
            v += 1
          }
          r += 1
        }
      }
    }
    Nn.forRows(batch, stepChunks(batch)) { (_, r0, r1) =>
      for (c <- 0 until nin if !tiedOutput(c)) rows(c, r0, r1)
    }
    for (c <- 0 until nin if tiedOutput(c)) rows(c, 0, batch)
    var total = 0.0
    var k = 0
    while (k < terms.length) { total += terms(k); k += 1 }
    (total / batch, grad)
  }

  /** Mean NLL only (no grad) — evaluation path. */
  def nll(logits: Array[Float], data: Array[Array[Int]], batch: Int): Double =
    Nn.meanNll(this, logits, data, batch)

  /** Ancestral sampling of `num` tuples (made.py:696-707). */
  def sample(num: Int, sampleRng: java.util.Random): Array[Array[Int]] = {
    val sampled = Array.ofDim[Int](num, nin)
    val inp = new Array[Float](num * totalInputSize)
    val zeros = new Array[Int](num)
    for (c <- 0 until nin) encodeColumn(c, zeros, inp, num)
    val invOrdering = new Array[Int](nin)
    for (nat <- 0 until nin) invOrdering(ordering(nat)) = nat
    for (pos <- 0 until nin) {
      val nat = invOrdering(pos)
      val logits = forwardEncoded(inp, num)
      val colLogits = logitsForCol(nat, logits, num) // full-domain logits
      val w = inputBins(nat)
      val colBuf = new Array[Int](num)
      var r = 0
      while (r < num) {
        colBuf(r) = Made.sampleCategorical(colLogits, r * w, w, sampleRng)
        sampled(r)(nat) = colBuf(r)
        r += 1
      }
      encodeColumn(nat, colBuf, inp, num)
    }
    sampled
  }
}

object Made {
  /** Draw from softmax(logits[off until off+w]). */
  def sampleCategorical(logits: Array[Float], off: Int, w: Int,
      rng: java.util.Random): Int = {
    var mx = Float.NegativeInfinity
    var j = 0
    while (j < w) { if (logits(off + j) > mx) mx = logits(off + j); j += 1 }
    var sum = 0.0
    j = 0
    while (j < w) { sum += math.exp(logits(off + j) - mx); j += 1 }
    var u = rng.nextDouble() * sum
    j = 0
    while (j < w) {
      u -= math.exp(logits(off + j) - mx)
      if (u <= 0) return j
      j += 1
    }
    w - 1
  }
}
