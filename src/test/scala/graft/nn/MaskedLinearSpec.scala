package graft.nn

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream, ObjectOutputStream}

import org.scalatest.funsuite.AnyFunSuite

/** Differential checks of [[MaskedLinear]]'s kernels. A dense layer
  * (`mask = null`) against a scalar reference written here: a one-row
  * forward and a per-row backward loop. A masked layer's [[MaskPlan]]
  * kernels against a dense layer holding the same effective weights
  * `M ⊙ W`. The forward output, dL/dinput, dL/dW and dL/db must be the
  * same bits (`floatToRawIntBits`), dL/dW after the dense one's masked
  * entries are zeroed, as the masked layer's `finish` does.
  */
class MaskedLinearSpec extends AnyFunSuite {

  private def bits(a: Array[Float]): Seq[Int] =
    a.toSeq.map(java.lang.Float.floatToRawIntBits)

  /** One training step's buffers: (out, gx, gw, gb), its rows split into
    * `chunks` ranges (by default the layer's own). */
  private def run(l: MaskedLinear, x: Array[Float], g: Array[Float], batch: Int,
      need: Array[Boolean], chunks: Int = 0): Seq[Array[Float]] = {
    l.weight.zeroGrad(); l.bias.zeroGrad()
    val own = Nn.chunks(batch, l.nIn * l.nOut)
    val s = l.step(x, batch)
    Nn.forRows(batch, own)((_, r0, r1) => s.forward(r0, r1))
    val b = s.backward(g, if (chunks > 0) chunks else own, need)
    Nn.forRows(batch, if (chunks > 0) chunks else own)((c, r0, r1) => b.rows(c, r0, r1))
    b.finish()
    Seq(s.out.clone(), b.gx.clone(), l.weight.grad.clone(), l.bias.grad.clone())
  }

  /** The same buffers from scalar loops: each output `b_o + Σ_i x_i·w_io`
    * in ascending `i`; each input gradient `Σ_o g_o·w_io` from 0 in
    * ascending `o`, written where `need` marks it; parameter gradients
    * added row by row, a zero input skipped, into one buffer per row
    * range of the layer's own fork (`Nn.chunks`), and the buffers added
    * in range order. */
  private def reference(l: MaskedLinear, x: Array[Float], g: Array[Float], batch: Int,
      need: Array[Boolean]): Seq[Array[Float]] = {
    val nIn = l.nIn; val nOut = l.nOut
    val w = l.weight.data
    val out = new Array[Float](batch * nOut)
    for (r <- 0 until batch; o <- 0 until nOut) {
      var acc = l.bias.data(o)
      for (i <- 0 until nIn) acc += x(r * nIn + i) * w(i * nOut + o)
      out(r * nOut + o) = acc
    }
    val gx = new Array[Float](batch * nIn)
    val gw = new Array[Float](nIn * nOut)
    val gb = new Array[Float](nOut)
    val own = Nn.chunks(batch, nIn * nOut)
    for (c <- 0 until own) {
      val lw = new Array[Float](nIn * nOut)
      val lb = new Array[Float](nOut)
      for (r <- batch * c / own until batch * (c + 1) / own) {
        for (o <- 0 until nOut) lb(o) += g(r * nOut + o)
        for (i <- 0 until nIn) {
          val xv = x(r * nIn + i)
          var acc = 0f
          for (o <- 0 until nOut) {
            val gv = g(r * nOut + o)
            if (xv != 0f) lw(i * nOut + o) += gv * xv
            acc += gv * w(i * nOut + o)
          }
          if (need == null || need(r * nIn + i)) gx(r * nIn + i) = acc
        }
      }
      for (k <- gw.indices) gw(k) += lw(k)
      for (k <- gb.indices) gb(k) += lb(k)
    }
    Seq(out, gx, gw, gb)
  }

  /** A dense `nIn × nOut` layer's step against [[reference]] on seeded
    * weights, inputs a third of them +0 or −0, and output gradients. */
  private def checkDense(nIn: Int, nOut: Int, batch: Int, seed: Long,
      need: Array[Boolean] = null, chunks: Int = 0): Unit = {
    val rng = new java.util.Random(seed)
    val l = new MaskedLinear(nIn, nOut)
    for (k <- l.weight.data.indices) l.weight.data(k) = rng.nextFloat() * 2 - 1
    for (k <- l.bias.data.indices) l.bias.data(k) = rng.nextFloat() - 0.5f
    val x = Array.fill(batch * nIn)(rng.nextInt(6) match {
      case 0 => 0f
      case 1 => -0f
      case _ => rng.nextFloat() * 2 - 1
    })
    val g = Array.fill(batch * nOut)(rng.nextFloat() * 2 - 1)
    val got = run(l, x, g, batch, need, chunks)
    val want = reference(l, x, g, batch, need)
    for ((name, i) <- Seq("out", "gx", "gw", "gb").zipWithIndex)
      assert(bits(got(i)) == bits(want(i)), s"$name differs (dense ${nIn}x$nOut, batch $batch)")
  }

  /** The Transformer's dense shapes (dModel 16: qkv, proj, fc1, fc2) and
    * ones that leave tile tails: odd `nIn`, `nIn` not a multiple of 8,
    * one input, `nOut` not a multiple of 8. */
  private val denseShapes = Seq((16, 48), (16, 16), (16, 32), (32, 16),
    (7, 13), (12, 70), (1, 13), (1, 70), (7, 70), (12, 13))

  test("dense kernels match the scalar reference, batches 1 and 7") {
    for ((nIn, nOut) <- denseShapes; batch <- Seq(1, 7))
      checkDense(nIn, nOut, batch, seed = nIn * 1000 + nOut * 10 + batch)
  }

  test("dense kernels match the scalar reference at a batch of 1024 split into row ranges") {
    assume(Nn.chunks(1024, 16 * 70) >= 2, "needs a batch split into 2+ row ranges")
    for ((nIn, nOut) <- denseShapes :+ ((16, 70)) :+ ((33, 70)))
      checkDense(nIn, nOut, 1024, seed = nIn * 1000 + nOut)
  }

  test("a dense layer that does not fork inside a step that splits its rows") {
    for ((nIn, nOut) <- Seq((16, 48), (32, 16), (7, 13), (12, 70)); batch <- Seq(7, 64)) {
      assert(Nn.chunks(batch, nIn * nOut) == 1)
      checkDense(nIn, nOut, batch, seed = nIn + nOut + batch, chunks = 3)
    }
  }

  test("a need mask limits a dense layer's input gradients") {
    val rng = new java.util.Random(17)
    for ((nIn, nOut) <- Seq((16, 48), (16, 70), (7, 13)); batch <- Seq(1, 7, 1024)) {
      val need = Array.fill(batch * nIn)(rng.nextInt(3) == 0)
      checkDense(nIn, nOut, batch, seed = batch + nIn, need = need)
    }
  }

  private def randomMask(rng: java.util.Random, nIn: Int, nOut: Int,
      density: Double): Array[Array[Boolean]] =
    Array.fill(nIn, nOut)(rng.nextDouble() < density)

  /** Compares `l` (its mask set) with its dense twin on seeded inputs,
    * a third of them 0, and seeded output gradients. */
  private def check(l: MaskedLinear, batch: Int, seed: Long,
      need: Array[Boolean] = null): Unit = {
    val rng = new java.util.Random(seed)
    for (k <- l.weight.data.indices) l.weight.data(k) = rng.nextFloat() * 2 - 1
    for (k <- l.bias.data.indices) l.bias.data(k) = rng.nextFloat() - 0.5f
    l.applyMask()
    val dense = new MaskedLinear(l.nIn, l.nOut)
    for (k <- l.weight.data.indices) dense.weight.data(k) = l.weight.data(k) * l.mask(k)
    System.arraycopy(l.bias.data, 0, dense.bias.data, 0, l.nOut)
    val x = Array.fill(batch * l.nIn)(if (rng.nextInt(3) == 0) 0f else rng.nextFloat() * 2 - 1)
    val g = Array.fill(batch * l.nOut)(rng.nextFloat() * 2 - 1)
    val got = run(l, x, g, batch, need)
    val want = run(dense, x, g, batch, need)
    for (k <- want(2).indices if l.mask(k) == 0f) want(2)(k) = 0f
    for ((name, i) <- Seq("out", "gx", "gw", "gb").zipWithIndex)
      assert(bits(got(i)) == bits(want(i)), s"$name differs (${l.nIn}x${l.nOut}, batch $batch)")
    var connected = 0
    for (v <- l.mask) if (v != 0f) connected += 1
    assert(l.plan.pairs == connected)
  }

  private def masked(nIn: Int, nOut: Int, m: Array[Array[Boolean]],
      preserve: Boolean = false): MaskedLinear = {
    val l = new MaskedLinear(nIn, nOut, preserve)
    l.setMaskInOut(m)
    l
  }

  test("random masks, nOut not a multiple of 8, batches 1 and odd") {
    val rng = new java.util.Random(1)
    for ((nIn, nOut) <- Seq((7, 13), (20, 9), (33, 70)); batch <- Seq(1, 7, 64)) {
      check(masked(nIn, nOut, randomMask(rng, nIn, nOut, 0.5)), batch, seed = nIn * 100 + batch)
    }
  }

  test("an all-zero mask row and column, a full mask, one input") {
    val rng = new java.util.Random(2)
    val m = randomMask(rng, 12, 19, 0.6)
    java.util.Arrays.fill(m(4), false) // input 4 reaches no output
    m.foreach(_(10) = false) // output 10 sees no input
    check(masked(12, 19, m), 5, seed = 3)
    check(masked(12, 19, Array.fill(12, 19)(true)), 5, seed = 4)
    check(masked(12, 19, Array.fill(12, 19)(false)), 5, seed = 5)
    check(masked(1, 11, randomMask(rng, 1, 11, 0.5)), 9, seed = 6)
    check(masked(1, 11, Array.fill(1, 11)(true)), 2, seed = 7)
  }

  test("a MADE-shaped layer at a batch that forks") {
    // ResMADE hidden connectivity: cyclic degrees, input degree <= output.
    val deg = Array.tabulate(64)(k => math.floorMod(k - 1, 4))
    val m = Array.tabulate(64, 64)((i, o) => deg(i) <= deg(o))
    assume(Nn.chunks(1024, 64 * 64) >= 2, "needs a batch split into 2+ row ranges")
    check(masked(64, 64, m), 1024, seed = 8)
    check(masked(64, 64, m), 1023, seed = 9)
  }

  test("a need mask limits the input gradients") {
    val rng = new java.util.Random(10)
    for (batch <- Seq(1, 6, 31)) {
      val need = Array.fill(batch * 17)(rng.nextInt(3) == 0)
      check(masked(17, 23, randomMask(rng, 17, 23, 0.5)), batch, seed = batch, need = need)
    }
  }

  test("preserveWeights multiplies the mask in and keeps masked weights") {
    val rng = new java.util.Random(11)
    val l = masked(15, 21, randomMask(rng, 15, 21, 0.5), preserve = true)
    check(l, 9, seed = 12)
    assert(l.weight.data.indices.exists(k => l.mask(k) == 0f && l.weight.data(k) != 0f))
  }

  test("a second setMaskInOut replaces the plan") {
    val rng = new java.util.Random(13)
    val l = masked(14, 18, randomMask(rng, 14, 18, 0.5), preserve = true)
    check(l, 5, seed = 14)
    val first = l.plan
    l.setMaskInOut(randomMask(rng, 14, 18, 0.3))
    assert(l.plan ne first)
    check(l, 5, seed = 15)
  }

  test("a Java-serialized MADE rebuilds its plans and forwards the same bits") {
    val m = new Made(5, Seq(64, 64), Array(4, 3, 51, 12, 10),
      inputEncoding = "one_hot", residual = true, doDirectIo = true,
      columnMasking = true, seed = 11123L)
    val rng = new java.util.Random(16)
    val batch = 9
    val inp = new Array[Float](batch * m.totalInputSize)
    for (c <- 0 until m.nin) m.encodeColumn(c, Array.fill(batch)(rng.nextInt(m.inputBins(c))), inp, batch)
    val before = m.forwardEncoded(inp, batch)
    val bytes = new ByteArrayOutputStream()
    val oos = new ObjectOutputStream(bytes)
    oos.writeObject(m)
    oos.close()
    val copy = new ObjectInputStream(new ByteArrayInputStream(bytes.toByteArray))
      .readObject().asInstanceOf[Made]
    assert(bits(copy.forwardEncoded(inp, batch)) == bits(before))
  }
}
