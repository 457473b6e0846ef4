package graft.nn

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream, ObjectOutputStream}

import org.scalatest.funsuite.AnyFunSuite

/** Differential check of [[MaskPlan]]'s kernels: a masked [[MaskedLinear]]
  * against a dense one (`mask = null`) holding the same effective weights
  * `M ⊙ W`. The forward output, dL/dinput, dL/dW and dL/db must be the
  * same bits (`floatToRawIntBits`), dL/dW after the dense one's masked
  * entries are zeroed, as the masked layer's `finish` does.
  */
class MaskedLinearSpec extends AnyFunSuite {

  private def bits(a: Array[Float]): Seq[Int] =
    a.toSeq.map(java.lang.Float.floatToRawIntBits)

  /** One training step's buffers: (out, gx, gw, gb). */
  private def run(l: MaskedLinear, x: Array[Float], g: Array[Float], batch: Int,
      need: Array[Boolean]): Seq[Array[Float]] = {
    l.weight.zeroGrad(); l.bias.zeroGrad()
    val chunks = Nn.chunks(batch, l.nIn * l.nOut)
    val s = l.step(x, batch)
    Nn.forRows(batch, chunks)((_, r0, r1) => s.forward(r0, r1))
    val b = s.backward(g, chunks, need)
    Nn.forRows(batch, chunks)((c, r0, r1) => b.rows(c, r0, r1))
    b.finish()
    Seq(s.out.clone(), b.gx.clone(), l.weight.grad.clone(), l.bias.grad.clone())
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
