package graft.nn

import org.scalatest.funsuite.AnyFunSuite

/** Golden bits of the Transformer's kernels. Each check folds the
  * `floatToRawIntBits` of an output into one digest and compares it with
  * a literal computed by the plain kernels (one row at a time, one output
  * at a time, single-threaded GeLU/LayerNorm/attention). A reordered sum,
  * a fused multiply-add or an approximated `tanh`/`exp` changes a digest.
  *
  * Model A (dModel 16, dFf 32, 2 heads) has layer widths 48, 16 and 32;
  * model B (dModel 12, dFf 20, 3 heads, column masking, a permuted
  * ordering) has 36, 12 and 20, which are not multiples of the 8-wide
  * output tile. Batches 1 and 3 end on an odd row; batch 2000 forks every
  * layer over row ranges. Training uses 64-tuple minibatches so no layer
  * forks and the parameter digests hold on any core count, except in the
  * forked training case: there model F (the benchmark's shape: dModel 16,
  * dFf 32, 2 heads, column masking, domains 4/3/51/12/10) trains at batch
  * 1024, where every dense layer forks, with a 304-row tail step where
  * only qkv does.
  */
class TransformerKernelSpec extends AnyFunSuite {

  private val bins = Array(3, 7, 4, 11, 6)

  private def modelA() = new Transformer(5, bins, dModel = 16, dFf = 32,
    numHeads = 2, numBlocks = 2, seed = 7)
  private def modelB() = new Transformer(5, bins, dModel = 12, dFf = 20,
    numHeads = 3, numBlocks = 2, columnMasking = true,
    fixedOrdering = Array(2, 0, 4, 1, 3), seed = 8)

  private def digest(arrays: Seq[Array[Float]]): Long = {
    var h = 1125899906842597L
    for (a <- arrays) {
      var i = 0
      while (i < a.length) {
        h = 31 * h + java.lang.Float.floatToRawIntBits(a(i))
        i += 1
      }
    }
    h
  }

  /** A seeded encoded input; under column masking a third of the columns
    * are wildcards ([MASK] embedding). */
  private def encoded(m: Transformer, batch: Int): Array[Float] = {
    val rng = new java.util.Random(31L * batch + m.dModel)
    val inp = new Array[Float](batch * m.totalInputSize)
    for (c <- 0 until m.nin) {
      val wildcard = m.columnMasking && rng.nextInt(3) == 0
      val values = if (wildcard) null else Array.fill(batch)(rng.nextInt(bins(c)))
      m.encodeColumn(c, values, inp, batch)
    }
    inp
  }

  // (model, batch) -> (forwardEncoded digest, logitsForCol digest)
  private val pinnedForward = Map(
    ("A", 1) -> (-511417209041048671L, 3260065674368554867L),
    ("A", 3) -> (4831628622391103658L, 5576628014930557324L),
    ("A", 2000) -> (-8665197247227801050L, -7058028562869664353L),
    ("B", 1) -> (6406604348271709164L, -6942225860399730594L),
    ("B", 3) -> (-5384554337037654246L, 208073673032518144L),
    ("B", 2000) -> (3125577771144982948L, -5647153441174996014L))

  private val pinnedTrained = Map(
    "A" -> 7933152129325328869L,
    "B" -> -7133909984901470833L)

  test("forwardEncoded and logitsForCol keep their pinned bits") {
    val got = for {
      (name, m) <- Seq("A" -> modelA(), "B" -> modelB())
      batch <- Seq(1, 3, 2000)
    } yield {
      val hidden = m.forwardEncoded(encoded(m, batch), batch)
      val logits = (0 until m.nin).map(c => m.logitsForCol(c, hidden, batch))
      (name, batch) -> (digest(Seq(hidden)), digest(logits))
    }
    assert(got.toMap == pinnedForward, got.mkString("\n", "\n", ""))
  }

  test("parameters after a seeded 3-minibatch Trainer.train keep their pinned bits") {
    val got = for ((name, m) <- Seq("A" -> modelA(), "B" -> modelB())) yield {
      val rng = new java.util.Random(5)
      val data = Array.fill(192)(bins.map(rng.nextInt))
      Trainer.train(m, data, epochs = 1, batchSize = 64, seed = 3)
      name -> digest(m.params.map(_.data))
    }
    assert(got.toMap == pinnedTrained, got.mkString("\n", "\n", ""))
  }

  // (parameter digest, per-epoch loss digest) after 3 epochs of 2 steps
  private val pinnedForked = (-4995883808582588042L, -6447589040589070751L)

  test("training steps that fork keep their pinned bits") {
    val fBins = Array(4, 3, 51, 12, 10)
    val m = new Transformer(5, fBins, dModel = 16, dFf = 32, numHeads = 2,
      numBlocks = 2, columnMasking = true, seed = 11123L)
    // Forking steps sum parameter gradients per row range, so their bits
    // depend on the range count; the literals were taken at 4.
    assume(Nn.chunks(1024 * m.seqLen, 16 * 48) == 4 &&
      Nn.chunks(304 * m.seqLen, 16 * 48) == 4,
      "pinned where a forking layer splits its rows into 4 ranges")
    val rng = new java.util.Random(12)
    val data = Array.fill(1328)(fBins.map(rng.nextInt))
    val logs = Trainer.train(m, data, epochs = 3, batchSize = 1024,
      schedule = Trainer.ConstantLr(5e-3f), seed = 3)
    var h = 1125899906842597L
    for (l <- logs) h = 31 * h + java.lang.Double.doubleToRawLongBits(l.meanNllNats)
    val got = (digest(m.params.map(_.data)), h)
    assert(got == pinnedForked, got.toString)
  }
}
