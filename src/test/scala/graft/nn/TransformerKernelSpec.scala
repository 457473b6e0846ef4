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
  * forks and the parameter digests hold on any core count.
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
}
