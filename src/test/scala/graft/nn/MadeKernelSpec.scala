package graft.nn

import graft.core.{ColumnMeta, TableMeta}
import graft.est.ProgressiveSampling
import graft.query.{Op, Pred}
import org.apache.spark.sql.types.IntegerType
import org.scalatest.funsuite.AnyFunSuite

/** Golden bits of MADE's dense kernels, the MADE counterpart of
  * [[TransformerKernelSpec]]. Each check folds the `floatToRawIntBits`
  * (or `doubleToRawLongBits`) of an output into one digest and compares
  * it with a literal computed by the plain per-output dot-product kernels.
  * A reordered sum, a fused multiply-add or a transposed weight changes a
  * digest.
  *
  * Model R is the benchmark's ResMADE shape (one-hot, residual, direct-io,
  * column masking): layers 80→64, 64→64 ×2, 64→80 and the 80→80 direct-io.
  * Model M cycles three masks, so its layers multiply the mask in at
  * forward time; it is checked under each `setMask(k)`. Model N is a
  * non-residual ReLU MADE with embed input and tied-embedding output,
  * widths 26→37→29→26, none a multiple of the 8-wide output tile.
  * Batches 1 and 3 end on an odd row; batch 2000 forks every layer over
  * row ranges. Training uses 64-tuple minibatches so no backward forks and
  * the parameter digests hold on any core count, except in the forked
  * training case: there R and M train at batch 1024, where every layer
  * forks, and model C (the catalog's customer ResMADE shape) at batch
  * 512, where its 32×32 direct-io layer does not.
  */
class MadeKernelSpec extends AnyFunSuite {

  private val binsR = Array(4, 3, 51, 12, 10)
  private val binsN = Array(3, 17, 5, 23, 9)

  private def modelR() = new Made(5, Seq(64, 64), binsR,
    inputEncoding = "one_hot", residual = true, doDirectIo = true,
    columnMasking = true, seed = 11123L)
  private def modelM() = new Made(5, Seq(40, 40), binsR,
    inputEncoding = "one_hot", residual = true, doDirectIo = true,
    numMasks = 3, seed = 9)
  private def modelC() = new Made(2, Seq(64, 64), Array(6, 26),
    inputEncoding = "one_hot", residual = true, doDirectIo = true,
    columnMasking = true, seed = 20260816L)
  private def modelN() = new Made(5, Seq(37, 29), binsN,
    inputEncoding = "embed", outputEncoding = "embed", embedSize = 6,
    seed = 5)

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
  private def encoded(m: Made, batch: Int): Array[Float] = {
    val rng = new java.util.Random(31L * batch + m.totalInputSize)
    val inp = new Array[Float](batch * m.totalInputSize)
    for (c <- 0 until m.nin) {
      val wildcard = m.columnMasking && rng.nextInt(3) == 0
      val values =
        if (wildcard) null else Array.fill(batch)(rng.nextInt(m.inputBins(c)))
      m.encodeColumn(c, values, inp, batch)
    }
    inp
  }

  private def forwardDigests(m: Made, batch: Int): (Long, Long) = {
    val logits = m.forwardEncoded(encoded(m, batch), batch)
    val cols = (0 until m.nin).map(c => m.logitsForCol(c, logits, batch))
    (digest(Seq(logits)), digest(cols))
  }

  // (model, mask, batch) -> (forwardEncoded digest, logitsForCol digest)
  private val pinnedForward: Map[(String, Int, Int), (Long, Long)] = Map(
    ("R", 0, 1) -> (-6542384662427263409L, -6542384662427263409L),
    ("R", 0, 3) -> (3655259096792986649L, -3107143565598786229L),
    ("R", 0, 2000) -> (-8411653707509203329L, -6758873449584824837L),
    ("M", 0, 1) -> (-6763265345162001029L, -6763265345162001029L),
    ("M", 0, 3) -> (-3680543418787390880L, -867915174522717742L),
    ("M", 0, 2000) -> (2938851502563137972L, -3653847212784638098L),
    ("M", 1, 1) -> (-165915841077999942L, -165915841077999942L),
    ("M", 1, 3) -> (688534308849500709L, 413635546777158363L),
    ("M", 1, 2000) -> (-8283233857733659163L, -8732159731130163149L),
    ("M", 2, 1) -> (-3327904298849353648L, -3327904298849353648L),
    ("M", 2, 3) -> (6685677335325830664L, -6141083922005454920L),
    ("M", 2, 2000) -> (4084488347996859118L, 5647371196994198960L),
    ("N", 0, 1) -> (-1322481046381996875L, -6878904072761461130L),
    ("N", 0, 3) -> (8872021688794719593L, -4684272205720081375L),
    ("N", 0, 2000) -> (3925736782148130183L, -4612216985195139825L))

  // model -> (trained parameter values digest, trained forward digest)
  private val pinnedTrained: Map[String, (Long, Long)] = Map(
    "R" -> (5845452837147946999L, 5952746439711427182L),
    "M" -> (-3569505541736665890L, -5525654672991526314L),
    "N" -> (1234675511721284976L, 3001542473532956888L))

  // shortcircuit -> digest of 20 selectivities
  private val pinnedSelectivity: Map[Boolean, Long] = Map(
    false -> -3845479320268852760L,
    true -> -8619971859204724600L)

  test("forwardEncoded and logitsForCol keep their pinned bits") {
    val got = for {
      (name, mk) <- Seq[(String, () => Made)]("R" -> (() => modelR()),
        "M" -> (() => modelM()), "N" -> (() => modelN()))
      m = mk()
      mask <- 0 until m.numMasks
      batch <- Seq(1, 3, 2000)
    } yield {
      if (m.numMasks > 1) m.setMask(mask)
      (name, mask, batch) -> forwardDigests(m, batch)
    }
    assert(got.toMap == pinnedForward, got.mkString("\n", "\n", ""))
  }

  /** Digest of each tensor's values as a sorted multiset of raw bits, so
    * it does not depend on how a layer lays out its weights. */
  private def valuesDigest(arrays: Seq[Array[Float]]): Long = {
    var h = 1125899906842597L
    for (a <- arrays; b <- a.map(java.lang.Float.floatToRawIntBits).sorted)
      h = 31 * h + b
    h
  }

  test("parameters after a seeded 3-minibatch Trainer.train keep their pinned bits") {
    // Every trained value (layout-free), and where each one sits (the
    // trained model's forward).
    val got = for ((name, m) <- Seq("R" -> modelR(), "M" -> modelM(), "N" -> modelN())) yield {
      val rng = new java.util.Random(5)
      val data = Array.fill(192)(m.inputBins.map(rng.nextInt))
      Trainer.train(m, data, epochs = 1, batchSize = 64, seed = 3)
      name -> (valuesDigest(m.params.map(_.data)), forwardDigests(m, 3)._1)
    }
    assert(got.toMap == pinnedTrained, got.mkString("\n", "\n", ""))
  }

  test("ProgressiveSampling selectivities keep their pinned bits") {
    val m = modelR()
    val rng = new java.util.Random(6)
    // A skewed, correlated table so the trained model is not uniform.
    val data = Array.fill(192) {
      val a = rng.nextInt(4)
      Array(a, (a + rng.nextInt(2)) % 3, (a * 11 + rng.nextInt(20)) % 51,
        rng.nextInt(12), (a + rng.nextInt(3)) % 10)
    }
    Trainer.train(m, data, epochs = 1, batchSize = 64, seed = 3)
    val names = Seq("a", "b", "c", "d", "e")
    val meta = TableMeta("t", 100000L, names.zip(binsR).map { case (n, k) =>
      ColumnMeta(n, IntegerType,
        Array.tabulate(k)(identity).map(_.asInstanceOf[Any]), hasNull = false)
    })
    val ops = Array[Op](Op.Leq, Op.Geq, Op.Eq)
    val qrng = new java.util.Random(8)
    val queries = Seq.fill(20) {
      val cols = scala.util.Random.javaRandomToRandom(qrng)
        .shuffle(names.indices.toList).take(1 + qrng.nextInt(3))
      cols.map(c => Pred(names(c), ops(qrng.nextInt(3)), qrng.nextInt(binsR(c))))
    }
    val got = for (sc <- Seq(false, true)) yield {
      val ps = new ProgressiveSampling(m, meta, numSamples = 1000,
        shortcircuit = sc, seed = 11L)
      var h = 1125899906842597L
      for (q <- queries)
        h = 31 * h + java.lang.Double.doubleToRawLongBits(ps.selectivity(q))
      sc -> h
    }
    assert(got.toMap == pinnedSelectivity, got.mkString("\n", "\n", ""))
  }

  // model -> (parameter digest, per-step loss digest) after 3 forked steps
  private val pinnedForked: Map[String, (Long, Long)] = Map(
    "R" -> (-8950671797076797615L, -6429341614130672427L),
    "M" -> (633024941824970768L, -6420309442549554552L),
    "C" -> (-2130410222363703773L, 6948582065618147525L))

  test("training steps that fork keep their pinned bits") {
    // Forking steps sum parameter gradients per row range, so their bits
    // depend on the range count; the literals were taken at 4.
    assume(Nn.chunks(512, 32 * 64) == 4 && Nn.chunks(1024, 64 * 64) == 4,
      "pinned where a forking layer splits its batch into 4 row ranges")
    val got = for ((name, m, batch) <- Seq(("R", modelR(), 1024),
        ("M", modelM(), 1024), ("C", modelC(), 512))) yield {
      val rng = new java.util.Random(7)
      val data = Array.fill(batch)(m.inputBins.map(rng.nextInt))
      // One step an epoch, so each logged mean is one step's loss.
      val logs = Trainer.train(m, data, epochs = 3, batchSize = batch, seed = 3)
      var h = 1125899906842597L
      for (l <- logs) h = 31 * h + java.lang.Double.doubleToRawLongBits(l.meanNllNats)
      name -> (digest(m.params.map(_.data)), h)
    }
    assert(got.toMap == pinnedForked, got.mkString("\n", "\n", ""))
  }
}
