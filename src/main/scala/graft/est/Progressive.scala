package graft.est

import graft.core.TableMeta
import graft.nn.Made
import graft.query.Pred

/** ProgressiveSampling — the reference's flagship inference operator
  * (estimators.py:134-418): walk columns in the model's ordering; at each
  * step softmax the conditional p(x_i | sampled x_<i), zero out domain
  * values failing the predicate, record the surviving mass, renormalize
  * vanished paths, sample the next value, re-encode, forward. The
  * estimate is mean over sample paths of the product of per-column
  * masses, times the table cardinality.
  *
  * Runs on the driver with broadcast-able weights (the model is MBs);
  * batch-of-queries fan-out replicates the estimator per partition, the
  * reference's own scale-out shape (eval_model.py:303-375).
  *
  * @param shortcircuit skip sampling + forward passes for wildcard
  *   columns (estimators.py:239-255, 289-290, 342-345); requires a model
  *   trained with columnMasking.
  */
final class ProgressiveSampling(
    val model: ArModel,
    val meta: TableMeta,
    val numSamples: Int,
    val shortcircuit: Boolean = false,
    seed: Long = 1234L) extends CardEst {

  def name: String = s"psample_$numSamples"

  require(meta.columns.length == model.nin)
  require(!shortcircuit || model.columnMasking,
    "wildcard skipping needs a column-masking-trained model")

  private val nin = model.nin
  // position -> natural column index (estimators.py:381-384).
  private val invOrdering: Array[Int] = {
    val inv = new Array[Int](nin)
    for (nat <- 0 until nin) inv(model.ordering(nat)) = nat
    inv
  }
  // The sampler's only mutable state: one instance serves one caller at
  // a time, while distinct samplers may share a model.
  private val rng = new java.util.Random(seed)

  /** Selectivity estimate in [0,1]: mean over samples of the product of
    * per-queried-column surviving masses (estimators.py:206-363).
    *
    * Paths that have sampled the same prefix have the same encoded input
    * row, so they share a group: the forward, `logitsForCol`, the masked
    * softmax and the surviving mass run once per group over a compact
    * `[nGroups, totalInputSize]` buffer. Every inference kernel computes
    * a row independently of its batch, so each group row has the bits
    * its paths would have in a `numSamples`-row batch; masses, rng draws
    * and the inverse-CDF walk stay per path, in path order. */
  def selectivity(preds: Seq[Pred]): Double = {
    val byCol = Pred.fillWildcards(meta, preds) // natural order; Nil = wildcard
    // Per-column float mask over the domain, AND of conjuncts
    // (estimators.py:226-236); null slot (bin 0) is always false.
    val valid: Array[Array[Float]] = Array.tabulate(nin) { nat =>
      val ps = byCol(nat)
      if (ps.isEmpty) null
      else {
        val masks = ps.map(_.domainMask(meta.columns(nat)))
        Array.tabulate(meta.columns(nat).distributionSize)(j =>
          if (masks.forall(_(j))) 1f else 0f)
      }
    }

    val width = model.totalInputSize
    // Before the first sample every path is the same: one group.
    var nGroups = 1
    val group = new Array[Int](numSamples) // path -> group id
    var inp = new Array[Float](width)
    // Pre-encode wildcards with the [MASK] embedding (estimators.py:239-255);
    // the column LAST in the ordering feeds nothing, skip it entirely.
    if (shortcircuit) {
      for (nat <- 0 until nin)
        if (valid(nat) == null && model.ordering(nat) != nin - 1)
          model.encodeColumn(nat, null, inp, 1)
    }

    // logits for the first queried step come from the unsampled input
    // (estimators.py:166-168 init_logits, recomputed here per query since
    // shortcircuit pre-encoding changes the buffer).
    var logits: Array[Float] = null
    val masses = Array.fill(numSamples)(1.0)

    for (pos <- 0 until nin) {
      val nat = invOrdering(pos)
      val queried = valid(nat) != null
      if (!shortcircuit || queried) {
        if (logits == null) logits = model.forwardEncoded(inp, nGroups)
        val colLogits = model.logitsForCol(nat, logits, nGroups)
        val dom = model.inputBins(nat)
        // softmax -> probs, masked by the predicate, per group.
        val probs = new Array[Double](nGroups * dom)
        val groupMass = new Array[Double](nGroups)
        val groupTot = new Array[Double](nGroups)
        var g = 0
        while (g < nGroups) {
          val base = g * dom
          var mx = Float.NegativeInfinity
          var j = 0
          while (j < dom) { if (colLogits(base + j) > mx) mx = colLogits(base + j); j += 1 }
          var sum = 0.0
          j = 0
          while (j < dom) { sum += math.exp(colLogits(base + j) - mx); j += 1 }
          var masked = 0.0
          j = 0
          while (j < dom) {
            val p = math.exp(colLogits(base + j) - mx) / sum
            val pv = if (queried && valid(nat)(j) == 0f) 0.0 else p
            probs(base + j) = pv
            masked += pv
            j += 1
          }
          groupMass(g) = masked
          // Vanished path: give the row uniform mass so sampling proceeds
          // (estimators.py:277-279); its recorded mass stays ~0.
          if (masked <= 0.0) {
            j = 0
            while (j < dom) { probs(base + j) = 1.0; j += 1 }
          }
          var tot = 0.0
          j = 0
          while (j < dom) { tot += probs(base + j); j += 1 }
          groupTot(g) = tot
          g += 1
        }
        if (queried) {
          var r = 0
          while (r < numSamples) { masses(r) *= groupMass(group(r)); r += 1 }
        }
        // Sample x_nat for every path (estimators.py:292-337) and regroup
        // by (old group, pick), unless this is the last position (nothing
        // consumes it).
        if (pos < nin - 1) {
          val ids = new PrefixIds(numSamples)
          var r = 0
          while (r < numSamples) {
            val og = group(r)
            val base = og * dom
            var u = rng.nextDouble() * groupTot(og)
            var pick = dom - 1
            var j = 0
            var done = false
            while (j < dom && !done) {
              u -= probs(base + j)
              if (u <= 0) { pick = j; done = true }
              j += 1
            }
            group(r) = ids.idOf(og, pick, dom)
            r += 1
          }
          // Each new group's row is its parent's row plus x_nat
          // (estimators.py:337 encode).
          val next = new Array[Float](ids.size * width)
          var k = 0
          while (k < ids.size) {
            System.arraycopy(inp, ids.parent(k) * width, next, k * width, width)
            k += 1
          }
          model.encodeColumn(nat, ids.pick, next, ids.size)
          inp = next
          nGroups = ids.size
        }
      }
      // Forward pass for the next step, skipped when the next column in
      // the ordering is a wildcard (estimators.py:342-345).
      if (pos < nin - 1) {
        val nextNat = invOrdering(pos + 1)
        if (!shortcircuit || valid(nextNat) != null)
          logits = model.forwardEncoded(inp, nGroups)
        else logits = null
      }
    }
    var s = 0.0
    var r = 0
    while (r < numSamples) { s += masses(r); r += 1 }
    s / numSamples
  }

  /** Cardinality estimate: ceil(selectivity × N) (estimators.py:406-407). */
  def query(preds: Seq[Pred]): Long =
    math.ceil(selectivity(preds) * meta.cardinality).toLong
}

/** New group ids for one sampling step: (old group, pick) keys numbered
  * in order of first appearance, in an open-addressing table sized by the
  * path count rather than groups × domain. */
private final class PrefixIds(numPaths: Int) {
  // A power of two at least 2 × numPaths: probes stay short.
  private val slots = Integer.highestOneBit(math.max(1, numPaths)) * 4
  private val keys = Array.fill(slots)(-1L)
  private val vals = new Array[Int](slots)
  /** Per new id, its parent group and its sampled value. */
  val parent = new Array[Int](numPaths)
  val pick = new Array[Int](numPaths)
  var size = 0

  def idOf(group: Int, value: Int, dom: Int): Int = {
    val key = group.toLong * dom + value
    var i = ((key * 0x9E3779B97F4A7C15L) >>> 33).toInt & (slots - 1)
    while (keys(i) != -1L && keys(i) != key) i = (i + 1) & (slots - 1)
    if (keys(i) == -1L) {
      keys(i) = key
      vals(i) = size
      parent(size) = group
      pick(size) = value
      size += 1
    }
    vals(i)
  }
}

/** Multi-ordering ensemble (reference estimators.py:409-418 +
  * train_model.py:210-228): average the progressive-sampling estimate
  * over models trained with different autoregressive orderings, each
  * getting numSamples/k sample paths. Variance reduction — orderings
  * disagree most exactly where a single ordering extrapolates badly.
  */
final class EnsembleProgressiveSampling(
    val samplers: Seq[ProgressiveSampling]) extends CardEst {

  require(samplers.nonEmpty)
  def name: String = s"psample_ensemble_${samplers.length}"

  def selectivity(preds: Seq[Pred]): Double =
    samplers.map(_.selectivity(preds)).sum / samplers.length

  def query(preds: Seq[Pred]): Long =
    math.ceil(selectivity(preds) * samplers.head.meta.cardinality).toLong
}

/** Multi-ordering ensemble over ONE multi-mask MADE (the reference's
  * estimator-side shape, estimators.py:372-418: `model.orderings` on a
  * single model, numSamples split across orderings, estimates averaged;
  * mask activation is update_masks' invoke_order path, made.py:294-305).
  * Compared to [[EnsembleProgressiveSampling]] over k separately trained
  * models this costs 1× training and 1× parameters instead of k×.
  */
final class MultiMaskProgressiveSampling(
    val model: Made,
    val meta: TableMeta,
    val numSamples: Int,
    val shortcircuit: Boolean = false,
    seed: Long = 1234L) extends CardEst {

  require(model.numMasks > 1, "use ProgressiveSampling for single-mask models")
  def name: String = s"psample_multimask_${model.numMasks}"

  private val perMask = math.max(1, numSamples / model.numMasks)

  def selectivity(preds: Seq[Pred]): Double = {
    var s = 0.0
    for (k <- 0 until model.numMasks) {
      model.setMask(k)
      s += new ProgressiveSampling(model, meta, perMask, shortcircuit,
        seed + k).selectivity(preds)
    }
    s / model.numMasks
  }

  def query(preds: Seq[Pred]): Long =
    math.ceil(selectivity(preds) * meta.cardinality).toLong
}

/** SampleFromModel (reference estimators.py:421-477): ancestral-sample
  * `num` tuples from the model, count the fraction satisfying the
  * predicate via per-column domain masks, scale by cardinality.
  */
final class SampleFromModel(
    val model: Made,
    val meta: TableMeta,
    val numSamplesPerQuery: Int,
    seed: Long = 1234L) extends CardEst {

  def name: String = s"msample_$numSamplesPerQuery"

  private val rng = new java.util.Random(seed)

  def query(preds: Seq[Pred]): Long = {
    val tuples = model.sample(numSamplesPerQuery, rng)
    val byCol = Pred.fillWildcards(meta, preds)
    val valid: Array[Array[Boolean]] = Array.tabulate(model.nin) { nat =>
      val ps = byCol(nat)
      if (ps.isEmpty) null
      else {
        val masks = ps.map(_.domainMask(meta.columns(nat)))
        Array.tabulate(meta.columns(nat).distributionSize)(j => masks.forall(_(j)))
      }
    }
    var hits = 0
    for (t <- tuples) {
      var ok = true
      var c = 0
      while (c < model.nin && ok) {
        if (valid(c) != null && !valid(c)(t(c))) ok = false
        c += 1
      }
      if (ok) hits += 1
    }
    math.ceil(hits.toDouble / numSamplesPerQuery * meta.cardinality).toLong
  }
}
