package graft.nn

import graft.core.{ColumnMeta, Dictionary}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Maximum-likelihood trainer for [[Made]] — the Spark-first re-expression
  * of reference train_model.py:126-253, 330-447.
  *
  * Division of labor at scale: Spark computes everything data-sized (the
  * dictionary build, the encoded tuple matrix, the table entropy via a
  * full-width groupBy, per-epoch samples); the driver runs the tiny-model
  * (MBs) minibatch loop. Raw data never crosses to the driver un-bounded:
  * [[collectEncoded]] caps rows and the 100 TB path trains on per-epoch
  * `df.sample` draws instead of the full table.
  */
object Trainer {

  /** Table entropy in bits (reference train_model.py:340-343 computes
    * `groupby(all cols).size()` then Shannon entropy). Computed fully in
    * the engine: H = log2(N) - (Σ c·log2 c)/N over group sizes, one
    * shuffle, only two scalars collected.
    */
  def tableBits(df: DataFrame, cols: Seq[String]): Double = {
    val grouped = df.groupBy(cols.map(col): _*).agg(count(lit(1)).as("c"))
    val row = grouped.agg(
      sum(col("c")).as("n"),
      sum(col("c") * log(2.0, col("c"))).as("clogc")).collect()(0)
    val n = row.getLong(0).toDouble
    val clogc = row.getDouble(1)
    math.log(n) / math.log(2) - clogc / n
  }

  /** Collect the dictionary-encoded tuple matrix to the driver, bounded.
    * At reference scale (DMV 11.6M × 11 int32 ≈ 0.5 GB, README.md:49) a
    * full collect fits; beyond `maxRows` we take a deterministic sample —
    * the 100 TB posture is per-epoch sampling, never a full collect.
    */
  def collectEncoded(df: DataFrame, metas: Seq[ColumnMeta],
      maxRows: Int = 5000000, seed: Long = 7L,
      totalRows: Long = -1L): Array[Array[Int]] = {
    val enc = Dictionary.encodedMatrix(df, metas)
    // The caller usually has the row count already (TableMeta.cardinality
    // from the same dictionary pass) — passing it skips a full scan.
    val n = if (totalRows >= 0) totalRows else df.count()
    val bounded =
      if (n <= maxRows) enc
      else enc.sample(withReplacement = false, maxRows.toDouble / n, seed)
    bounded.collect().map(_.getSeq[Int](0).toArray)
  }

  /** LR schedules (reference train_model.py:152-167). */
  sealed trait LrSchedule { def lr(globalStep: Int): Float }
  final case class ConstantLr(value: Float) extends LrSchedule {
    def lr(globalStep: Int): Float = value
  }
  /** Transformer warmup: d^-0.5 * min(s^-0.5, s * warmups^-1.5). */
  final case class WarmupLr(dModel: Int, warmups: Int) extends LrSchedule {
    def lr(globalStep: Int): Float = {
      val s = math.max(1, globalStep).toDouble
      (math.pow(dModel, -0.5) *
        math.min(math.pow(s, -0.5), s * math.pow(warmups, -1.5))).toFloat
    }
  }

  final case class EpochLog(epoch: Int, meanNllNats: Double,
      entropyGapBits: Double)

  /** One minibatch step at learning rate `lr`; returns the batch's mean
    * loss. */
  private def step(model: Trainable, opt: Adam, lr: Float,
      batch: Array[Array[Int]]): Double = {
    opt.lr = lr
    opt.zeroGrad()
    // Per-batch mask/ordering cycling (train_model.py:183-185); no-op for
    // single-mask models.
    model.updateMasks()
    val logits = model.forward(batch, train = true)
    val (loss, grad) = model.nllWithGrad(logits, batch, batch.length)
    model.backward(grad, batch.length)
    opt.step()
    loss
  }

  /** Minibatch training loop (reference RunEpoch, train_model.py:126-253):
    * shuffled batches, per-step LR from the schedule, per-column
    * cross-entropy NLL, entropy-gap logging in bits.
    */
  def train(model: Trainable, data: Array[Array[Int]], epochs: Int,
      batchSize: Int = 2048, schedule: LrSchedule = ConstantLr(2e-4f),
      tableBits: Double = Double.NaN, seed: Long = 0L,
      verbose: Boolean = false): Seq[EpochLog] = {
    val opt = new Adam(model.params)
    val rng = new java.util.Random(seed)
    val idx = Array.tabulate(data.length)(identity)
    var globalStep = 0
    val logs = scala.collection.mutable.ArrayBuffer[EpochLog]()
    for (epoch <- 0 until epochs) {
      // Fisher-Yates shuffle (DataLoader shuffle, train_model.py:143-145).
      var i = idx.length - 1
      while (i > 0) {
        val j = rng.nextInt(i + 1)
        val t = idx(i); idx(i) = idx(j); idx(j) = t
        i -= 1
      }
      var losses = 0.0
      var steps = 0
      var off = 0
      while (off < data.length) {
        val bs = math.min(batchSize, data.length - off)
        val batch = Array.tabulate(bs)(k => data(idx(off + k)))
        globalStep += 1
        losses += step(model, opt, schedule.lr(globalStep), batch)
        steps += 1
        off += bs
      }
      val mean = losses / math.max(1, steps)
      val gap = mean / math.log(2) - tableBits
      logs += EpochLog(epoch, mean, gap)
      if (verbose)
        println(f"epoch $epoch loss $mean%.4f nats / ${mean / math.log(2)}%.4f bits" +
          (if (!tableBits.isNaN) f" (entropy gap $gap%.4f bits)" else ""))
    }
    logs.toSeq
  }

  /** The 100 TB training path: each epoch trains on a FRESH seeded
    * `df.sample` draw of the encoded table (collected bounded), so no
    * more than `rowsPerEpoch` rows ever exist on the driver and the
    * model still sees new data every epoch. This is the posture the
    * bounded-collect path approximates when the table fits.
    */
  def trainSampled(model: Trainable, df: DataFrame,
      metas: Seq[ColumnMeta], epochs: Int, rowsPerEpoch: Int,
      batchSize: Int = 2048, schedule: LrSchedule = ConstantLr(2e-4f),
      tableBits: Double = Double.NaN, seed: Long = 0L): Seq[EpochLog] = {
    val enc = Dictionary.encodedMatrix(df, metas)
    val n = df.count()
    val fraction = math.min(1.0, rowsPerEpoch.toDouble / n)
    val opt = new Adam(model.params)
    var globalStep = 0
    val logs = scala.collection.mutable.ArrayBuffer[EpochLog]()
    for (epoch <- 0 until epochs) {
      val data = enc.sample(withReplacement = false, fraction, seed + epoch)
        .collect().map(_.getSeq[Int](0).toArray)
      var losses = 0.0
      var steps = 0
      var off = 0
      while (off < data.length) {
        val bs = math.min(batchSize, data.length - off)
        val batch = java.util.Arrays.copyOfRange(data, off, off + bs)
        globalStep += 1
        losses += step(model, opt, schedule.lr(globalStep), batch)
        steps += 1
        off += bs
      }
      val mean = losses / math.max(1, steps)
      logs += EpochLog(epoch, mean, mean / math.log(2) - tableBits)
    }
    logs.toSeq
  }

  /** Full-data NLL in eval mode (no column-mask dropout), batched. */
  def evalNll(model: Trainable, data: Array[Array[Int]],
      batchSize: Int = 4096): Double = {
    var total = 0.0
    var off = 0
    while (off < data.length) {
      val bs = math.min(batchSize, data.length - off)
      val batch = Array.tabulate(bs)(k => data(off + k))
      val logits = model.forward(batch, train = false)
      total += model.nll(logits, batch, bs) * bs
      off += bs
    }
    total / math.max(1, data.length)
  }

  /** Multi-ordering test-time NLL (reference train_model.py:210-228):
    * p(x) = (1/K) Σ_k p_k(x), so per-tuple
    * nll = -[logsumexp_k(-nll_k) + log(1/K)]; averaged over the data.
    * Each model is the same architecture trained under a different
    * autoregressive ordering.
    */
  def evalNllEnsemble(models: Seq[Trainable], data: Array[Array[Int]]): Double = {
    require(models.nonEmpty)
    totalEnsembleNll(models, data) / data.length
  }

  /** Sum over tuples of the ensemble NLL (row-level logsumexp). */
  private def totalEnsembleNll(models: Seq[Trainable],
      data: Array[Array[Int]]): Double = {
    val k = models.length
    var total = 0.0
    val logits = models.map(_.forward(data, train = false))
    for (r <- data.indices) {
      val logps = models.zip(logits).map { case (m, lg) =>
        -rowNll(m, lg, data(r), r)
      }
      val mx = logps.max
      val lse = mx + math.log(logps.map(lp => math.exp(lp - mx)).sum)
      total += -(lse + math.log(1.0 / k))
    }
    total
  }

  /** NLL of one row given a full-batch forward output. */
  private def rowNll(m: Trainable, logits: Array[Float], row: Array[Int],
      r: Int): Double = m match {
    case made: Made =>
      val w = made.totalOutputSize
      made.nll(java.util.Arrays.copyOfRange(logits, r * w, (r + 1) * w),
        Array(row), 1)
    case t: Transformer =>
      val w = t.seqLen * t.dModel
      t.nll(java.util.Arrays.copyOfRange(logits, r * w, (r + 1) * w),
        Array(row), 1)
    case other =>
      throw new IllegalArgumentException(other.getClass.getName)
  }

  // ---- checkpoint I/O (reference train_model.py:427-447 saves to a
  // metric-encoded filename; eval_model.py:497-508 regex-parses it) ----

  /** `<dir>/<dataset>-<MB>MB-model<bits>-data<bits>-made-<epochs>epochs-seed<seed>.gmdl` */
  def checkpointPath(dir: String, dataset: String, model: Trainable,
      modelBits: Double, dataBits: Double, epochs: Int, seed: Long): String = {
    val mb = model.parameterCount * 4.0 / 1e6
    f"$dir/$dataset-$mb%.1fMB-model$modelBits%.3f-data$dataBits%.3f-made-${epochs}epochs-seed$seed.gmdl"
  }

  final case class CheckpointInfo(path: String, dataset: String, mb: Double,
      modelBits: Double, dataBits: Double, epochs: Int, seed: Long)

  private val NameRe =
    """(.+)-([0-9.]+)MB-model([0-9.]+)-data([0-9.]+)-made-(\d+)epochs-seed(\d+)\.gmdl""".r

  /** Parse a metric-encoded checkpoint filename (the reference's regex
    * parse of globbed checkpoints, eval_model.py:497-508). */
  def parseCheckpointName(path: String): Option[CheckpointInfo] = {
    val name = new java.io.File(path).getName
    name match {
      case NameRe(ds, mb, mBits, dBits, ep, seed) =>
        Some(CheckpointInfo(path, ds, mb.toDouble, mBits.toDouble,
          dBits.toDouble, ep.toInt, seed.toLong))
      case _ => None
    }
  }

  /** Glob a checkpoint dir and return the best (lowest model_bits)
    * checkpoint per dataset — the reference's selection rule
    * (eval_model.py:509-543 picks by parsed metrics). */
  def findBest(dir: String, dataset: String): Option[CheckpointInfo] = {
    val files = Option(new java.io.File(dir).listFiles()).getOrElse(Array())
    files.toSeq.flatMap(f => parseCheckpointName(f.getPath))
      .filter(_.dataset == dataset)
      .sortBy(_.modelBits)
      .headOption
  }

  /** Version 1 ("GRFT") stored MADE's dense weights as [nOut, nIn]; a
    * square layer would pass every size check and load transposed, so
    * such a file is refused rather than read. */
  private val MagicV1 = 0x47524654 // "GRFT"
  /** Version 2: every dense weight and mask is [nIn, nOut]. */
  private val MagicV2 = 0x47524632 // "GRF2"

  def save(model: Trainable, path: String): Unit = {
    val f = new java.io.File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(f)))
    try {
      out.writeInt(MagicV2)
      val ps = model.params
      out.writeInt(ps.length)
      ps.foreach { p =>
        out.writeInt(p.data.length)
        p.data.foreach(out.writeFloat)
      }
    } finally out.close()
  }

  /** Load weights into a structurally identical model. */
  def load(model: Trainable, path: String): Unit = {
    val in = new java.io.DataInputStream(new java.io.BufferedInputStream(
      new java.io.FileInputStream(path)))
    try {
      val magic = in.readInt()
      require(magic != MagicV1, s"$path is a version-1 checkpoint, whose dense " +
        "weights are laid out [nOut, nIn]; this build reads version 2 ([nIn, nOut]): retrain the model")
      require(magic == MagicV2, s"bad checkpoint magic in $path")
      val n = in.readInt()
      val ps = model.params
      require(n == ps.length, s"param count $n != ${ps.length}")
      ps.foreach { p =>
        val len = in.readInt()
        require(len == p.data.length, s"param size $len != ${p.data.length}")
        var i = 0
        while (i < len) { p.data(i) = in.readFloat(); i += 1 }
      }
    } finally in.close()
    // Re-assert the mask invariant on loaded MADE weights.
    model match {
      case m: Made => m.linears.foreach(_.applyMask())
      case _ => ()
    }
  }
}
