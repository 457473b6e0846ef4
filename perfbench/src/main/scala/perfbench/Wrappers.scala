package perfbench

import graft.est.ArModel
import graft.nn.{Param, Trainable}

/** Delegating [[Trainable]] handed to `Trainer.train`: every call goes to
  * `inner` unchanged; forward, loss and backward are each one span, so
  * the trainer's own batching and Adam step are the train span's self
  * time. */
final class TracedTrainable(val inner: Trainable) extends Trainable {
  def params: Seq[Param] = inner.params
  def parameterCount: Long = inner.parameterCount
  def forward(data: Array[Array[Int]], train: Boolean): Array[Float] =
    Trace.span("nn.train_fwd", data.length)(inner.forward(data, train))
  def nllWithGrad(logits: Array[Float], data: Array[Array[Int]],
      batch: Int): (Double, Array[Float]) =
    Trace.span("nn.train_loss", batch)(inner.nllWithGrad(logits, data, batch))
  def nll(logits: Array[Float], data: Array[Array[Int]], batch: Int): Double =
    inner.nll(logits, data, batch)
  def backward(grad: Array[Float], batch: Int): Unit =
    Trace.span("nn.train_bwd", batch)(inner.backward(grad, batch))
  override def updateMasks(): Unit = inner.updateMasks()
}

/** Delegating [[ArModel]] handed to `ProgressiveSampling`: the column
  * encode, the forward pass and the per-column logits slice are each one
  * span; the sampler's masks, softmax and sampling are the estimator
  * span's self time. */
final class TracedArModel(val inner: ArModel) extends ArModel {
  def nin: Int = inner.nin
  def inputBins: Array[Int] = inner.inputBins
  def ordering: Array[Int] = inner.ordering
  def columnMasking: Boolean = inner.columnMasking
  def totalInputSize: Int = inner.totalInputSize
  def encodeColumn(naturalIdx: Int, values: Array[Int], out: Array[Float],
      batch: Int): Unit =
    Trace.span("nn.encode", batch)(
      inner.encodeColumn(naturalIdx, values, out, batch))
  def forwardEncoded(inp: Array[Float], batch: Int): Array[Float] =
    Trace.span("nn.fwd", batch)(inner.forwardEncoded(inp, batch))
  def logitsForCol(idx: Int, logits: Array[Float], batch: Int): Array[Float] =
    Trace.span("nn.logits", batch)(inner.logitsForCol(idx, logits, batch))
}
