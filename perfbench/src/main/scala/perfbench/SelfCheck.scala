package perfbench

import graft.core.Dictionary
import graft.est.{ArModel, ProgressiveSampling}
import graft.nn.{Trainable, Trainer}
import graft.workload.Workload
import org.apache.spark.sql.functions.col

/** Checks that the benchmark's delegating wrappers change nothing: for
  * each model family, training through [[TracedTrainable]] (tracing on)
  * gives bit-identical epoch losses and weights to training the bare
  * model, and [[TracedArModel]] gives bit-identical progressive-sampling
  * estimates. Prints one line per check; exits 1 on any mismatch.
  * Usage: `perfbench.SelfCheck <sf dir> <spark local dir>`, on a small
  * scale factor.
  */
object SelfCheck {
  def main(args: Array[String]): Unit = {
    val spark = Main.session(2, args(1))
    val proj = spark.read.parquet(s"${args(0)}/lineitem.parquet")
      .select(Main.ModelCols.map(col): _*)
    val meta = Dictionary.tableMeta(proj, "lineitem", Main.ModelCols)
    val data = Trainer.collectEncoded(proj, meta.columns,
      totalRows = meta.cardinality)
    val queries = Workload.generate(meta, Main.ModelCols,
      Workload.anchorRows(proj, Main.ModelCols, 50), 30, 1, 5, seed = 7L)
    var ok = true
    def check(what: String, passed: Boolean): Unit = {
      println(s"[selfcheck] $what: ${if (passed) "ok" else "FAILED"}")
      ok &&= passed
    }
    for ((name, spec) <- Main.specs.toSeq.sortBy(_._1)) {
      def trained(wrap: Boolean): (ArModel with Trainable, Seq[Trainer.EpochLog]) = {
        val m = spec.build(meta)
        Trace.enabled = wrap
        val logs = Trainer.train(if (wrap) new TracedTrainable(m) else m,
          data, epochs = 1, batchSize = 256,
          schedule = Trainer.ConstantLr(spec.lr), seed = 0L)
        Trace.enabled = false
        (m, logs)
      }
      val (bare, bareLogs) = trained(wrap = false)
      val (wrapped, wrappedLogs) = trained(wrap = true)
      check(s"$name epoch losses bit-identical", bareLogs.map(l =>
        java.lang.Double.doubleToLongBits(l.meanNllNats)) ==
        wrappedLogs.map(l => java.lang.Double.doubleToLongBits(l.meanNllNats)))
      check(s"$name trained weights bit-identical", bare.params.zip(wrapped.params)
        .forall { case (a, b) => java.util.Arrays.equals(a.data, b.data) })
      val plain = new ProgressiveSampling(bare, meta, 200, shortcircuit = true)
      Trace.enabled = true
      val traced = new ProgressiveSampling(new TracedArModel(bare), meta, 200,
        shortcircuit = true)
      val same = queries.forall(q =>
        java.lang.Double.doubleToLongBits(plain.selectivity(q)) ==
          java.lang.Double.doubleToLongBits(traced.selectivity(q)))
      Trace.enabled = false
      check(s"$name progressive-sampling estimates bit-identical", same)
    }
    check("wrapped calls recorded as spans",
      Trace.recorded.exists(_.name == "nn.fwd") &&
      Trace.recorded.exists(_.name == "nn.train_bwd"))
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
