package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.core.{Dictionary, TableMeta}
import graft.est.{ArModel, ProgressiveSampling}
import graft.nn.{Made, Trainable, Trainer, Transformer}
import graft.plans.GraftRuntime
import graft.query.Pred
import graft.workload.Workload
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.col

/** One benchmark run of a learned COUNT(*) workload, driven through the
  * library's public entry points: a dictionary and an encoded sample
  * (`graft.core`), a model trained by `Trainer.train` (`graft.nn`), a
  * `ProgressiveSampling` estimator (`graft.est`) registered with
  * `GraftRuntime`, and `spark.sql` COUNT(*) texts that the
  * `GraftExtensions` rule answers from it (`graft.plans`).
  *
  * Writes raw samples (latencies, estimates, truths, set-up parts,
  * listener counters and, when tracing, spans) to `--out`; `run.py`
  * turns them into metrics. Usage:
  * {{{
  *   perfbench.Main --workload made|transformer --seed N --seconds S
  *     --trace 0|1 --data <sf dir> --cpus K --out <result.json>
  * }}}
  */
object Main {
  /** The lineitem columns the model covers (the catalog's model set). */
  val ModelCols = Seq("l_returnflag", "l_linestatus", "l_quantity",
    "l_discount", "l_tax")
  val SampleRows = 100000
  val Epochs = 2
  val BatchSize = 1024
  /** Progressive-sampling paths per query: the reference budget. */
  val PSample = 2000
  /** Discarded before timing, so JIT compilation is not measured: texts
    * answered by a constant (warming Spark's SQL path), then by the
    * estimator. */
  val CatalystWarmupQueries = 600
  val WarmupQueries = 8

  /** `passQueries`: one pass answers and checks every query once; at
    * least 100 leave ten samples beyond the 90th percentile. The
    * transformer's pass is the first half of the made pass's texts. */
  final case class ModelSpec(trainRows: Int, lr: Float, passQueries: Int,
      build: TableMeta => ArModel with Trainable)

  /** The catalog's configurations of the two model families. */
  val specs: Map[String, ModelSpec] = Map(
    "made" -> ModelSpec(SampleRows, 2e-3f, 200, meta => new Made(
      nin = ModelCols.length, hiddenSizes = Seq(64, 64),
      inputBins = meta.columns.map(_.distributionSize).toArray,
      inputEncoding = "one_hot", residual = true, doDirectIo = true,
      columnMasking = true, seed = 11123L)),
    "transformer" -> ModelSpec(30000, 5e-3f, 100, meta => new Transformer(
      nin = ModelCols.length,
      inputBins = meta.columns.map(_.distributionSize).toArray,
      dModel = 16, dFf = 32, numHeads = 2, numBlocks = 2,
      columnMasking = true, seed = 11123L)))

  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, cpus: Int, out: String)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def get(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Opts(get("--workload"), get("--seed").toLong, get("--seconds").toDouble,
      get("--trace") == "1", get("--data"), get("--cpus").toInt, get("--out"))
  }

  def session(cpus: Int, localDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.files.maxPartitionBytes", (4 * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** What one set-up leaves behind for the query loop. */
  final case class Ready(spark: SparkSession, lineitem: DataFrame,
      meta: TableMeta, model: ArModel with Trainable,
      logs: Seq[Trainer.EpochLog], rowsEncoded: Int, trainRows: Int)

  final case class SetupTimes(total: Double, session: Double,
      tableMeta: Double, encode: Double, train: Double, register: Double,
      spark: Vector[Long])

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Session, dictionary, encoded sample, training, registration: the
    * set-up a user pays before the first answer. */
  def setUp(o: Opts, spec: ModelSpec, localDir: String): (Ready, SetupTimes) =
    Trace.span("setup") {
      val t0 = System.nanoTime()
      val spark = Trace.span("setup.session")(session(o.cpus, localDir))
      val tSession = secs(t0)
      val telemetry = new SparkTelemetry
      if (Trace.enabled) spark.sparkContext.addSparkListener(telemetry)
      val path = s"${o.data}/lineitem.parquet"
      val lineitem = spark.read.parquet(path)
      val proj = lineitem.select(ModelCols.map(col): _*)
      val t1 = System.nanoTime()
      val meta = Trace.span("core.table_meta")(
        Dictionary.tableMeta(proj, "lineitem", ModelCols))
      val tMeta = secs(t1)
      val t2 = System.nanoTime()
      // The sample and its shuffle use the catalog's fixed seeds, so the
      // model is the catalog's model and only the queries vary by seed.
      val data = Trace.span("core.encode_collect") {
        val d = Trainer.collectEncoded(proj, meta.columns,
          maxRows = SampleRows, totalRows = meta.cardinality)
        // Scan order is file order; a seeded shuffle makes any prefix
        // (the transformer trains on one) a uniform subsample.
        val rng = new java.util.Random(987654321L)
        var i = d.length - 1
        while (i > 0) {
          val j = rng.nextInt(i + 1)
          val t = d(i); d(i) = d(j); d(j) = t
          i -= 1
        }
        d
      }
      val tEncode = secs(t2)
      val rows = data.take(spec.trainRows)
      val model = spec.build(meta)
      val t3 = System.nanoTime()
      val logs = Trace.span("nn.train", rows.length.toLong)(
        Trainer.train(new TracedTrainable(model), rows, epochs = Epochs,
          batchSize = BatchSize, schedule = Trainer.ConstantLr(spec.lr),
          seed = 0L))
      val tTrain = secs(t3)
      val t4 = System.nanoTime()
      Trace.span("setup.register") {
        val ps = new ProgressiveSampling(new TracedArModel(model), meta,
          PSample, shortcircuit = true)
        GraftRuntime.clear()
        GraftRuntime.register(path, ModelCols.toSet,
          preds => Trace.span("est.query")(ps.query(preds)))
        spark.conf.set(GraftRuntime.EnabledKey, "true")
        lineitem.createOrReplaceTempView("lineitem")
      }
      val tRegister = secs(t4)
      val total = secs(t0)
      val counters = if (Trace.enabled) telemetry.settled else Vector.empty
      (Ready(spark, lineitem, meta, model, logs, data.length, rows.length),
        SetupTimes(total, tSession, tMeta, tEncode, tTrain, tRegister, counters))
    }

  /** One COUNT(*) text through Spark: (wall ns, answer, rewritten). The
    * traced run forces the optimizer and planner phases one at a time so
    * each is its own span; collect() forces the same lazy phases in the
    * same order, so the work is identical either way. */
  def runQuery(spark: SparkSession, text: String): (Long, Long, Boolean) = {
    val t0 = System.nanoTime()
    var df: DataFrame = null
    val rows = Trace.span("query") {
      df = Trace.span("plans.sql")(spark.sql(text))
      if (Trace.enabled) {
        Trace.span("plans.optimize")(df.queryExecution.optimizedPlan)
        Trace.span("plans.planning")(df.queryExecution.executedPlan)
      }
      Trace.span("plans.collect")(df.collect())
    }
    val ns = System.nanoTime() - t0
    require(rows.length == 1, s"COUNT(*) returned ${rows.length} rows")
    (ns, rows(0).getLong(0),
      df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
  }

  final class Window {
    val latNs = ArrayBuffer.empty[Long]
    val tracedLatNs = ArrayBuffer.empty[Long]
    var attempted = 0
    var failed = 0
    var rewritten = 0
    val errors = ArrayBuffer.empty[String]
    var gcMs = 0L
    var heapPeakBytes = 0L
    var allocatedBytes = 0L
  }

  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  /** Bytes allocated so far by the live threads of this JVM. */
  private def allocatedBytes(): Long =
    threads.getThreadAllocatedBytes(threads.getAllThreadIds).filter(_ > 0).sum

  /** Closed loop, one client: texts in order, again and again, until the
    * window has lasted `seconds` and every text was answered at least
    * once. `firstPass(i)` receives the answer to text i from pass one.
    * With `traced`, each text is answered twice in a row, untraced and
    * traced, so both timings see the same JIT state and the difference
    * is the tracing overhead. */
  def window(spark: SparkSession, texts: IndexedSeq[String], seconds: Double,
      traced: Boolean, firstPass: Array[Long]): Window = {
    val w = new Window
    val rt = Runtime.getRuntime
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val gc0 = gcBeans.map(_.getCollectionTime).sum
    val alloc0 = allocatedBytes()
    def answer(q: Int, first: Boolean, lat: ArrayBuffer[Long]): Unit = {
      w.attempted += 1
      try {
        if (Trace.enabled) Trace.span("plans.parse_probe")(
          spark.sessionState.sqlParser.parsePlan(texts(q)))
        val (ns, count, rewritten) = runQuery(spark, texts(q))
        lat += ns
        if (first) firstPass(q) = count
        if (rewritten) w.rewritten += 1
        else {
          w.failed += 1
          w.errors += s"query $q fell back to a scan: ${texts(q)}"
        }
      } catch {
        case NonFatal(e) =>
          w.failed += 1
          w.errors += s"query $q: ${e.getClass.getSimpleName}: ${e.getMessage}"
      }
      w.heapPeakBytes = math.max(w.heapPeakBytes, rt.totalMemory - rt.freeMemory)
    }
    val t0 = System.nanoTime()
    var i = 0
    while (i < texts.length || System.nanoTime() - t0 < seconds * 1e9) {
      val q = i % texts.length
      def tracedAnswer(): Unit = {
        Trace.enabled = true
        Trace.query = i
        answer(q, first = false, w.tracedLatNs)
        Trace.enabled = false
        Trace.query = -1
      }
      // Alternating which of the pair goes first cancels the advantage
      // the second answer of a text gets from the first.
      if (traced && i % 2 == 1) tracedAnswer()
      answer(q, i < texts.length, w.latNs)
      if (traced && i % 2 == 0) tracedAnswer()
      i += 1
    }
    w.gcMs = gcBeans.map(_.getCollectionTime).sum - gc0
    w.allocatedBytes = allocatedBytes() - alloc0
    w
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val spec = specs.getOrElse(o.workload,
      throw new IllegalArgumentException(s"unknown workload ${o.workload}"))
    val outPath = java.nio.file.Paths.get(o.out)
    val localDir = outPath.getParent.resolve("spark-local").toString
    val load1Start = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

    Trace.enabled = o.trace
    val (ready, setup) = setUp(o, spec, localDir)
    Trace.enabled = false
    val spark = ready.spark

    // The query stream: anchor-row literals, 1-5 filters, seeded. A
    // query's cost grows with its filter count (one forward pass per
    // queried column), so the pass holds an equal share of each count,
    // interleaved, and a seed changes the queries but not the mix. The
    // first n/5 queries of each count do not depend on n.
    val anchors = Workload.anchorRows(
      ready.lineitem.select(ModelCols.map(col): _*), ModelCols, 200)
    val byCount = (1 to ModelCols.length).map(k =>
      Workload.generate(ready.meta, ModelCols, anchors,
        spec.passQueries / ModelCols.length, minFilters = k, maxFilters = k,
        seed = o.seed * 31 + k))
    val passPreds = byCount.head.indices.flatMap(i => byCount.map(_(i)))
    val warmPreds = Workload.generate(ready.meta, ModelCols, anchors,
      WarmupQueries, minFilters = 1, maxFilters = ModelCols.length,
      seed = o.seed * 31)
    def sql(p: Seq[Pred]) =
      s"SELECT count(*) FROM lineitem WHERE ${Pred.whereSql(p)}"
    val warmTexts = warmPreds.map(sql).toIndexedSeq
    val passTexts = passPreds.map(sql)
    val texts = warmTexts ++ passTexts

    // Warm-up, discarded. Spark's parse/analyze/optimize path runs many
    // small methods a few times per query and keeps getting faster for
    // hundreds of queries as the JIT compiles them; a constant-answer
    // registration warms that path cheaply. The real estimator then
    // warms its own loops on the first texts.
    val registered = GraftRuntime.snapshot()
    GraftRuntime.register(s"${o.data}/lineitem.parquet", ModelCols.toSet,
      _ => 1L)
    val catalystWarm = window(spark,
      Iterator.continually(texts).flatten.take(CatalystWarmupQueries)
        .toIndexedSeq, 0.0, traced = false,
      new Array[Long](CatalystWarmupQueries))
    GraftRuntime.restore(registered)
    val warm = window(spark, warmTexts, 0.0, traced = false,
      new Array[Long](warmTexts.length))
    val estimates = Array.fill(passTexts.length)(-1L)
    val measured = window(spark, passTexts, o.seconds, o.trace, estimates)

    // Checks, outside every timed window: exact counts with the rule off.
    spark.conf.set(GraftRuntime.EnabledKey, "false")
    val truths = Workload.trueCards(ready.lineitem, passPreds)
    val tableBits = Trainer.tableBits(
      ready.lineitem.select(ModelCols.map(col): _*), ModelCols)
    val load1End = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

    val windows = Seq("catalyst_warmup" -> catalystWarm, "warmup" -> warm,
      "measured" -> measured)
    val rt = ManagementFactory.getRuntimeMXBean
    val out = Json.obj(
      "workload" -> Json.str(o.workload),
      "seed" -> o.seed.toString,
      "context" -> Json.obj(
        "jvm_available_processors" ->
          Runtime.getRuntime.availableProcessors.toString,
        "jvm_args" -> Json.arr(rt.getInputArguments.asScala.map(Json.str)),
        "jdk" -> Json.str(s"${System.getProperty("java.vm.name")} " +
          System.getProperty("java.runtime.version")),
        "spark" -> Json.str(spark.version),
        "spark_master" -> Json.str(spark.sparkContext.master),
        "jvm_load1_start" -> Json.num(load1Start),
        "jvm_load1_end" -> Json.num(load1End)),
      "setup" -> Json.obj(
        "total_s" -> Json.num(setup.total),
        "session_s" -> Json.num(setup.session),
        "table_meta_s" -> Json.num(setup.tableMeta),
        "encode_collect_s" -> Json.num(setup.encode),
        "train_s" -> Json.num(setup.train),
        "register_s" -> Json.num(setup.register),
        "spark" -> Json.arr(setup.spark.map(_.toString))),
      "rows_encoded" -> ready.rowsEncoded.toString,
      "train_rows" -> ready.trainRows.toString,
      "epochs" -> Epochs.toString,
      "final_nll_bits" -> Json.num(ready.logs.last.meanNllNats / math.log(2)),
      "table_bits" -> Json.num(tableBits),
      "param_count" -> ready.model.parameterCount.toString,
      "nin" -> ready.model.nin.toString,
      "cpus" -> o.cpus.toString,
      "windows" -> Json.obj(windows.map { case (name, w) => name -> Json.obj(
        "lat_ns" -> Json.arr(w.latNs.map(_.toString)),
        "traced_lat_ns" -> Json.arr(w.tracedLatNs.map(_.toString)),
        "attempted" -> w.attempted.toString,
        "failed" -> w.failed.toString,
        "rewritten" -> w.rewritten.toString,
        "errors" -> Json.arr(w.errors.take(20).map(Json.str)),
        "gc_ms" -> w.gcMs.toString,
        "heap_peak_bytes" -> w.heapPeakBytes.toString,
        "allocated_bytes" -> w.allocatedBytes.toString)
      }: _*),
      "where" -> Json.arr(passPreds.map(p => Json.str(Pred.whereSql(p)))),
      "estimates" -> Json.arr(estimates.map(_.toString)),
      "truths" -> Json.arr(truths.map(_.toString)))
    java.nio.file.Files.writeString(outPath, out)
    if (o.trace) Trace.write(java.nio.file.Paths.get(o.out + ".spans.tsv"))
    spark.stop()
  }
}

/** Just enough JSON writing for the result file. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def obj(kvs: (String, String)*): String =
    kvs.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
