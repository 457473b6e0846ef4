package graft.core

import graft.query.{Op, Pred}
import graft.workload.Workload
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Data-layer invariants (SURVEY §5): null-first dictionary order,
  * discretize round-trip, domain masks vs brute force, wildcard fill,
  * q-error conventions, checkpoint round-trip.
  */
class CoreSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def df(rows: Seq[Row], schema: StructType) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)

  private val schema = StructType(Seq(
    StructField("s", StringType, nullable = true),
    StructField("d", DoubleType, nullable = true)))

  private val rows = Seq(
    Row("b", 2.0), Row(null, 1.0), Row("a", null), Row("b", 3.0),
    Row("c", 2.0), Row("a", 1.0), Row(null, 3.0))

  test("columnMeta: null occupies bin 0, values sorted ascending") {
    val t = df(rows, schema)
    val ms = Dictionary.columnMeta(t, "s")
    assert(ms.hasNull)
    assert(ms.domain.head == null)
    assert(ms.nonNullDomain.toSeq == Seq("a", "b", "c"))
    assert(ms.distributionSize == 4)
    assert(ms.valToBin(null) == 0)
    assert(ms.valToBin("a") == 1 && ms.valToBin("c") == 3)
    val md = Dictionary.columnMeta(t, "d")
    assert(md.hasNull && md.domain.head == null)
    assert(md.nonNullDomain.toSeq == Seq(1.0, 2.0, 3.0))
  }

  test("single-pass tableMeta matches per-column columnMeta") {
    val t = df(rows, schema)
    val tm = Dictionary.tableMeta(t, "t")
    assert(tm.cardinality == rows.length)
    for (c <- Seq("s", "d")) {
      val one = Dictionary.columnMeta(t, c)
      val multi = tm.column(c)
      assert(multi.domain.toSeq == one.domain.toSeq, s"column $c")
      assert(multi.hasNull == one.hasNull)
    }
  }

  test("discretize round-trip: bin ids decode back to original values") {
    val t = df(rows, schema)
    val metas = Seq("s", "d").map(Dictionary.columnMeta(t, _))
    val enc = Dictionary.discretize(t, metas)
      .select("s", "d", "s_bin", "d_bin").collect()
    for (r <- enc) {
      val sMeta = metas(0); val dMeta = metas(1)
      val sBin = r.getInt(2); val dBin = r.getInt(3)
      assert(sMeta.domain(sBin) == (if (r.isNullAt(0)) null else r.getString(0)))
      assert(dMeta.domain(dBin) == (if (r.isNullAt(1)) null else r.getDouble(1)))
    }
  }

  test("encodedMatrix emits bins in column order") {
    val t = df(rows, schema)
    val metas = Seq("s", "d").map(Dictionary.columnMeta(t, _))
    val mat = Dictionary.encodedMatrix(t, metas).collect()
      .map(_.getSeq[Int](0))
    assert(mat.length == rows.length)
    assert(mat.forall(_.length == 2))
    // Every bin must be in range and the multiset of s-bins must match.
    assert(mat.forall(b => b(0) >= 0 && b(0) < metas(0).distributionSize))
  }

  test("domainMask agrees with brute-force predicate evaluation") {
    val t = df(rows, schema)
    val meta = Dictionary.columnMeta(t, "d")
    for (op <- Op.all; v <- Seq(0.5, 1.0, 2.0, 3.5)) {
      val mask = Pred("d", op, v).domainMask(meta)
      assert(mask.length == meta.distributionSize)
      assert(!mask(0), s"null slot must never qualify ($op $v)")
      for ((dv, i) <- meta.domain.zipWithIndex if dv != null) {
        val expected = op match {
          case Op.Eq => dv.asInstanceOf[Double] == v
          case Op.Lt => dv.asInstanceOf[Double] < v
          case Op.Gt => dv.asInstanceOf[Double] > v
          case Op.Leq => dv.asInstanceOf[Double] <= v
          case Op.Geq => dv.asInstanceOf[Double] >= v
          case other => fail(s"Op.all yielded non-scalar $other")
        }
        assert(mask(i) == expected, s"$op $v at domain[$i]=$dv")
      }
    }
  }

  test("fillWildcards expands to table column order with empty holes") {
    val t = df(rows, schema)
    val tm = Dictionary.tableMeta(t, "t")
    val preds = Seq(Pred("d", Op.Leq, 2.0))
    val filled = Pred.fillWildcards(tm, preds)
    assert(filled.length == 2)
    assert(filled(0).isEmpty) // s unqueried
    assert(filled(1) == Seq(Pred("d", Op.Leq, 2.0)))
    // Multiple conjuncts on one column stay together.
    val both = Pred.fillWildcards(tm,
      Seq(Pred("d", Op.Geq, 1.0), Pred("d", Op.Leq, 2.0)))
    assert(both(1).length == 2)
  }

  test("qError zero-cardinality conventions (eval_model.py:165-172)") {
    assert(Workload.qError(0, 0) == 1.0)
    assert(Workload.qError(5, 0) == 5.0)
    assert(Workload.qError(0, 7) == 7.0)
    assert(Workload.qError(10, 5) == 2.0)
    assert(Workload.qError(5, 10) == 2.0)
  }

  test("workload generator is deterministic and respects domain rule") {
    val t = df(rows, schema)
    val tm = Dictionary.tableMeta(t, "t")
    val anchors = Array(Array[Any]("b", 2.0), Array[Any]("a", 1.0))
    val q1 = Workload.generate(tm, Seq("s", "d"), anchors, 10, 1, 2, seed = 9)
    val q2 = Workload.generate(tm, Seq("s", "d"), anchors, 10, 1, 2, seed = 9)
    assert(q1 == q2)
    // Domains here are tiny (<10) so every op must be forced to '='.
    assert(q1.flatten.forall(_.op == Op.Eq))
  }

  test("distributed runner partitions queries and computes q-errors") {
    val queries = Seq(
      Seq(Pred("d", Op.Leq, 2.0)), Seq(Pred("d", Op.Geq, 1.0)),
      Seq(Pred("d", Op.Eq, 3.0)))
    val truths = Array(3L, 5L, 2L)
    val est: Int => (Seq[Pred] => Long) = _ => _ => 4L
    val res = Workload.runDistributed(spark, est, queries, truths,
      parallelism = 2)
    assert(res.length == 3)
    assert(res.map(_._1).toSeq == Seq(0, 1, 2))
    assert(res.forall(_._2 == 4L))
    assert(math.abs(res(0)._3 - 4.0 / 3.0) < 1e-12)
    assert(math.abs(res(1)._3 - 5.0 / 4.0) < 1e-12)
  }

  test("distributed runner gives the same rows on every call") {
    // A large cardinality, so ceil(selectivity × N) shows every draw.
    val tm = Dictionary.tableMeta(df(rows, schema), "t")
      .copy(cardinality = 1L << 40)
    val model = new graft.nn.Made(2, Seq(16),
      tm.columns.map(_.distributionSize).toArray, inputEncoding = "one_hot",
      seed = 21)
    val queries = for (v <- Seq(1.0, 2.0, 3.0); op <- Seq(Op.Leq, Op.Geq);
        s <- Seq("a", "b")) yield Seq(Pred("d", op, v), Pred("s", Op.Geq, s))
    val truths = Array.fill(queries.length)(3L)
    // One sampler per partition, seeded by the partition index: the two
    // tasks running at once in local[2] share no sampler state.
    val est: Int => (Seq[Pred] => Long) = p =>
      new graft.est.ProgressiveSampling(model, tm, numSamples = 2000,
        seed = 1234L + p).query
    val runs = Seq.fill(3)(
      Workload.runDistributed(spark, est, queries, truths, parallelism = 2).toSeq)
    assert(runs.distinct.size == 1, runs.mkString("\n"))
  }

  test("results sink and golden-card source round-trip") {
    val dir = java.nio.file.Files.createTempDirectory("results").toString
    Workload.saveResults(spark, s"$dir/results",
      Seq(("psample", 1.5, 15L, 10L, 3.2), ("oracle", 1.0, 10L, 10L, 9.9)))
    val back = spark.read.option("header", "true").csv(s"$dir/results")
    assert(back.count() == 2)
    assert(back.columns.toSeq ==
      Seq("est", "err", "est_card", "true_card", "query_dur_ms"))
    // Golden-card file: header + one true card per line.
    val s2 = spark
    import s2.implicits._
    Seq(10L, 20L, 30L).toDF("card").coalesce(1)
      .write.option("header", "true").csv(s"$dir/golden")
    val cards = Workload.loadOracleCards(spark, s"$dir/golden")
    assert(cards.sorted.toSeq == Seq(10L, 20L, 30L))
  }

  test("CSV scan with projection and type casts") {
    val dir = java.nio.file.Files.createTempDirectory("csv").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/t.csv"),
      "a,b,ts\n1,x,2024-01-02 03:04:05\n2,y,2024-06-07 08:09:10\n")
    val schema = StructType(Seq(
      StructField("a", LongType), StructField("b", StringType),
      StructField("ts", TimestampType)))
    val t = Tables.readCsv(spark, s"$dir/t.csv", schema, Seq("a", "ts"))
    assert(t.columns.toSeq == Seq("a", "ts"))
    val rows2 = t.orderBy("a").collect()
    assert(rows2.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(rows2(0).getTimestamp(1).toString.startsWith("2024-01-02"))
  }

  test("readEvents casts µs TIMESTAMP_NTZ parquet to TIMESTAMP") {
    // Regression for the r7/r8 bench breakage: the driver regenerated
    // events.parquet with ts as µs TIMESTAMP isAdjustedToUTC=false,
    // which Spark reads as TIMESTAMP_NTZ — a type unix_micros() and
    // streaming watermarks reject. Tables.read must surface TIMESTAMP
    // whatever physical flavor the fixture carries (NANOS-as-long,
    // µs NTZ, µs LTZ). Values are exact under the pinned UTC session
    // zone (what DuckDB reads from the same file).
    val dir = java.nio.file.Files.createTempDirectory("gevt").toString
    val ntz = java.time.LocalDateTime.of(2024, 3, 1, 12, 30, 15, 123456000)
    val sch = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampNTZType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        Seq(Row(1L, ntz, 7L, "click", 0.5)), 1), sch)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val t = Tables.read(spark, dir, "events")
    assert(t.schema("ts").dataType == TimestampType)
    val got = t.select("ts").head.getTimestamp(0)
    assert(got.toInstant == java.time.Instant.parse("2024-03-01T12:30:15.123456Z"))
    // LTZ fixtures (ScaleData derived dirs) must pass through unchanged.
    val ltz = sch.fields.map {
      case f if f.name == "ts" => f.copy(dataType = TimestampType)
      case f => f
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        Seq(Row(2L, java.sql.Timestamp.from(
          java.time.Instant.parse("2024-03-01T12:30:15.123456Z")),
          7L, "click", 0.5)), 1), StructType(ltz))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val t2 = Tables.read(spark, dir, "events")
    assert(t2.schema("ts").dataType == TimestampType)
    assert(t2.select("ts").head.getTimestamp(0).toInstant ==
      java.time.Instant.parse("2024-03-01T12:30:15.123456Z"))
  }

  test("checkpoint save/load round-trips the model bit-exactly") {
    val model = new graft.nn.Made(2, Seq(8), Array(3, 4),
      inputEncoding = "one_hot", columnMasking = true, seed = 17)
    val path = java.nio.file.Files.createTempDirectory("gmdl").toString +
      "/m.gmdl"
    graft.nn.Trainer.save(model, path)
    val copy = new graft.nn.Made(2, Seq(8), Array(3, 4),
      inputEncoding = "one_hot", columnMasking = true, seed = 99)
    graft.nn.Trainer.load(copy, path)
    model.params.zip(copy.params).foreach { case (a, b) =>
      assert(java.util.Arrays.equals(a.data, b.data))
    }
    // A version-1 file (MADE weights [nOut, nIn]) is refused, not loaded
    // transposed: same bytes, old magic.
    val v1 = path.stripSuffix(".gmdl") + "-v1.gmdl"
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    java.nio.ByteBuffer.wrap(bytes).putInt(0x47524654) // "GRFT"
    java.nio.file.Files.write(java.nio.file.Paths.get(v1), bytes)
    val e = intercept[IllegalArgumentException](graft.nn.Trainer.load(copy, v1))
    assert(e.getMessage.contains("version-1 checkpoint"), e.getMessage)
  }
}
