package graft

import java.nio.file.Files
import java.sql.Date

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{DailyRollup, DailyTable, Retention}
import graft.schema.WeatherSchema

/** SURVEY.md §5 property-based invariants (VERDICT.md #9), via raw
  * ScalaCheck (the scalatest bridge artifact is not in the offline
  * cache): min ≤ avg ≤ max per rollup group, upsert idempotence,
  * retention monotonicity. Seeded → deterministic.
  */
class PropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def check(name: String, p: Prop, cases: Int): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default
        .withMinSuccessfulTests(cases)
        .withInitialSeed(Seed(42L)),
      p)
    assert(res.passed, s"$name: ${res.status}")
  }

  /** (day-offset, temp, pressure) → one hourly row; temp_min/max bracket
    * temp so the rollup invariant is well-posed.
    */
  private val genReading: Gen[(Int, Double, Long)] = for {
    day <- Gen.choose(0, 24)
    temp <- Gen.choose(250.0, 320.0)
    press <- Gen.choose(950L, 1050L)
  } yield (day, temp, press)

  private def toHourly(readings: List[(Int, Double, Long)]): DataFrame = {
    val rows = readings.zipWithIndex.map { case ((day, temp, press), i) =>
      Row(
        Row(87.0, 23.25), Row(800L, "Clear", "sky"), "stations",
        Row(temp, temp + 0.5, press, 50L, temp - 2.0, temp + 2.0, null, null),
        10000L, Row(3.0, 120L, null), Row(40L), Row(null, null), Row(null, null),
        Date.valueOf(java.time.LocalDate.of(2022, 1, 1).plusDays(day.toLong)),
        f"${i % 24}%02d:00:00", Row("IN", 1L, 2L), 19800L, "B")
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), WeatherSchema.raw)
  }

  test("property: per-day min_temp <= avg_temp <= max_temp, one row per day") {
    check("rollup-invariant", Prop.forAll(
      Gen.nonEmptyListOf(genReading).map(_.take(40))) { readings =>
      val out = DailyRollup.rollup(toHourly(readings)).collect()
      val perDay = out.forall { r =>
        val (mn, av, mx) = (r.getAs[Double]("min_temp"),
          r.getAs[Double]("avg_temp"), r.getAs[Double]("max_temp"))
        // generator brackets temp by ±2 with half-up rounding to 2 digits
        mn <= av && av <= mx
      }
      perDay && out.length == readings.map(_._1).distinct.length
    }, cases = 10)
  }

  test("property: upsert is idempotent for any day present in the data") {
    check("upsert-idempotent", Prop.forAll(
      Gen.nonEmptyListOf(genReading).map(_.take(12))) { readings =>
      val hourly = toHourly(readings)
      val day = Date.valueOf(
        java.time.LocalDate.of(2022, 1, 1).plusDays(readings.head._1.toLong))
      val path = Files.createTempDirectory("graft-prop").toString + "/daily"
      DailyTable.bootstrap(hourly, path)
      DailyTable.upsert(hourly, path, day)
      val once = DailyTable.read(spark, path).orderBy("dt").collect().toSeq
      DailyTable.upsert(hourly, path, day)
      val twice = DailyTable.read(spark, path).orderBy("dt").collect().toSeq
      once == twice
    }, cases = 5)
  }

  test("property: retention keep-set shrinks monotonically as asOf advances") {
    check("retention-monotone", Prop.forAll(
      Gen.nonEmptyListOf(Gen.choose(0, 40)).map(_.take(30)),
      Gen.choose(0, 10)) { (dayOffsets, advance) =>
      import spark.implicits._
      val df = dayOffsets
        .map(d => Date.valueOf(java.time.LocalDate.of(2022, 3, 1).plusDays(d.toLong)))
        .toDF("dt")
      val asOf = Date.valueOf("2022-03-31")
      val later = Date.valueOf(java.time.LocalDate.parse("2022-03-31").plusDays(advance.toLong))
      def kept(a: Date): Set[String] =
        Retention.keep(df, lit(a)).select(col("dt").cast("string"))
          .as[String].collect().toSet
      kept(later).subsetOf(kept(asOf))
    }, cases = 10)
  }

  test("property: minhash of a union is the elementwise min of signatures") {
    // the structural invariant LSH banding rests on: each signature slot
    // is a min over the shingle set, so sig(A ∪ B) = min(sig(A), sig(B))
    // slot-wise — and therefore identical sets always fully collide
    val genTokens = Gen.nonEmptyListOf(
      Gen.oneOf("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"))
      .map(_.take(6))
    check("minhash-union", Prop.forAll(genTokens, genTokens) { (a, b) =>
      import spark.implicits._
      val df = Seq((a, b, (a ++ b).distinct)).toDF("a", "b", "u")
        .select(
          graft.ext.Dedup.minhashSignature(col("a"), 8).as("sa"),
          graft.ext.Dedup.minhashSignature(col("b"), 8).as("sb"),
          graft.ext.Dedup.minhashSignature(col("u"), 8).as("su"))
        .select(col("su") === zip_with(col("sa"), col("sb"),
          (x, y) => least(x, y)).as("ok"))
      df.head().getBoolean(0)
    }, cases = 15)
  }

  test("property: int8 quantization bounds hold for any vector") {
    // covers what the corpus can't: zero vectors, negatives, mixed sign
    import graft.ext.Quantize
    import org.apache.spark.sql.functions.{abs => cAbs, _}
    val genVec = Gen.listOfN(8, Gen.choose(-3.0, 3.0))
    val genMaybeZero = Gen.oneOf(genVec, Gen.const(List.fill(8)(0.0)))
    check("quant-bounds", Prop.forAll(genMaybeZero) { vec =>
      import spark.implicits._
      val r = Seq(vec).toDF("v")
        .withColumn("scale", Quantize.int8Scale(col("v")))
        .withColumn("q", Quantize.quantize(col("v"), col("scale")))
        .withColumn("deq", Quantize.dequantize(col("q"), col("scale")))
        .select(
          array_max(transform(col("q"), x => cAbs(x))).as("qmax"),
          (Quantize.maxError(col("v"), col("deq")) * col("scale")).as("gridErr"))
        .head()
      r.getInt(0) <= 127 && r.getDouble(1) <= 0.5 + 1e-9
    }, cases = 25)
  }

  test("property: context-pack offsets are prefix sums and spans are contiguous") {
    import graft.ext.Pack
    import org.apache.spark.sql.functions._
    val genLens = Gen.nonEmptyListOf(Gen.choose(0L, 700L)).map(_.take(12))
    check("pack-tiling", Prop.forAll(genLens) { lens =>
      import spark.implicits._
      val docs = lens.zipWithIndex
        .map { case (n, i) => (i.toLong, "s", n) }.toDF("doc_id", "shard", "toks")
      val out = Pack.contextSpans(docs, col("toks"), col("doc_id"),
          chunkTokens = 256, col("shard"))
        .select("doc_id", "n_tokens", "tok_offset", "first_chunk", "last_chunk")
        .collect().sortBy(_.getLong(0))
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      val offsetsArePrefixSums = out.zipWithIndex.forall { case ((_, off, _, _), i) =>
        off == out.take(i).map(_._1).sum
      }
      val spansWellFormed = out.forall { case (n, off, first, last) =>
        first == off / 256 && last >= first &&
          last == (off + math.max(n, 1) - 1) / 256
      }
      offsetsArePrefixSums && spansWellFormed
    }, cases = 20)
  }

  test("property: TopK aggregator is partition-split invariant") {
    // however the rows are split into partitions and merged, the result
    // must equal the global sort — the property that makes the partial
    // (map-side) aggregate safe
    import graft.ext.TopK
    import graft.ext.TopK.Scored
    val genRows = Gen.nonEmptyListOf(for {
      score <- Gen.choose(0, 5).map(_ / 4.0) // coarse scores force ties
      id <- Gen.choose(0L, 50L)
    } yield Scored(score, id)).map(_.take(20))
    check("topk-split", Prop.forAll(genRows, Gen.choose(1, 5)) { (rows, nSplits) =>
      val agg = new TopK.TopKAggregator(3)
      val expected = rows.sortBy(s => (-s.score, s.id)).take(3)
      val merged = rows.grouped(math.max(1, rows.size / nSplits))
        .map(part => part.foldLeft(agg.zero)(agg.reduce))
        .foldLeft(agg.zero)(agg.merge)
      agg.finish(merged) == expected
    }, cases = 30)
  }

  test("property: CDC apply equals a reference fold for any change log") {
    // random (key, seq, op) logs with unique (key, seq): the engine's
    // window collapse must equal the obvious in-memory reference —
    // latest change per key, dropped when it is a delete, n_changes =
    // log rows for the key
    import graft.ops.Cdc
    val genLog = Gen.nonEmptyListOf(for {
      key <- Gen.choose(1L, 6L)
      seq <- Gen.choose(1L, 30L)
      op <- Gen.oneOf("I", "U", "D")
    } yield (key, seq, op)).map(_.take(25))
    check("cdc-reference", Prop.forAll(genLog) { log0 =>
      import spark.implicits._
      // dedupe (key, seq) so the ordering is total, as the contract requires
      val log = log0.groupBy(t => (t._1, t._2)).map(_._2.head).toList
      val expected = log.groupBy(_._1).flatMap { case (k, changes) =>
        val latest = changes.maxBy(_._2)
        if (latest._3 == "D") None
        else Some((k, latest._2, latest._3, changes.size.toLong))
      }.toSet
      val got = Cdc.applyLatest(
        log.toDF("k", "seq", "op"), "k", Seq(col("seq")), "op")
        .select($"k", $"seq", $"op", $"n_changes")
        .as[(Long, Long, String, Long)].collect().toSet
      got == expected
    }, cases = 20)
  }

  test("property: PPM encode/decode roundtrip and resize dims for any raster") {
    import graft.ext.Ppm
    val genImage = for {
      w <- Gen.choose(1, 24)
      h <- Gen.choose(1, 24)
      px <- Gen.listOfN(w * h * 3, Gen.choose(0, 255))
    } yield Ppm.Image(w, h, px.map(_.toByte).toArray)
    check("ppm-roundtrip", Prop.forAll(genImage) { img =>
      val back = Ppm.decode(Ppm.encode(img))
      back.exists(d => d.width == img.width && d.height == img.height &&
        java.util.Arrays.equals(d.pixels, img.pixels))
    }, cases = 40)
    check("ppm-resize-dims", Prop.forAll(
      genImage, Gen.choose(1, 16), Gen.choose(1, 16)) { (img, w2, h2) =>
      val r = Ppm.resize(img, w2, h2)
      r.width == w2 && r.height == h2 && r.pixels.length == w2 * h2 * 3 &&
        Ppm.meanLuma(r) >= 0.0 && Ppm.meanLuma(r) <= 1.0
    }, cases = 40)
  }

  test("property: KL drift is zero for the reference mix, non-negative always") {
    // any group whose counts are an exact scalar multiple of the
    // reference distribution must score kl_micro == 0; any counts over
    // the reference support must score >= 0 (the greatest-0 guard +
    // Gibbs' inequality at quantization precision)
    import graft.ext.Drift
    import spark.implicits._
    val genCounts = Gen.nonEmptyListOf(for {
      tok <- Gen.oneOf("a", "b", "c", "d")
      c <- Gen.choose(1L, 9L)
    } yield (tok, c)).map(_.groupBy(_._1).map { case (t, xs) =>
      (t, xs.map(_._2).sum) }.toList)
    check("kl-nonneg", Prop.forAll(genCounts, genCounts) { (gc, rc0) =>
      // reference support must cover the group: union the tokens in
      val rc = (rc0 ++ gc.filterNot(g => rc0.exists(_._1 == g._1))).distinct
      val counts = gc.map { case (t, c) => ("g", t, c) }
        .toDF("grp", "token", "c_s")
      val ref = rc.toDF("token", "c")
      val kl = Drift.klMicro(counts, Seq("grp"), ref)
        .select($"kl_micro").as[Long].head()
      kl >= 0L
    }, cases = 15)
    check("kl-zero-on-reference-mix", Prop.forAll(
      Gen.choose(1L, 5L), Gen.choose(1L, 7L)) { (scale, base) =>
      // group counts = scale × reference counts exactly
      val ref = List(("a", base), ("b", base * 2), ("c", base * 3))
      val counts = ref.map { case (t, c) => ("g", t, c * scale) }
        .toDF("grp", "token", "c_s")
      val kl = Drift.klMicro(counts, Seq("grp"), ref.toDF("token", "c"))
        .select($"kl_micro").as[Long].head()
      kl == 0L
    }, cases = 10)
  }

  // ---- stream ≡ batch: every windowed module over random micro-batches

  /** One generated event: (ts, k, v, id, w). `k` is a nullable key with
    * one hot value, `v` a nullable value, `id` unique, `w` a nullable
    * positive weight.
    */
  private type Ev = (java.sql.Timestamp, String, java.lang.Long, Long, java.lang.Long)
  private val evCols = Seq("ts", "k", "v", "id", "w")

  /** A generated stream: its events in event-time order, cut into
    * micro-batches (some empty), under one watermark delay.
    */
  private case class StreamCase(batches: Vector[Vector[Ev]], watermark: String) {
    def rows: Vector[Ev] = batches.flatten
  }

  private val hour = 3600L * 1000L
  private val t0 = 1704067200000L // 2024-01-01 00:00 UTC, hour-aligned

  /** 56 hourly windows of 1–5 rows, a few of them empty. A window of
    * two rows or more is cut inside with probability 0.75, so most
    * windows span a micro-batch boundary; now and then an empty
    * micro-batch follows a window.
    */
  private val genStreamCase: Gen[StreamCase] = {
    val genKey = Gen.frequency(5 -> Gen.const("hot"),
      3 -> Gen.oneOf("a", "b", "c", "d"), 2 -> Gen.const(null: String))
    val genV = Gen.frequency(9 -> Gen.choose(-5L, 300L).map(java.lang.Long.valueOf),
      1 -> Gen.const(null: java.lang.Long))
    val genW = Gen.frequency(19 -> Gen.choose(1L, 1000L).map(java.lang.Long.valueOf),
      1 -> Gen.const(null: java.lang.Long))
    val genWindow = for {
      n <- Gen.frequency(1 -> Gen.const(0), 2 -> Gen.const(1), 12 -> Gen.choose(2, 5))
      secs <- Gen.listOfN(n, Gen.choose(0L, 3599L)).map(_.sorted)
      ks <- Gen.listOfN(n, genKey)
      vs <- Gen.listOfN(n, genV)
      ws <- Gen.listOfN(n, genW)
      cutInside <- Gen.frequency(3 -> Gen.const(true), 1 -> Gen.const(false))
      cutAt <- Gen.choose(1, math.max(1, n - 1))
      emptyAfter <- Gen.frequency(1 -> Gen.const(true), 19 -> Gen.const(false))
    } yield (secs.lazyZip(ks).lazyZip(vs).toList.zip(ws), cutInside && n >= 2, cutAt,
      emptyAfter)
    for {
      windows <- Gen.listOfN(56, genWindow)
      delayMin <- Gen.oneOf(0, 30, 120)
    } yield {
      val batches = Vector.newBuilder[Vector[Ev]]
      var cur = Vector.empty[Ev]
      var id = 0L
      windows.zipWithIndex.foreach { case ((rows, cut, cutAt, emptyAfter), wi) =>
        rows.zipWithIndex.foreach { case (((sec, k, v), w), ri) =>
          if (cut && ri == cutAt) { batches += cur; cur = Vector.empty }
          cur :+= ((new java.sql.Timestamp(t0 + wi * hour + sec * 1000L), k, v, id, w))
          id += 1
        }
        if (emptyAfter) { batches += cur; batches += Vector.empty; cur = Vector.empty }
      }
      batches += cur
      StreamCase(batches.result(), s"$delayMin minutes")
    }
  }

  /** One windowed module: its function over the generic events frame
    * under a watermark, and the event columns whose nulls it skips.
    */
  private case class WindowedModule(
      name: String, build: (DataFrame, String) => DataFrame,
      skipsNullsOf: Seq[String] = Nil, replay: Boolean = false)

  private lazy val windowedModules: Seq[WindowedModule] = {
    import graft.streaming._
    val hr = "1 hour"
    def str(c: String) = concat(lit("u"), col(c).cast("string"))
    Seq(
      WindowedModule("StreamCms.windowedGrid", (ev, wm) =>
        StreamCms.windowedGrid(ev, "ts", "k", hr, wm, depth = 3, width = 16)),
      WindowedModule("StreamDq.windowedChecks", (ev, wm) =>
        StreamDq.windowedChecks(ev, "ts", hr, wm, Seq(
          "null_v" -> col("v").isNull, "neg_v" -> (col("v") < 0),
          "hot_k" -> (col("k") === "hot")))),
      WindowedModule("StreamDrift.windowedCounts", (ev, wm) =>
        StreamDrift.windowedCounts(ev.withColumn("tok", pmod(col("v"), lit(7L))),
          "ts", "k", "tok", hr, wm)),
      WindowedModule("StreamHll.windowedDistinct", (ev, wm) =>
        StreamHll.windowedDistinct(ev.withColumn("u", str("v")), "ts", "u", hr, wm, "k"),
        skipsNullsOf = Seq("v"), replay = true),
      WindowedModule("StreamKmv.windowedDistinct", (ev, wm) =>
        StreamKmv.windowedDistinct(ev.withColumn("u", str("v")), "ts", "u", hr, wm,
          k = 4, "k"),
        replay = true),
      WindowedModule("StreamOutliers.windowedRates", (ev, wm) =>
        StreamOutliers.windowedRates(ev.withColumn("cell", pmod(col("v"), lit(4L)))
          .withColumn("outlier", col("v") > 200), "ts", hr, wm)),
      WindowedModule("StreamQuantile.windowedHistogram", (ev, wm) =>
        StreamQuantile.windowedHistogram(ev, "ts", "v", 25L, hr, wm, "k"),
        skipsNullsOf = Seq("v")),
      WindowedModule("StreamSample.windowedSample", (ev, wm) =>
        StreamSample.windowedSample(ev, "ts", "id", "w", hr, wm, k = 3, "k"),
        skipsNullsOf = Seq("id", "w")),
      WindowedModule("EventWindows.windowedStats", (ev, wm) =>
        EventWindows.windowedStats(ev.select(col("ts"), col("k").as("event_type"),
          col("v").cast("double").as("value")), hr, wm)))
  }

  /** The streams run in their own session with two shuffle partitions:
    * each micro-batch of a stateful query runs one task per partition,
    * and two still spread a window's keys over more than one state
    * store.
    */
  private lazy val streamSpark = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "2")
    s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    s
  }

  /** A frame's rows as sorted strings: a multiset compare that keeps
    * exact doubles and nulls.
    */
  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toString).sorted

  private var windowedRuns = 0

  /** Feeds one case through every module's stream at once (each query
    * runs on its own thread) and returns one line per mismatch. A
    * replaying module's stream also receives each micro-batch again
    * with the next one, so every row arrives twice.
    */
  private def streamMatchesBatch(c: StreamCase): Seq[String] = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val session = streamSpark
    import session.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = session.sqlContext
    val static = c.rows.toDF(evCols: _*)
    windowedRuns += 1
    val runs = windowedModules.flatMap { m =>
      (false +: (if (m.replay) Seq(true) else Nil)).map { replayed =>
        val input = MemoryStream[Ev]
        val table = s"windowed_${windowedRuns}_${m.name.replace('.', '_')}" +
          (if (replayed) "_replay" else "")
        val q = m.build(input.toDF().toDF(evCols: _*), c.watermark)
          .writeStream.format("memory").queryName(table)
          .outputMode("append").start()
        (m, replayed, input, q, table)
      }
    }
    try {
      // a closer far past the last window moves the watermark beyond
      // every generated window; its own window never closes
      val closer: Ev = (new java.sql.Timestamp(t0 + 1000L * hour), "hot",
        java.lang.Long.valueOf(0L), -1L, java.lang.Long.valueOf(1L))
      val fed = c.batches :+ Vector(closer) :+ Vector(closer)
      fed.indices.foreach { i =>
        runs.foreach { case (_, replayed, input, _, _) =>
          input.addData(if (replayed && i > 0) fed(i - 1) ++ fed(i) else fed(i))
        }
        runs.foreach(_._4.processAllAvailable())
      }
      runs.flatMap { case (m, replayed, _, _, table) =>
        val streamed = session.table(table)
        val batch = m.build(static, c.watermark)
        val label = m.name + (if (replayed) " (replayed)" else "")
        val nullSkip = m.skipsNullsOf.filterNot(_ => replayed).flatMap { n =>
          val nonNull = m.build(static.filter(col(n).isNotNull), c.watermark)
          if (rowsOf(nonNull) == rowsOf(batch)) None
          else Some(s"$label: batch over non-null $n differs")
        }
        val schema = (streamed.schema.map(f => (f.name, f.dataType)) ==
          batch.schema.map(f => (f.name, f.dataType)))
        (if (schema) None else Some(s"$label: schema ${streamed.schema} != ${batch.schema}")) ++
          (if (rowsOf(streamed) == rowsOf(batch)) None
           else Some(s"$label: closed windows ${rowsOf(streamed).take(5)} != " +
             s"batch ${rowsOf(batch).take(5)}")) ++ nullSkip
      }
    } finally runs.foreach(_._4.stop())
  }

  test("property: every windowed module's stream equals its batch form") {
    // generated windows, and those whose rows span ≥ 2 micro-batches
    var windows = 0
    var split = 0
    check("stream-equals-batch", Prop.forAllNoShrink(genStreamCase) { c =>
      val batchOf = c.batches.zipWithIndex
        .flatMap { case (b, i) => b.map(r => (r._1.getTime / hour, i)) }
      val perWindow = batchOf.groupBy(_._1).values.map(_.map(_._2).distinct.size)
      windows += perWindow.size
      split += perWindow.count(_ >= 2)
      val mismatches = streamMatchesBatch(c)
      mismatches.isEmpty :| mismatches.mkString("; ")
    }, cases = 2)
    assert(windows >= 100 && 2 * split >= windows,
      s"$windows windows generated, $split split across micro-batches")
  }
}
