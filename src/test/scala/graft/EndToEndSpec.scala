package graft

import java.nio.file.Files

import org.apache.spark.grafttest.JobCount
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{CleanWeather, DailyTable, Landing}
import graft.schema.WeatherSchema
import graft.sources.WeatherApi
import graft.streaming.Ingest

/** The whole E1 path of SURVEY.md §3 in one test: fetch (replayed) →
  * schema'd parse → clean → land as hourly blob (K1) → landing-dir
  * drain (S3/K2) → daily rollup sync (D2/D3). Every process boundary of
  * the reference, collapsed into the engine's own operators.
  */
class EndToEndSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def apiBody(temp: Double): String =
    s"""{"coord":{"lon":87.0,"lat":23.25},
       |"weather":[{"id":800,"main":"Clear","description":"clear sky"}],
       |"base":"stations",
       |"main":{"temp":$temp,"feels_like":${temp + 1},"pressure":1006,"humidity":83,
       |"temp_min":${temp - 1},"temp_max":${temp + 2}},
       |"visibility":10000,"wind":{"speed":4.1,"deg":80},"clouds":{"all":75},
       |"sys":{"country":"IN","sunrise":1,"sunset":2},
       |"timezone":19800,"name":"Bankura"}""".stripMargin.replaceAll("\n", "")

  test("fetch → clean → land → ingest → daily rollup, end to end") {
    val root = Files.createTempDirectory("graft-e2e")
    val landing = root.resolve("landing").toString
    val raw = root.resolve("raw").toString
    val daily = root.resolve("daily").toString
    val ckpt = root.resolve("ckpt").toString
    val logs = root.resolve("logs").toString

    val fetcher = new WeatherApi.ReplayFetcher(
      Seq(apiBody(300.15), apiBody(302.15)))

    // two "hourly" fetch cycles on 2022-08-29 (stamps injected per batch
    // — P2's determinism rule; 10:00 and 11:00 Kolkata)
    val stamps = Seq(1661745600000L, 1661749200000L)
    for (utc <- stamps) {
      val cleaned = CleanWeather.clean(
        WeatherApi.fetchFrame(spark, fetcher),
        CleanWeather.kolkataStamps(utc)._1, CleanWeather.kolkataStamps(utc)._2)
      Landing.land(cleaned, landing, utc)
    }
    // K1 blobs, and only them: no hidden temp file survives a landing
    assert(new java.io.File(landing).listFiles().map(_.getName).toSet ==
      stamps.map(Landing.blobName).toSet)

    Ingest.runOnce(spark, landing, raw, daily, ckpt, Some(logs))

    assert(spark.read.parquet(raw).count() == 2)
    val d = DailyTable.read(spark, daily)
      .select(col("dt").cast("string"), col("avg_temp"), col("max_temp"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    assert(d.toSeq == Seq(("2022-08-29", 28.0, 31.0)))
    // avg(300.15,302.15)-273.15 = 28.0 ; max(temp_max)=304.15-273.15 = 31.0

    // §2j: the batch published its success envelope to the log store
    val logged = graft.ops.LogEvents.read(spark, logs)
    assert(logged.filter(col("message_type") === "success").count() >= 1)
    assert(logged.filter(col("log_type") =!= "bq-load-logging").count() == 0)
  }

  /** The schema'd file reader that parsed API bodies before `fetchFrame`
    * moved to `from_json`: the reference its frames are checked against.
    */
  private def readerFrame(body: String) = {
    import spark.implicits._
    spark.read.schema(WeatherSchema.api).json(Seq(body).toDS())
  }

  test("fetch → clean → land launches no job and lands toJSON's bytes") {
    val landing = Files.createTempDirectory("graft-e2e-jobless").toString
    val utc = 1661745600000L
    val (dt, ct) = CleanWeather.kolkataStamps(utc)
    var blob: java.nio.file.Path = null
    val jobs = JobCount(spark.sparkContext) {
      val cleaned = CleanWeather.clean(
        WeatherApi.fetchFrame(spark, new WeatherApi.ReplayFetcher(Seq(apiBody(300.15)))),
        dt, ct)
      blob = Landing.land(cleaned, landing, utc)
    }
    assert(jobs == 0)
    val expected = CleanWeather.clean(readerFrame(apiBody(300.15)), dt, ct)
      .toJSON.collect().mkString("\n")
    assert(new String(Files.readAllBytes(blob), "UTF-8") == expected)
  }

  test("fetchFrame parses every body as the schema'd reader does") {
    val bodies = Seq(
      apiBody(300.15),
      """{"this is": not even json""",                       // malformed
      """{"main":{"temp":"warm"},"name":"Bankura"}""",         // wrong leaf type
      """{"coord":{"lon":87.0},"rain":{"1h":0.5}}""")          // absent branches
    for (body <- bodies) {
      val got = WeatherApi.fetchFrame(spark, new WeatherApi.ReplayFetcher(Seq(body)))
      val want = readerFrame(body)
      assert(got.schema == want.schema)
      assert(got.collect().toSeq == want.collect().toSeq, body)
    }
    val malformed = WeatherApi.fetchFrame(spark,
      new WeatherApi.ReplayFetcher(Seq(bodies(1)))).collect()
    assert(malformed.length == 1 && malformed.head.toSeq.forall(_ == null))
  }
}
