package graft.sources

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions.{col, from_json}

import graft.schema.WeatherSchema

/** S1 of SURVEY.md §2a: the HTTP REST source (OpenWeather current-weather
  * GET, /root/reference/Load-Data-From-API/main.py:72-77), isolated
  * behind a replayable interface.
  *
  * The network call is the only non-relational edge of the pipeline, so
  * it lives behind [[Fetcher]]: production supplies an HTTP
  * implementation; tests and this zero-egress environment replay
  * recorded response bodies. Everything downstream (schema'd parse →
  * clean → land → ingest) is identical either way — which is the point:
  * the engine's correctness never depends on the transport.
  */
object WeatherApi {

  /** One API call → one raw JSON response body. */
  trait Fetcher { def fetch(): String }

  /** Replay recorded API response bodies in order (cycling), the test
    * stand-in for the HTTP GET.
    */
  final class ReplayFetcher(bodies: Seq[String]) extends Fetcher {
    require(bodies.nonEmpty, "need at least one recorded body")
    private var i = -1
    def fetch(): String = { i = (i + 1) % bodies.size; bodies(i) }
  }

  /** Live HTTP implementation of the reference's fetch step
    * (Load-Data-From-API/main.py:72-77 — a GET with the station's
    * coordinates and the API key as query parameters). Config-driven:
    * endpoint and params come in as data, the key via [[Secrets]]-style
    * lookup at the CALLER — this class never reads the environment.
    *
    * Driver-side by design: one fetch per pipeline invocation, exactly
    * like the reference's Cloud Function (the API is the rate-limited
    * scarce resource; parallelizing the single current-weather GET is
    * meaningless). Bounded linear-backoff retries on 5xx/connect
    * errors; a 4xx fails immediately — retrying a bad key or malformed
    * query cannot succeed and masks the misconfiguration.
    *
    * Never constructed in CI/test paths that would need egress: specs
    * exercise it against a loopback stub server (WeatherPipelineSpec),
    * and the fixture [[ReplayFetcher]] remains the default elsewhere.
    */
  final class HttpFetcher(
      endpoint: String,
      params: Map[String, String],
      timeout: java.time.Duration = java.time.Duration.ofSeconds(10),
      retries: Int = 2,
      backoffMillis: Long = 500L) extends Fetcher {
    import java.net.http.{HttpClient, HttpRequest, HttpResponse}

    private val uri = {
      val q = params.toSeq.sortBy(_._1).map { case (k, v) =>
        java.net.URLEncoder.encode(k, "UTF-8") + "=" +
          java.net.URLEncoder.encode(v, "UTF-8")
      }.mkString("&")
      java.net.URI.create(if (q.isEmpty) endpoint else s"$endpoint?$q")
    }

    @transient private lazy val client =
      HttpClient.newBuilder().connectTimeout(timeout).build()

    def fetch(): String = {
      var attempt = 0
      while (true) {
        attempt += 1
        val outcome =
          try {
            val resp = client.send(
              HttpRequest.newBuilder(uri).timeout(timeout).GET().build(),
              HttpResponse.BodyHandlers.ofString())
            resp.statusCode() match {
              case ok if ok / 100 == 2 => Right(resp.body())
              // 4xx (bad key / bad query) AND 3xx (this client never
              // follows redirects) cannot succeed on retry — fail now,
              // as a TYPE the catch below can discriminate on (string-
              // matching the message would be a silent contract)
              case terminal if terminal / 100 == 4 || terminal / 100 == 3 =>
                throw new WeatherApi.NonRetryableResponse(
                  s"GET $endpoint returned $terminal: ${resp.body().take(200)}")
              case other =>
                Left(new java.io.IOException(s"GET $endpoint returned $other"))
            }
          } catch {
            case e: WeatherApi.NonRetryableResponse => throw e
            case e: java.io.IOException => Left(e)
          }
        outcome match {
          case Right(body) => return body
          case Left(e) if attempt > retries => throw e
          case Left(_) => Thread.sleep(backoffMillis * attempt)
        }
      }
      throw new IllegalStateException("unreachable")
    }
  }

  /** A response no retry can change (4xx, or 3xx under the
    * never-follow-redirects client).
    */
  final class NonRetryableResponse(msg: String) extends java.io.IOException(msg)

  /** Parse one fetched body against the DECLARED API schema — never
    * schema inference (SURVEY.md §1): absent branches become null
    * leaves exactly as BigQuery's schema'd load would produce, and a
    * malformed body becomes one all-null row.
    *
    * The body is parsed by `from_json` over a one-row local Dataset, so
    * the frame stays a projection of a `LocalRelation`: the optimizer
    * folds it (and any projection on top, such as
    * [[graft.ops.CleanWeather.clean]]) into a local relation, and
    * collecting it runs on the driver without a Spark job.
    */
  def fetchFrame(spark: SparkSession, fetcher: Fetcher): DataFrame =
    spark.createDataset(Seq(fetcher.fetch()))(Encoders.STRING)
      .select(from_json(col("value"), WeatherSchema.api).as("body"))
      .select(col("body.*"))
}
