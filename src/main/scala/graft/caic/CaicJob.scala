package graft.caic

import org.apache.spark.sql.SparkSession
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.time.Instant

/** End-to-end CAIC job: fetch → pipeline → submit (task.ts:85-190), with
  * the I/O edges behind traits so tests inject fixtures and the scheduled
  * runner injects real HTTP. The reference's source-side predicate pushdown
  * (`includeExpired=false`, `datetime=now`, `productType=avalancheforecast`
  * encoded into the URL, task.ts:89,102) lives in `urls()`.
  */
/** Typed job configuration (SURVEY §2A-20). The reference declares an
  * input schema of `DEBUG: boolean, default false` ("Print results in
  * logs", task.ts:63-67) and receives `ETL_API` / `ETL_LAYER` from the
  * deploy environment (reference README). Resolution order per key:
  * `spark.graft.*` session conf, then process env, then default —
  * malformed values fail fast like the reference's schema validation. */
final case class GraftConfig(debug: Boolean, api: String, layer: String)

object GraftConfig {
  val DefaultApi = "http://localhost:5001"
  val DefaultLayer = "0"

  def resolve(spark: SparkSession, env: Map[String, String] = sys.env): GraftConfig = {
    def opt(confKey: String, envKey: String): Option[String] =
      spark.conf.getOption(confKey).orElse(env.get(envKey))
    val dbg = opt("spark.graft.debug", "DEBUG")
    require(dbg.forall(v => v == "true" || v == "false"),
      s"DEBUG must be 'true' or 'false', got: ${dbg.get}")
    GraftConfig(
      debug = dbg.contains("true"),
      api = opt("spark.graft.api", "ETL_API").getOrElse(DefaultApi),
      layer = opt("spark.graft.layer", "ETL_LAYER").getOrElse(DefaultLayer))
  }
}

object CaicJob {

  trait Fetcher { def fetch(url: String): String }
  trait Submitter { def submit(body: String): Unit }

  /** JDK HttpClient fetcher — fail-fast on non-2xx like task.ts:93,106. */
  final class HttpFetcher extends Fetcher {
    private val client = HttpClient.newHttpClient()
    def fetch(url: String): String = {
      val res = client.send(
        HttpRequest.newBuilder(URI.create(url)).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      if (res.statusCode() / 100 != 2)
        throw new RuntimeException(s"Error fetching $url: HTTP ${res.statusCode()}")
      res.body()
    }
  }

  /** Local-file fetcher for tests/offline runs (url = path). */
  final class FileFetcher extends Fetcher {
    def fetch(url: String): String =
      new String(Files.readAllBytes(Paths.get(url)), StandardCharsets.UTF_8)
  }

  final class FileSubmitter(path: String) extends Submitter {
    def submit(body: String): Unit =
      Files.write(Paths.get(path), body.getBytes(StandardCharsets.UTF_8))
  }

  /** POST submitter mirroring this.submit (task.ts:189). */
  final class HttpSubmitter(endpoint: String, token: Option[String] = None) extends Submitter {
    private val client = HttpClient.newHttpClient()
    def submit(body: String): Unit = {
      val b = HttpRequest.newBuilder(URI.create(endpoint))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(body))
      token.foreach(t => b.header("Authorization", s"Bearer $t"))
      val res = client.send(b.build(), HttpResponse.BodyHandlers.ofString())
      if (res.statusCode() / 100 != 2)
        throw new RuntimeException(s"Submit failed: HTTP ${res.statusCode()}")
    }
  }

  /** Source URLs with pushed-down predicates (task.ts:88-89,102): current
    * ISO timestamp, URL-encoded, `includeExpired=false`; the areas call
    * additionally pushes `productType=avalancheforecast`. */
  def urls(now: Instant = Instant.now()): (String, String) = {
    val enc = java.net.URLEncoder.encode(now.toString, "UTF-8")
    val base = "https://avalanche.state.co.us/api-proxy/avid?_api_proxy_uri="
    (s"$base%2Fproducts%2Fall%2Farea%3FproductType%3Davalancheforecast%26datetime%3D$enc%26includeExpired%3Dfalse",
      s"$base%2Fproducts%2Fall%3Fdatetime%3D$enc%26includeExpired%3Dfalse")
  }

  /** One batch run (≡ one scheduled Lambda invocation, task.ts:57),
    * resolving config from the session/environment. Returns the submitted
    * document. */
  def runOnce(spark: SparkSession, fetcher: Fetcher, submitter: Submitter): String =
    runOnce(spark, fetcher, submitter, GraftConfig.resolve(spark))

  /** One batch run with an explicit config. `config.debug` mirrors the
    * reference's DEBUG input: print the submitted document to the log. */
  def runOnce(spark: SparkSession, fetcher: Fetcher, submitter: Submitter,
      config: GraftConfig): String = {
    val (areasUrl, productsUrl) = urls()
    val doc = CaicPipeline.document(spark, fetcher.fetch(areasUrl), fetcher.fetch(productsUrl))
    if (config.debug) println(s"[graft-caic] submitting to layer ${config.layer} at ${config.api}: $doc")
    submitter.submit(doc)
    doc
  }
}
