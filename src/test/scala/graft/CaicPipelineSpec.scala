package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import com.fasterxml.jackson.databind.ObjectMapper
import graft.caic.{CaicModel, CaicPipeline}

/** Golden end-to-end test of the CAIC pipeline (SURVEY.md §5-1): hand-built
  * fixtures exercising every §7.4 semantic trap, compared field-by-field
  * against hand-derived expectations from the reference semantics
  * (task.ts:85-190).
  */
class CaicPipelineSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .appName("caic-spec")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val mapper = new ObjectMapper()
  private def jsonEq(a: String, b: String): Boolean =
    mapper.readTree(a) == mapper.readTree(b)

  // Areas fixture: duplicate id 101 (last wins), numeric id 202 (cast),
  // MultiPolygon on 202, id 303 for the unknown-rating case, id 404 unused.
  private val areasJson =
    """{"type":"FeatureCollection","features":[
      |{"type":"Feature","id":"101","properties":{"name":"stale"},
      | "geometry":{"type":"Polygon","coordinates":[[[0.0,0.0],[1.0,0.0],[1.0,1.0],[0.0,0.0]]]}},
      |{"type":"Feature","id":"101","properties":{"name":"fresh"},
      | "geometry":{"type":"Polygon","coordinates":[[[5.0,5.0],[6.0,5.0],[6.0,6.0],[5.0,5.0]]]}},
      |{"type":"Feature","id":202,"properties":{},
      | "geometry":{"type":"MultiPolygon","coordinates":[
      |   [[[10.0,10.0],[11.0,10.0],[11.0,11.0],[10.0,10.0]]],
      |   [[[20.0,20.0],[21.0,20.0],[21.0,21.0],[20.0,20.0]]]]}},
      |{"type":"Feature","id":"303","properties":{},
      | "geometry":{"type":"Polygon","coordinates":[[[7.0,7.0],[8.0,7.0],[8.0,8.0],[7.0,7.0]]]}},
      |{"type":"Feature","id":"404","properties":{},
      | "geometry":{"type":"Polygon","coordinates":[[[9.0,9.0],[9.5,9.0],[9.5,9.5],[9.0,9.0]]]}}
      |]}""".stripMargin

  private def forecast(areaId: String, btl: String, tln: String, alp: String,
      remarks: String = "watch out"): String =
    s"""{"type":"avalancheforecast","id":"f-$areaId","publicName":"Zone $areaId",
       |"polygons":["$areaId"],"areaId":"$areaId","forecaster":"jdoe",
       |"issueDateTime":"2026-01-01T00:00:00Z","expiryDateTime":"2026-01-02T00:00:00Z",
       |"isTranslated":false,"weatherSummary":null,
       |"avalancheSummary":{"days":[{"date":"2026-01-01","content":"$remarks"},
       |  {"date":"2026-01-02","content":"day2 must not leak"}]},
       |"dangerRatings":{"days":[{"alp":"$alp","tln":"$tln","btl":"$btl"},
       |  {"alp":"extreme","tln":"extreme","btl":"extreme"}]}}""".stripMargin

  private val productsJson = "[" + Seq(
    forecast("101", btl = "low", tln = "considerable", alp = "high"),
    forecast("202", btl = "low", tln = "low", alp = "low"),
    forecast("303", btl = "gnarly", tln = "low", alp = "low"), // unknown → -1 wins
    forecast("999", btl = "low", tln = "low", alp = "low"),    // missing area → dropped
    // empty days → dropped (task.ts:137)
    """{"type":"avalancheforecast","id":"f-empty","publicName":"E","polygons":[],
      |"areaId":"404","forecaster":"x","issueDateTime":"t","expiryDateTime":"t",
      |"isTranslated":false,"weatherSummary":null,
      |"avalancheSummary":{"days":[]},
      |"dangerRatings":{"days":[{"alp":"low","tln":"low","btl":"low"}]}}""".stripMargin,
    // missing dangerRatings → dropped (task.ts:138)
    """{"type":"avalancheforecast","id":"f-nodr","publicName":"N","polygons":[],
      |"areaId":"404","forecaster":"x","issueDateTime":"t","expiryDateTime":"t",
      |"isTranslated":false,"weatherSummary":null,
      |"avalancheSummary":{"days":[{"date":"d","content":"c"}]}}""".stripMargin,
    // non-forecast product type → filtered (task.ts:114)
    """{"type":"avalanchewarning","title":"some other product"}"""
  ).mkString(",") + "]"

  private lazy val out = CaicPipeline.run(spark, areasJson, productsJson)
    .collect()
    .map(r => r.getAs[String]("id") -> r)
    .toMap

  test("row inventory: joins drop missing areas; filters drop bad days; Multi explodes") {
    assert(out.keySet === Set("caic-101", "caic-202-0", "caic-202-1", "caic-303"))
  }

  test("worst-rating ordinal min with dict lookups (101: high wins)") {
    val p = out("caic-101").getAs[org.apache.spark.sql.Row]("properties")
    assert(p.getAs[String]("callsign") === "High")
    assert(p.getAs[String]("fill") === "#ee1d23")
    assert(p.getAs[String]("stroke") === "#ee1d23")
    assert(p.getAs[Double]("fill-opacity") === 0.5)
    assert(p.getAs[Double]("stroke-opacity") === 0.75)
    assert(p.getAs[String]("remarks") === "watch out")
  }

  test("day-0 only: metadata carries day[0] ratings, not day[1]") {
    val m = out("caic-101").getAs[org.apache.spark.sql.Row]("properties")
      .getAs[org.apache.spark.sql.Row]("metadata")
    assert(m.getAs[String]("ratingAbove") === "high")
    assert(m.getAs[String]("ratingNear") === "considerable")
    assert(m.getAs[String]("ratingBelow") === "low")
    assert(m.getAs[String]("forecaster") === "jdoe")
    assert(m.getAs[Boolean]("isTranslated") === false)
  }

  test("unknown rating string wins the min and nulls the styling (§7.4-1)") {
    val p = out("caic-303").getAs[org.apache.spark.sql.Row]("properties")
    assert(p.getAs[String]("callsign") == null)
    assert(p.getAs[String]("fill") == null)
    assert(p.getAs[String]("stroke") == null)
    // remarks/metadata still populated
    assert(p.getAs[String]("remarks") === "watch out")
  }

  test("last-wins dedup on duplicate area ids (§7.4-4)") {
    val g = out("caic-101").getAs[String]("geometry")
    assert(jsonEq(g,
      """{"type":"Polygon","coordinates":[[[5.0,5.0],[6.0,5.0],[6.0,6.0],[5.0,5.0]]]}"""))
  }

  test("numeric feature id joins a string areaId (§7.4-5)") {
    assert(out.contains("caic-202-0"))
  }

  test("Multi explode: -idx ids, Multi stripped, parts split, props shared (§7.4-3)") {
    val g0 = out("caic-202-0").getAs[String]("geometry")
    val g1 = out("caic-202-1").getAs[String]("geometry")
    assert(jsonEq(g0,
      """{"type":"Polygon","coordinates":[[[10.0,10.0],[11.0,10.0],[11.0,11.0],[10.0,10.0]]]}"""))
    assert(jsonEq(g1,
      """{"type":"Polygon","coordinates":[[[20.0,20.0],[21.0,20.0],[21.0,21.0],[20.0,20.0]]]}"""))
    val p0 = out("caic-202-0").getAs[org.apache.spark.sql.Row]("properties")
    val p1 = out("caic-202-1").getAs[org.apache.spark.sql.Row]("properties")
    assert(p0 === p1) // byte-identical shared properties
    assert(p0.getAs[String]("callsign") === "Low")
    assert(p0.getAs[String]("fill") === "#4db748")
  }

  test("output metadata conforms to the emitted schema contract (task.ts:158-166)") {
    val out = CaicPipeline.run(spark, areasJson, productsJson)
    val metaType = out.schema("properties").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]("metadata").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    // same field names, order, and types (nullability is parser-dependent)
    assert(metaType.fields.map(f => (f.name, f.dataType)).toSeq ===
      CaicModel.outputMetadataType.fields.map(f => (f.name, f.dataType)).toSeq)
  }

  test("introspection serves the DECLARED contract, every task.ts:69-78 field incl. rating") {
    import org.apache.spark.sql.types._
    // the reference's schema() response declares these 8 fields in this
    // order — including `rating` (task.ts:74), which control() never
    // populates; the introspection contract must advertise it anyway
    assert(CaicModel.outputSchema.fields.map(f => (f.name, f.dataType)).toSeq === Seq(
      ("forecaster", StringType),      // task.ts:70
      ("issueDateTime", StringType),   // task.ts:71
      ("expiryDateTime", StringType),  // task.ts:72
      ("isTranslated", BooleanType),   // task.ts:73
      ("rating", StringType),          // task.ts:74
      ("ratingAbove", StringType),     // task.ts:75
      ("ratingNear", StringType),      // task.ts:76
      ("ratingBelow", StringType)))    // task.ts:77
    // declared = emitted + the never-populated `rating` — no other drift
    assert(CaicModel.declaredOutputMetadataType.fields.filterNot(_.name == "rating").toSeq ===
      CaicModel.outputMetadataType.fields.toSeq)
  }

  test("null/missing day-0 band wins the min like JS indexOf(undefined) = -1") {
    // btl absent from day 0: PERMISSIVE parsing null-pads it; JS
    // indexOf(undefined) = -1 must win the min and null the styling even
    // though the other bands are known ratings.
    val pj = "[" +
      """{"type":"avalancheforecast","id":"f-nb","publicName":"NB","polygons":["101"],
        |"areaId":"101","forecaster":"x","issueDateTime":"t","expiryDateTime":"t",
        |"isTranslated":false,"weatherSummary":null,
        |"avalancheSummary":{"days":[{"date":"d","content":"c"}]},
        |"dangerRatings":{"days":[{"alp":"high","tln":"considerable"}]}}""".stripMargin + "]"
    val rows = CaicPipeline.run(spark, areasJson, pj).collect()
    assert(rows.length === 1)
    val p = rows.head.getAs[org.apache.spark.sql.Row]("properties")
    assert(p.getAs[String]("callsign") == null)
    assert(p.getAs[String]("fill") == null)
    assert(p.getAs[org.apache.spark.sql.Row]("metadata").getAs[String]("ratingAbove") === "high")
  }

  test("FeatureCollection splice survives adversarial remarks and null geometry") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, struct}
    val df = Seq(
      ("f1", "Feature", "contains \"geometry\": literal", """{"type":"Point","coordinates":[1.0,2.0]}"""),
      ("f2", "Feature", "plain", null: String))
      .toDF("id", "type", "remarks", "geometry")
      .select(col("id"), col("type"), struct(col("remarks")).as("properties"), col("geometry"))
    val tree = mapper.readTree(CaicPipeline.toFeatureCollection(df))
    val feats = (0 until tree.get("features").size())
      .map(tree.get("features").get(_)).map(f => f.get("id").asText() -> f).toMap
    assert(feats("f1").get("properties").get("remarks").asText().contains("\"geometry\":"))
    assert(feats("f1").get("geometry").get("type").asText() === "Point")
    assert(feats("f2").get("geometry").isNull)
  }

  test("FeatureCollection assembly is valid JSON with all features") {
    val fc = CaicPipeline.toFeatureCollection(
      CaicPipeline.run(spark, areasJson, productsJson))
    val tree = mapper.readTree(fc)
    assert(tree.get("type").asText() === "FeatureCollection")
    assert(tree.get("features").size() === 4)
    val ids = (0 until 4).map(i => tree.get("features").get(i).get("id").asText()).toSet
    assert(ids === Set("caic-101", "caic-202-0", "caic-202-1", "caic-303"))
    // geometry re-enters as structured JSON, not a quoted string
    val f0 = (0 until 4).map(tree.get("features").get(_))
      .find(_.get("id").asText() == "caic-202-0").get
    assert(f0.get("geometry").get("type").asText() === "Polygon")
    assert(f0.get("geometry").get("coordinates").isArray)
  }

  // ------------------------------------------------ plan shape and edge pins

  private def area(id: String, geometry: String): String =
    s"""{"type":"Feature","id":$id,"properties":{},"geometry":$geometry}"""
  private def fc(features: String*): String =
    features.mkString("""{"type":"FeatureCollection","features":[""", ",", "]}")
  private val square =
    """{"type":"Polygon","coordinates":[[[0.0,0.0],[1.0,0.0],[1.0,1.0],[0.0,0.0]]]}"""

  private def plan(df: org.apache.spark.sql.DataFrame) = {
    df.collect()
    PlanNodes.all(df.queryExecution.executedPlan)
  }

  test("one invocation plans no Exchange, no broadcast and no Window") {
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, Exchange}
    import org.apache.spark.sql.execution.window.WindowExec
    val areasOnly = {
      import spark.implicits._
      CaicPipeline.areaFeatures(Seq(areasJson).toDF("value"))
    }
    for (df <- Seq(CaicPipeline.run(spark, areasJson, productsJson), areasOnly)) {
      val nodes = plan(df)
      assert(!nodes.exists(_.isInstanceOf[Exchange]), nodes.mkString("\n"))
      assert(!nodes.exists(_.isInstanceOf[BroadcastExchangeExec]), nodes.mkString("\n"))
      assert(!nodes.exists(_.isInstanceOf[WindowExec]), nodes.mkString("\n"))
    }
  }

  private val fetcher = new graft.caic.CaicJob.Fetcher {
    def fetch(url: String): String =
      if (url.contains("%2Fproducts%2Fall%2Farea")) areasJson else productsJson
  }

  /** Runs `body` with a `QueryExecutionListener` attached and returns the
    * query executions of the actions it ran, with the Spark jobs they
    * launched. */
  private def actions(body: => Unit)
      : (Seq[org.apache.spark.sql.execution.QueryExecution], Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val qes = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val qeListener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = qes.add(qe)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = qes.add(qe)
    }
    val sc = spark.sparkContext
    org.apache.spark.ListenerBusSync.waitUntilEmpty(sc)
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    try {
      body
      org.apache.spark.ListenerBusSync.waitUntilEmpty(sc)
    } finally {
      spark.listenerManager.unregister(qeListener)
      sc.removeSparkListener(jobListener)
    }
    (qes.toArray(Array.empty[QueryExecution]).toSeq, jobs.get)
  }

  test("one CaicJob.runOnce launches no Spark job, only a local scan") {
    import org.apache.spark.sql.execution.LocalTableScanExec
    import graft.caic.{CaicJob, GraftConfig}
    var submitted = ""
    val submitter = new CaicJob.Submitter { def submit(body: String): Unit = submitted = body }
    var returned = ""
    val (qes, jobs) = actions {
      returned = CaicJob.runOnce(spark, fetcher, submitter, GraftConfig(debug = false, "-", "-"))
    }
    assert(jobs === 0)
    assert(qes.size === 1)
    // the whole invocation was folded on the driver: an unevaluable
    // expression would leave a Project above the scan, and a job per call
    val executed = qes.head.executedPlan
    assert(executed.isInstanceOf[LocalTableScanExec] && executed.children.isEmpty,
      executed.treeString)
    assert(returned === submitted)
    assert(mapper.readTree(submitted).get("features").size() === 4)
  }

  test("a conf change re-plans the prepared invocation instead of reusing it") {
    import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode}
    import graft.caic.{CaicJob, GraftConfig}
    // every Cast, implicit or explicit, records the ANSI setting it was
    // analyzed under
    def evalModes(qe: org.apache.spark.sql.execution.QueryExecution) =
      qe.analyzed.flatMap(_.expressions.flatMap(_.collect { case c: Cast => c.evalMode })).toSet
    val submitter = new CaicJob.Submitter { def submit(body: String): Unit = () }
    def invoke(ansi: Boolean) = {
      spark.conf.set("spark.sql.ansi.enabled", ansi.toString)
      val (qes, _) = actions {
        CaicJob.runOnce(spark, fetcher, submitter, GraftConfig(debug = false, "-", "-"))
      }
      assert(qes.size === 1)
      qes.head
    }
    try {
      assert(evalModes(invoke(ansi = true)) === Set(EvalMode.ANSI))
      assert(evalModes(invoke(ansi = false)) === Set(EvalMode.LEGACY))
      assert(evalModes(invoke(ansi = true)) === Set(EvalMode.ANSI))
    } finally spark.conf.unset("spark.sql.ansi.enabled")
  }

  test("an areaId matching no area, and an empty features array, drop the row under ANSI") {
    spark.conf.set("spark.sql.ansi.enabled", "true") // Spark 4's default, made explicit
    val orphan = "[" + forecast("999", btl = "low", tln = "low", alp = "low") + "]"
    assert(CaicPipeline.run(spark, areasJson, orphan).collect().isEmpty)
    assert(CaicPipeline.run(spark, fc(), productsJson).collect().isEmpty)
    // the other forecasts of the same document still join
    val mixed = "[" + Seq(forecast("999", "low", "low", "low"),
      forecast("303", "low", "low", "low")).mkString(",") + "]"
    assert(CaicPipeline.run(spark, areasJson, mixed).collect()
      .map(_.getAs[String]("id")).toSeq === Seq("caic-303"))
  }

  test("two forecasts for the same areaId both emit features") {
    val pj = "[" + Seq(forecast("101", "low", "low", "low", remarks = "first"),
      forecast("101", "high", "high", "high", remarks = "second")).mkString(",") + "]"
    val rows = CaicPipeline.run(spark, areasJson, pj).collect()
    assert(rows.map(_.getAs[String]("id")).toSeq === Seq("caic-101", "caic-101"))
    assert(rows.map(_.getAs[org.apache.spark.sql.Row]("properties")
      .getAs[String]("remarks")).toSet === Set("first", "second"))
  }

  test("a feature with a null id never matches") {
    val areas = fc(area("null", square), area("\"7\"", square))
    val nullAreaId =
      """{"type":"avalancheforecast","id":"f-n","areaId":null,"forecaster":"x",
        |"avalancheSummary":{"days":[{"date":"d","content":"c"}]},
        |"dangerRatings":{"days":[{"alp":"low","tln":"low","btl":"low"}]}}""".stripMargin
    val pj = "[" + Seq(nullAreaId, forecast("null", "low", "low", "low"),
      forecast("7", "low", "low", "low")).mkString(",") + "]"
    assert(CaicPipeline.run(spark, areas, pj).collect()
      .map(_.getAs[String]("id")).toSeq === Seq("caic-7"))
  }

  test("areaFeatures keeps the last feature per id, null ids included") {
    import spark.implicits._
    val areas = fc(area("null", """{"type":"Point","coordinates":[1,1]}"""),
      area("\"a\"", """{"type":"Point","coordinates":[2,2]}"""),
      area("null", """{"type":"Point","coordinates":[3,3]}"""),
      area("\"a\"", """{"type":"Point","coordinates":[4,4]}"""),
      area("5", """{"type":"Point","coordinates":[5,5]}"""))
    val got = CaicPipeline.areaFeatures(Seq(areas).toDF("value")).collect()
      .map(r => Option(r.getAs[String]("id")) ->
        mapper.readTree(r.getAs[String]("geometry")).get("coordinates").get(0).asInt())
    assert(got.toMap === Map(None -> 3, Some("a") -> 4, Some("5") -> 5))
    assert(got.length === 3)
  }

  test("a null, non-object or untyped geometry is dropped") {
    val areas = fc(area("\"g0\"", "null"), area("\"g1\"", "\"flat\""),
      area("\"g2\"", "[1,2]"), area("\"g3\"", """{"coordinates":[1,2]}"""),
      area("\"g4\"", """{"type":"Point","coordinates":[1,2]}"""))
    val pj = "[" + (0 to 4).map(i => forecast(s"g$i", "low", "low", "low")).mkString(",") + "]"
    assert(CaicPipeline.run(spark, areas, pj).collect()
      .map(_.getAs[String]("id")).toSeq === Seq("caic-g4"))
  }

  test("a products document with no forecasts gives an empty FeatureCollection") {
    val pj = """[{"type":"regionaldiscussion","id":"d1","publicName":"Snowpack"}]"""
    for (doc <- Seq(pj, "[]"))
      assert(CaicPipeline.toFeatureCollection(CaicPipeline.run(spark, areasJson, doc)) ===
        """{"type":"FeatureCollection","features":[]}""")
  }
}

/** Every node of an executed plan, looking inside adaptive plans. */
private object PlanNodes
    extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  def all(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = collect(p) { case n => n }
}
