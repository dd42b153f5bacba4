package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.caic.{CaicModel, CaicPipeline}

/** Property tests (SURVEY.md §5.3): generated inputs checked against an
  * independent driver-side model of the reference's JS semantics.
  * Sampling is seeded and batched into one DataFrame per property so the
  * whole spec stays fast while still covering the randomized space.
  */
class CaicPropertySpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val scale = CaicModel.severity // ordered worst→best, noRating last

  /** Known ratings, unknown strings (the §7.4-1 indexOf→-1 trap), and
    * NULL (a PERMISSIVE-null-padded missing band — JS indexOf(undefined)
    * is also -1, so the model's scale.indexOf(null) = -1 matches). */
  private val ratingGen: Gen[String] =
    Gen.frequency(
      (5, Gen.oneOf(scale)),
      (2, Gen.oneOf("bogus", "EXTREME", "", "mod", "no_rating")),
      (1, Gen.const(null: String)))

  private def sample[A](g: Gen[A], n: Int, seed: Long = 42L): List[A] =
    Gen.listOfN(n, g).apply(Gen.Parameters.default, Seed(seed)).get

  /** JS model: Array.indexOf (−1 on miss); worst = min over seed 5. */
  private def jsIdx(s: String): Int = scale.indexOf(s)
  private def modelWorst(btl: String, tln: String, alp: String): Int =
    Seq(scale.indexOf("noRating"), jsIdx(btl), jsIdx(tln), jsIdx(alp)).min

  test("severityIndex equals the JS min-ordinal model and is permutation-invariant") {
    import spark.implicits._
    val cases = sample(for {
      b <- ratingGen; t <- ratingGen; a <- ratingGen
    } yield (b, t, a), 400)
    val df = cases.toDF("btl", "tln", "alp").select(
      col("btl"), col("tln"), col("alp"),
      CaicPipeline.severityIndex(col("btl"), col("tln"), col("alp")).as("sev"),
      // a permutation of the band arguments must not change the result
      CaicPipeline.severityIndex(col("alp"), col("btl"), col("tln")).as("sev_perm"),
      CaicPipeline.severityKey(
        CaicPipeline.severityIndex(col("btl"), col("tln"), col("alp"))).as("key"))
    df.collect().foreach { r =>
      val (b, t, a) = (r.getString(0), r.getString(1), r.getString(2))
      val expected = modelWorst(b, t, a)
      assert(r.getInt(3) == expected, s"sev($b,$t,$a)")
      assert(r.getInt(4) == expected, s"perm($b,$t,$a)")
      val key = if (r.isNullAt(5)) null else r.getString(5)
      assert(key == (if (expected >= 0) scale(expected) else null), s"key($b,$t,$a)")
    }
  }

  private case class Geom(isMulti: Boolean, baseType: String, parts: List[String])

  private val partGen: Gen[String] = for {
    n <- Gen.choose(1, 4)
    xs <- Gen.listOfN(n, Gen.choose(-179, 179))
    ys <- Gen.listOfN(n, Gen.choose(-89, 89))
  } yield xs.zip(ys).map { case (x, y) => s"[[$x,$y],[${x + 1},$y],[$x,${y + 1}]]" }
    .mkString("[", ",", "]")

  private val geomGen: Gen[Geom] = for {
    isMulti <- Gen.oneOf(true, false)
    base <- Gen.oneOf("Polygon", "LineString")
    k <- if (isMulti) Gen.choose(1, 5) else Gen.const(1)
    parts <- Gen.listOfN(k, partGen)
  } yield Geom(isMulti, base, parts)

  test("explodeMulti: one row per part, -idx ids, Multi stripped, parts preserved; singles untouched") {
    import spark.implicits._
    val geoms = sample(geomGen, 120).zipWithIndex
    val rows = geoms.map { case (g, i) =>
      val gtype = (if (g.isMulti) "Multi" else "") + g.baseType
      val coords = if (g.isMulti) g.parts.mkString("[", ",", "]") else g.parts.head
      (s"caic-$i", "Feature", s"""{"type":"$gtype","coordinates":$coords}""")
    }
    val df = rows.toDF("id", "type", "geometry")
      .withColumn("properties", struct(lit("p").as("x")))
      .select(col("id"), col("type"), col("properties"), col("geometry"))
    val out = CaicPipeline.explodeMulti(df).collect()
      .map(r => r.getString(0) -> r.getString(3)).toMap

    geoms.foreach { case (g, i) =>
      if (g.isMulti) {
        g.parts.zipWithIndex.foreach { case (part, idx) =>
          val got = out.get(s"caic-$i-$idx")
          assert(got.isDefined, s"missing part $idx of multi $i")
          // type rewritten without Multi; coordinates = exactly this part
          assert(got.get == s"""{"type":"${g.baseType}","coordinates":$part}""")
        }
        assert(!out.contains(s"caic-$i"), s"unexploded multi $i leaked through")
      } else {
        assert(out(s"caic-$i") ==
          s"""{"type":"${g.baseType}","coordinates":${g.parts.head}}""")
      }
    }
    // row conservation: Σ parts(multi) + count(single)
    val expectedRows = geoms.map { case (g, _) => if (g.isMulti) g.parts.size else 1 }.sum
    assert(out.size == expectedRows)
  }

  // ------------------------------------------------ generated document pairs

  /** Area ids come from a small pool so duplicates are common; a numeric
    * id is written as a JSON number or as a string, which join alike. */
  private val idPool = Seq("7", "8", "a", "b")
  private val idGen: Gen[String] = Gen.frequency(
    (8, Gen.oneOf(idPool).flatMap(id =>
      if (id.forall(_.isDigit)) Gen.oneOf(id, "\"" + id + "\"") else Gen.const("\"" + id + "\""))),
    (1, Gen.const("null")))

  private val geometryGen: Gen[String] = Gen.frequency(
    (6, for {
      base <- Gen.oneOf("Polygon", "LineString")
      multi <- Gen.oneOf(true, false)
      k <- Gen.choose(1, 3)
      parts <- Gen.listOfN(k, partGen)
    } yield if (multi) s"""{"type":"Multi$base","coordinates":${parts.mkString("[", ",", "]")}}"""
      else s"""{"type":"$base","coordinates":${parts.head}}"""),
    (1, Gen.oneOf("null", "\"flat\"", """{"coordinates":[1,2]}""")))

  private val areaGen: Gen[String] = for {
    id <- idGen
    g <- geometryGen
    name <- Gen.oneOf("{}", """{"name":"zone"}""")
  } yield s"""{"type":"Feature","id":$id,"properties":$name,"geometry":$g}"""

  /** A day-0 band: a rating (known or not) or a missing key. */
  private def band(name: String): Gen[Option[String]] =
    ratingGen.map(r => Option(r).map(v => s""""$name":"$v""""))

  private val productGen: Gen[String] = Gen.frequency(
    (8, for {
      areaId <- Gen.frequency((6, Gen.oneOf(idPool).map("\"" + _ + "\"")),
        (1, Gen.const("\"orphan\"")), (1, Gen.const("null")))
      bands <- Gen.sequence[List[Option[String]], Option[String]](
        Seq(band("alp"), band("tln"), band("btl")))
      summaryDays <- Gen.oneOf("[]",
        """[{"date":"d","content":"quote \" and \"geometry\": inside"}]""",
        """[{"date":"d","content":"calm"},{"date":"e","content":"day2"}]""")
      ratingDays <- Gen.oneOf(true, true, true, false).map(nonEmpty =>
        if (nonEmpty) bands.flatten.mkString("[{", ",", "}]") else "[]")
      hasRatings <- Gen.frequency((9, true), (1, false))
    } yield s"""{"type":"avalancheforecast","id":"f","publicName":"P","polygons":[],
       |"areaId":$areaId,"forecaster":"x","issueDateTime":"t","expiryDateTime":"u",
       |"isTranslated":false,"weatherSummary":null,
       |"avalancheSummary":{"days":$summaryDays}""".stripMargin +
      (if (hasRatings) s""","dangerRatings":{"days":$ratingDays}}""" else "}")),
    (1, Gen.const("""{"type":"regionaldiscussion","id":"d","publicName":"Snowpack"}""")))

  private val documentPairGen: Gen[(String, String)] = for {
    n <- Gen.choose(0, 8)
    areas <- Gen.listOfN(n, areaGen)
    m <- Gen.choose(0, 8)
    products <- Gen.listOfN(m, productGen)
  } yield (areas.mkString("""{"type":"FeatureCollection","features":[""", ",", "]}"),
    products.mkString("[", ",", "]"))

  test("runOnce's document equals toFeatureCollection(run) as a multiset of features") {
    import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
    import graft.caic.{CaicJob, GraftConfig}
    val mapper = new ObjectMapper()
    def features(doc: String): Map[JsonNode, Int] = {
      val fs = mapper.readTree(doc).get("features")
      (0 until fs.size()).map(fs.get).groupBy(identity).map { case (k, v) => k -> v.size }
    }
    val config = GraftConfig(debug = false, "-", "-")
    var emitted, multiParts = 0
    // documents that do not parse as the schema expects come first
    val malformed = Seq(("not json", "[]"), ("{}", "{}"), ("""{"features":7}""", "not json"))
    (malformed ++ sample(documentPairGen, 120)).foreach { case (areas, products) =>
      val fetcher = new CaicJob.Fetcher {
        def fetch(url: String): String =
          if (url.contains("%2Fproducts%2Fall%2Farea")) areas else products
      }
      var submitted = ""
      val submitter = new CaicJob.Submitter { def submit(body: String): Unit = submitted = body }
      val doc = CaicJob.runOnce(spark, fetcher, submitter, config)
      assert(doc == submitted)
      val expected = CaicPipeline.toFeatureCollection(CaicPipeline.run(spark, areas, products))
      assert(features(doc) == features(expected), s"areas=$areas\nproducts=$products")
      val ids = features(doc).toSeq.flatMap { case (f, n) => Seq.fill(n)(f.get("id").asText()) }
      emitted += ids.size
      multiParts += ids.count(_.matches("caic-[^-]+-[0-9]+"))
    }
    // the generator must reach the emitting paths, Multi parts included,
    // not only the drops
    assert(emitted > 50, emitted)
    assert(multiParts > 10, multiParts)
  }

  test("document is thread-safe and keeps one prepared entry per session") {
    import java.util.concurrent.{Callable, CyclicBarrier, Executors, TimeUnit}
    import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode}
    // 8 threads, each on its own generated pairs, all started together:
    // every concurrent document equals the sequential one for its pair
    val threads = 8
    val pairs = (0 until threads).map(t => sample(documentPairGen, 25, seed = 1000L + t))
    val sequential = pairs.map(_.map { case (a, p) => CaicPipeline.document(spark, a, p) })
    val barrier = new CyclicBarrier(threads)
    val pool = Executors.newFixedThreadPool(threads)
    val concurrent = try {
      val futures = pairs.map(ps => pool.submit(new Callable[Seq[String]] {
        def call(): Seq[String] = {
          barrier.await()
          (1 to 4).flatMap(_ => ps.map { case (a, p) => CaicPipeline.document(spark, a, p) })
        }
      }))
      futures.map(_.get(120, TimeUnit.SECONDS))
    } finally pool.shutdownNow()
    pairs.indices.foreach { t =>
      concurrent(t).grouped(pairs(t).size).foreach(run =>
        run.zip(sequential(t)).zip(pairs(t)).foreach { case ((got, want), (a, p)) =>
          assert(got == want, s"thread $t: areas=$a\nproducts=$p")
        })
    }
    // two sessions of one context, ANSI on and off, called in turn: each
    // keeps its own prepared entry, never the other's, and never re-plans
    val ansi = spark.newSession()
    val legacy = spark.newSession()
    ansi.conf.set("spark.sql.ansi.enabled", "true")
    legacy.conf.set("spark.sql.ansi.enabled", "false")
    def modes(s: org.apache.spark.sql.SparkSession) = CaicPipeline.preparedExpressions(s)
      .flatMap(_.collect { case c: Cast => c.evalMode }).toSet
    val (sa, sl) = (CaicPipeline.preparedExpressions(ansi), CaicPipeline.preparedExpressions(legacy))
    val mixed = pairs.head
    val want = mixed.map { case (a, p) => CaicPipeline.document(spark, a, p) }
    mixed.zip(want).foreach { case ((a, p), w) =>
      for (s <- Seq(ansi, legacy)) assert(CaicPipeline.document(s, a, p) == w)
      assert(modes(ansi) === Set(EvalMode.ANSI))
      assert(modes(legacy) === Set(EvalMode.LEGACY))
      assert(CaicPipeline.preparedExpressions(ansi) eq sa)
      assert(CaicPipeline.preparedExpressions(legacy) eq sl)
    }
  }

  test("fingerprint is invariant under punctuation/whitespace/case noise") {
    import spark.implicits._
    val texts = sample(Gen.listOfN(6,
      Gen.oneOf("quick", "brown", "Fox", "jumps", "OVER", "dog")), 100)
      .map(_.mkString(" "))
    val noisy = texts.map(t => t.toUpperCase.replace(" ", " \t ") + "!!!")
    // fingerprintColumn is bound to col("text"); evaluate each variant
    def fps(ts: Seq[String]): Array[String] = ts.toDF("text")
      .select(graft.text.TextAnalysis.fingerprintColumn.as("fp"))
      .collect().map(_.getString(0))
    fps(texts).zip(fps(noisy)).foreach { case (x, y) => assert(x == y) }
  }
}
