package graft.caic

import java.util.{Collections, WeakHashMap}
import org.apache.spark.sql.{Column, DataFrame, DataFrameFactory, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import CaicModel._

/** The reference dataflow (task.ts:85-190) re-expressed as one declarative
  * composition of Column expressions. Every semantic trap from SURVEY.md
  * §7.4 is preserved and unit-tested in CaicPipelineSpec:
  *
  *  - last-wins dedup of duplicate area ids (Map.set, task.ts:97-100)
  *  - inner-join row drop on missing area (task.ts:140-141)
  *  - JS `indexOf → -1` worst-rating semantics: an unknown rating string
  *    WINS the min and styles resolve to null (task.ts:143-146, §7.4-1)
  *  - only days[0] is consulted (task.ts:144-146,157,163-165)
  *  - null/empty nested `days` drops the row (task.ts:137-138)
  *  - Multi-geometry explode: one feature per part, `-idx` id suffix,
  *    first `Multi` stripped from the type, properties shared across
  *    parts (task.ts:171-183)
  *
  * Scale shape: one invocation is one document pair of tens of areas. Both
  * documents are parsed in one row, and the whole dataflow after the parse
  * is one `features` column over the parsed arrays: the join is an in-row
  * lookup of the last area with a matching id (the reference's `Map.get`),
  * the filters are `filter`, the styling is `transform`, and the Multi
  * explode is `flatten` over each feature's parts. `run` is `inline` of
  * that column; `document` folds it further into the submitted JSON text
  * (`array_join` of one string per feature). With no generator left, the
  * optimizer's `ConvertToLocalRelation` evaluates `document`'s projection
  * on the driver, so an invocation launches zero Spark jobs and its
  * executed plan is a bare `LocalTableScanExec`. The plan is analyzed once
  * per session and conf (`prepared`); each invocation only swaps the input
  * row. CaicPipelineSpec pins the job count, the plan and the re-plan on a
  * conf change.
  */
object CaicPipeline {

  // Literal columns are built once: `typedLit` derives the type through
  // Scala runtime reflection on every call.
  private val severityLit = typedLit(severity)
  private val humanSeverityLit = typedLit(humanSeverity)
  private val fillsLit = typedLit(fills)
  private val noParts = array().cast(ArrayType(StringType))

  // ---------------------------------------------------------------- sources

  /** 0-based index of the LAST feature in `features` whose id is
    * null-safe equal to `key`, or null when none is. This is the
    * reference's `Map.set` (task.ts:97-100: a duplicate id keeps its final
    * occurrence) read in-row, with no shuffle or window; `areaFeatures`
    * and the forecast-to-area join both apply it. */
  def lastIndexOfId(features: Column, key: Column): Column =
    array_max(transform(features, (f, i) => when(f("id") <=> key, i)))

  /** Parse a FeatureCollection document (task.ts:95) into one row per
    * feature, keyed by stringified id, with last-wins dedup on duplicate
    * ids (task.ts:97-100). Features with a null id dedup among themselves
    * like any other id: the last one survives. */
  def areaFeatures(fcJson: DataFrame): DataFrame =
    fcJson
      .select(from_json(col("value"), featureCollectionType, jsonOpts)("features").as("fs"))
      .select(col("fs"), posexplode(col("fs")).as(Seq("pos", "f")))
      .filter(lastIndexOfId(col("fs"), col("f.id")) === col("pos"))
      .select(col("f.id").as("id"), col("f.properties").as("properties"),
        col("f.geometry").as("geometry"))

  /** One invocation's documents (task.ts:95,107) parsed in one row:
    * `areas`, the area feature array, and `products`, the product array.
    * PERMISSIVE mode reproduces the reference's union schema
    * (task.ts:45-52): records that aren't forecasts keep `type` and
    * null-pad the rest, surviving until the type filter. The parse is its
    * own select: the lookup lambda reads `areas` once per product, and a
    * `from_json` inlined there would re-parse the document each time. */
  private def parsed(spark: SparkSession, areasJson: String, productsJson: String): DataFrame = {
    import spark.implicits._
    Seq((areasJson, productsJson)).toDF("areas", "products")
      .select(
        from_json(col("areas"), featureCollectionType, jsonOpts)("features").as("areas"),
        from_json(col("products"), ArrayType(productType), jsonOpts).as("products"))
  }

  private val jsonOpts = Map("mode" -> "PERMISSIVE")

  // ------------------------------------------------------------- worst rating

  /** JS `Array.indexOf` over the severity scale (task.ts:144-146):
    * 0-based position, or -1 when the string is unknown. Spark's
    * `array_position` is 1-based and returns 0 on miss, so `- 1` lands
    * exactly on JS semantics including the §7.4-1 trap (unknown → -1,
    * which then WINS the min because -1 < every real index). */
  def jsIndexOf(c: Column): Column =
    (array_position(severityLit, c) - 1).cast("int")

  /** Worst-case rating index across the three elevation bands of day 0,
    * seeded with noRating (task.ts:143-146). Sequential `if <` chains are
    * order-independent here: equivalent to the 4-way min. A null/missing
    * band (PERMISSIVE null-padding) must behave like JS
    * `indexOf(undefined)` = -1 and WIN the min — but `least` skips nulls,
    * so the null jsIndexOf result is pinned to -1 explicitly. */
  def severityIndex(btl: Column, tln: Column, alp: Column): Column =
    least(lit(severity.indexOf("noRating")),
      coalesce(jsIndexOf(btl), lit(-1)),
      coalesce(jsIndexOf(tln), lit(-1)),
      coalesce(jsIndexOf(alp), lit(-1)))

  /** `severity[severityIndex]` — JS yields `undefined` for index -1, and
    * `humanSeverity[undefined]`/`fills[undefined]` are `undefined` too
    * (dropped JSON keys). Spark representation: null (§7.4-1 decision:
    * byte-faithful). */
  def severityKey(sevIdx: Column): Column =
    when(sevIdx >= 0, element_at(severityLit, sevIdx + 1))

  // ---------------------------------------------------------------- pipeline

  /** forecasts ⋈ areas → styled output features, pre-explode: one element
    * per kept forecast (task.ts:136-169), over the parsed arrays. */
  private def styled(areas: Column, products: Column): Column = {
    val forecasts = filter(products, p =>
      // type filter + union narrowing (task.ts:114)
      p("type") === "avalancheforecast" &&
        // null-safe empty/missing days drop (task.ts:137-138, §7.4-8)
        coalesce(size(p("avalancheSummary")("days")), lit(0)) > 0 &&
        coalesce(size(p("dangerRatings")("days")), lit(0)) > 0 &&
        // a null areaId never matches, as in an inner equi-join
        p("areaId").isNotNull)
    transform(forecasts, p => {
      val day0 = element_at(p("dangerRatings")("days"), 1)
      val sevKey = severityKey(severityIndex(day0("btl"), day0("tln"), day0("alp")))
      val summaryDays = p("avalancheSummary")("days")
      struct(
        concat(lit("caic-"), p("areaId")).as("id"), // task.ts:149
        lit("Feature").as("type"),
        struct(
          element_at(humanSeverityLit, sevKey).as("callsign"), // task.ts:152
          element_at(fillsLit, sevKey).as("fill"),             // task.ts:153
          lit(0.5).as("fill-opacity"),                         // task.ts:154
          element_at(fillsLit, sevKey).as("stroke"),           // task.ts:155
          lit(0.75).as("stroke-opacity"),                      // task.ts:156
          // conditional remarks with default (task.ts:157); the empty case
          // is unreachable post-filter but kept for fidelity
          when(size(summaryDays) > 0, element_at(summaryDays, 1)("content"))
            .otherwise("No Remarks").as("remarks"),
          struct(                                              // task.ts:158-166
            p("forecaster").as("forecaster"),
            p("issueDateTime").as("issueDateTime"),
            p("expiryDateTime").as("expiryDateTime"),
            p("isTranslated").as("isTranslated"),
            day0("alp").as("ratingAbove"),
            day0("tln").as("ratingNear"),
            day0("btl").as("ratingBelow")
          ).as("metadata")
        ).as("properties"),
        // in-row lookup join: the last area with this id (task.ts:140-141);
        // try_element_at, because a miss must read null, not raise under
        // ANSI. A miss has no geometry, so `explodeFeature` drops it.
        try_element_at(areas, lastIndexOfId(areas, p("areaId")) + 1)("geometry")
          .as("geometry"))
    })
  }

  /** Multi-geometry explode of one feature (task.ts:171-186, §2A-15/16):
    * a Multi geometry explodes over its parts, any other typed geometry
    * over the one-element array of itself. A null, non-object or untyped
    * geometry has no parts and drops out, like the reference's type test.
    * Geometry is an opaque JSON string; parts are pulled out by parsing
    * `$.coordinates` as `array<string>` — each element keeps its raw JSON
    * text, sidestepping the ragged-nesting problem (§7.4-2). A part gets
    * the `-idx` id suffix (task.ts:174) and the first `Multi` stripped from
    * its type (JS `replace('Multi','')` → regexp `^Multi`, task.ts:179);
    * properties are shared by every part (§7.4-3). Parts keep their order,
    * as the reference appends them (task.ts:173,185). */
  private def explodeFeature(f: Column): Column = {
    val geomType = get_json_object(f("geometry"), "$.type")
    val isMulti = geomType.startsWith("Multi") // task.ts:171
    val parts =
      when(isMulti,
        from_json(get_json_object(f("geometry"), "$.coordinates"), ArrayType(StringType)))
        .when(geomType.isNotNull, array(f("geometry")))
    // `flatten` returns null when any element is null, so a dropped
    // geometry must contribute an empty parts array, not null.
    transform(coalesce(parts, noParts), (part, idx) => struct(
      when(isMulti, concat(f("id"), lit("-"), idx)).otherwise(f("id")).as("id"),
      f("type").as("type"),
      f("properties").as("properties"),
      when(isMulti, concat(lit("{\"type\":\""),
        regexp_replace(geomType, "^Multi", ""),
        lit("\",\"coordinates\":"), part, lit("}")))
        .otherwise(part).as("geometry")))
  }

  /** Every output feature of one invocation, as an array of
    * `(id, type, properties, geometry)` structs over the parsed documents.
    * `styled` is materialized by its own `transform`, so each feature's
    * area lookup runs once however often `explodeFeature` reads it. */
  private def features(areas: Column, products: Column): Column =
    flatten(transform(styled(areas, products), f => explodeFeature(f)))

  private val featureRow = struct(col("id"), col("type"), col("properties"), col("geometry"))

  /** Multi-geometry explode of a frame of `(id, type, properties,
    * geometry)` rows; see `explodeFeature`. */
  def explodeMulti(features: DataFrame): DataFrame =
    features.select(inline(explodeFeature(featureRow)))

  /** Full pipeline: raw JSON documents → output features, one row each. */
  def run(spark: SparkSession, areasJson: String, productsJson: String): DataFrame =
    parsed(spark, areasJson, productsJson)
      .select(inline(features(col("areas"), col("products"))))

  // --------------------------------------------------------------- document

  /** One feature's JSON text. Everything EXCEPT geometry is serialized,
    * then the raw geometry JSON is appended before the closing brace — no
    * needle search, so free-text fields containing the literal
    * `"geometry":` can't misdirect the splice, and a null geometry
    * degrades to an explicit `null` member (JSON.stringify semantics)
    * instead of corrupting the document. */
  private def featureJson(f: Column): Column = {
    val head = to_json(struct(f("id").as("id"), f("type").as("type"),
      f("properties").as("properties")))
    concat(head.substr(lit(1), length(head) - 1), lit(",\"geometry\":"),
      coalesce(f("geometry"), lit("null")), lit("}"))
  }

  private val documentHead = """{"type":"FeatureCollection","features":["""
  private val documentTail = "]}"

  /** Assemble the output FeatureCollection (task.ts:109-112,189) of a
    * frame of features as a single JSON document, collected to the driver
    * like the reference sink. */
  def toFeatureCollection(features: DataFrame): String =
    features.select(featureJson(featureRow)).collect()
      .map(_.getString(0)).mkString(documentHead, ",", documentTail)

  /** Analyzed plan of one invocation's document, prepared per session and
    * conf snapshot: a conf change (ANSI, time zone, ...) changes how the
    * expressions resolve, so it prepares a new plan. */
  private final case class Prepared(conf: Map[String, String], plan: LogicalPlan)
  private val prepared = Collections.synchronizedMap(new WeakHashMap[SparkSession, Prepared]())

  private def prepare(spark: SparkSession): LogicalPlan = {
    val conf = spark.conf.getAll
    Option(prepared.get(spark)).filter(_.conf == conf).getOrElse {
      val fs = features(col("areas"), col("products"))
      // a products document that does not parse has null features; like
      // `run`'s zero rows, that is an empty feature list
      val doc = concat(lit(documentHead),
        coalesce(array_join(transform(fs, f => featureJson(f)), ","), lit("")), lit(documentTail))
      val p = Prepared(conf, parsed(spark, "", "").select(doc).queryExecution.analyzed)
      prepared.put(spark, p)
      p
    }.plan
  }

  /** One invocation's submitted document (task.ts:189): the prepared plan
    * with this document pair as its input row. The optimizer folds the
    * whole projection on the driver, so `collect` launches no job. */
  def document(spark: SparkSession, areasJson: String, productsJson: String): String = {
    val row = InternalRow(UTF8String.fromString(areasJson), UTF8String.fromString(productsJson))
    val plan = prepare(spark).transform { case r: LocalRelation => r.copy(data = Seq(row)) }
    DataFrameFactory.ofAnalyzed(spark, plan).collect().head.getString(0)
  }
}
