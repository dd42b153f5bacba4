package graft.caic

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import CaicModel._

/** The reference dataflow (task.ts:85-190) re-expressed as one declarative
  * DataFrame composition. Every semantic trap from SURVEY.md §7.4 is
  * preserved and unit-tested in CaicPipelineSpec:
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
  * Scale shape: one invocation is one document pair, so `run` parses both
  * documents in a single row and keeps the (tens of) areas as an array
  * beside every product row. The join is an in-row lookup of the last area
  * with a matching id — O(areas) per forecast, the `Map.get` of the
  * reference — and the Multi explode is a single `posexplode`. The plan is
  * one partition with no Exchange, no broadcast and no Window, so an
  * invocation costs exactly one Spark job (pinned in CaicPipelineSpec).
  */
object CaicPipeline {

  // ---------------------------------------------------------------- sources

  /** 0-based index of the LAST feature in `features` whose id is
    * null-safe equal to `key`, or null when none is. This is the
    * reference's `Map.set` (task.ts:97-100: a duplicate id keeps its final
    * occurrence) read in-row, with no shuffle or window; `areaFeatures`
    * and `run` both apply it. */
  def lastIndexOfId(features: Column, key: Column): Column =
    array_max(transform(features, (f, i) => when(f("id") <=> key, i)))

  /** Parse a FeatureCollection document (task.ts:95) into one row per
    * feature, keyed by stringified id, with last-wins dedup on duplicate
    * ids (task.ts:97-100). Features with a null id dedup among themselves
    * like any other id: the last one survives. */
  def areaFeatures(spark: SparkSession, fcJson: DataFrame): DataFrame =
    fcJson
      .select(from_json(col("value"), featureCollectionType, jsonOpts)("features").as("fs"))
      .select(col("fs"), posexplode(col("fs")).as(Seq("pos", "f")))
      .filter(lastIndexOfId(col("fs"), col("f.id")) === col("pos"))
      .select(col("f.id").as("id"), col("f.properties").as("properties"),
        col("f.geometry").as("geometry"))

  /** Parse one invocation's documents into one row per product (task.ts:95,
    * 107), each carrying the document's full `areas` feature array.
    * PERMISSIVE mode reproduces the reference's union schema
    * (task.ts:45-52): records that aren't forecasts keep `type` and
    * null-pad the rest, surviving until the type filter. The two
    * documents are parsed once, before the explode. */
  def products(spark: SparkSession, areasJson: String, productsJson: String): DataFrame = {
    import spark.implicits._
    Seq((areasJson, productsJson)).toDF("areas", "products")
      .select(
        from_json(col("areas"), featureCollectionType, jsonOpts)("features").as("areas"),
        from_json(col("products"), ArrayType(productType), jsonOpts).as("products"))
      .select(col("areas"), inline(col("products")))
  }

  private val jsonOpts = Map("mode" -> "PERMISSIVE")

  // ------------------------------------------------------------- worst rating

  /** JS `Array.indexOf` over the severity scale (task.ts:144-146):
    * 0-based position, or -1 when the string is unknown. Spark's
    * `array_position` is 1-based and returns 0 on miss, so `- 1` lands
    * exactly on JS semantics including the §7.4-1 trap (unknown → -1,
    * which then WINS the min because -1 < every real index). */
  def jsIndexOf(c: Column): Column =
    (array_position(typedLit(severity), c) - 1).cast("int")

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
    when(sevIdx >= 0, element_at(typedLit(severity), sevIdx + 1))

  // ---------------------------------------------------------------- pipeline

  /** forecasts(filtered) ⋈ areas → styled output features, pre-explode.
    * One output row per joined forecast (task.ts:136-169). `forecasts`
    * rows carry their document's `areas` array (see `products`). */
  def joined(forecasts: DataFrame): DataFrame = {
    val day0 = element_at(col("dangerRatings.days"), 1)
    val sevKey = severityKey(severityIndex(day0("btl"), day0("tln"), day0("alp")))
    forecasts
      // in-row lookup join: the last area with this id (task.ts:140);
      // try_element_at, because a miss must read null, not raise under ANSI
      .withColumn("area", try_element_at(col("areas"),
        lastIndexOfId(col("areas"), col("areaId")) + 1))
      // type filter + union narrowing (task.ts:114)
      .filter(col("type") === "avalancheforecast" &&
        // null-safe empty/missing days drop (task.ts:137-138, §7.4-8)
        coalesce(size(col("avalancheSummary.days")), lit(0)) > 0 &&
        coalesce(size(col("dangerRatings.days")), lit(0)) > 0 &&
        // missing key ⇒ drop (task.ts:141); a null areaId never matches,
        // as in an inner equi-join
        col("area").isNotNull && col("areaId").isNotNull)
      .select(
        concat(lit("caic-"), col("areaId")).as("id"), // task.ts:149
        lit("Feature").as("type"),
        struct(
          element_at(typedLit(humanSeverity), sevKey).as("callsign"), // task.ts:152
          element_at(typedLit(fills), sevKey).as("fill"),             // task.ts:153
          lit(0.5).as("fill-opacity"),                                // task.ts:154
          element_at(typedLit(fills), sevKey).as("stroke"),           // task.ts:155
          lit(0.75).as("stroke-opacity"),                             // task.ts:156
          // conditional remarks with default (task.ts:157); the empty case
          // is unreachable post-filter but kept for fidelity
          when(size(col("avalancheSummary.days")) > 0,
            element_at(col("avalancheSummary.days"), 1)("content"))
            .otherwise("No Remarks").as("remarks"),
          struct(                                                     // task.ts:158-166
            col("forecaster"),
            col("issueDateTime"),
            col("expiryDateTime"),
            col("isTranslated"),
            day0("alp").as("ratingAbove"),
            day0("tln").as("ratingNear"),
            day0("btl").as("ratingBelow")
          ).as("metadata")
        ).as("properties"),
        col("area.geometry").as("geometry"))
  }

  /** Multi-geometry explode (task.ts:171-186, §2A-15/16) as ONE
    * `posexplode`: a Multi geometry explodes over its parts, any other
    * typed geometry over the one-element array of itself. A null,
    * non-object or untyped geometry has no parts and drops out, like the
    * reference's type test. Geometry is an opaque JSON string; parts are
    * pulled out by parsing `$.coordinates` as `array<string>` — each
    * element keeps its raw JSON text, sidestepping the ragged-nesting
    * problem (§7.4-2). A part gets the `-idx` id suffix (task.ts:174) and
    * the first `Multi` stripped from its type (JS `replace('Multi','')` →
    * regexp `^Multi`, task.ts:179); properties are shared by every part
    * (§7.4-3). Output order follows the input, parts in order, as the
    * reference appends them (task.ts:173,185). */
  def explodeMulti(features: DataFrame): DataFrame = {
    val geomType = get_json_object(col("geometry"), "$.type")
    val parts =
      when(geomType.startsWith("Multi"), // task.ts:171
        from_json(get_json_object(col("geometry"), "$.coordinates"), ArrayType(StringType)))
        .when(geomType.isNotNull, array(col("geometry")))
    val isMulti = col("geom_type").startsWith("Multi")
    features
      .select(col("id"), col("type"), col("properties"), geomType.as("geom_type"),
        posexplode(parts).as(Seq("idx", "part")))
      .select(
        when(isMulti, concat(col("id"), lit("-"), col("idx"))).otherwise(col("id")).as("id"),
        col("type"),
        col("properties"),
        when(isMulti, concat(lit("{\"type\":\""),
          regexp_replace(col("geom_type"), "^Multi", ""),
          lit("\",\"coordinates\":"), col("part"), lit("}")))
          .otherwise(col("part")).as("geometry"))
  }

  /** Full pipeline: raw JSON documents → output features. */
  def run(spark: SparkSession, areasJson: String, productsJson: String): DataFrame =
    explodeMulti(joined(products(spark, areasJson, productsJson)))

  /** Assemble the output FeatureCollection (task.ts:109-112,189) as a
    * single JSON document. Driver-side collect is faithful to the
    * reference sink; the scaled path writes features line-delimited via
    * `df.write.json` instead. */
  def toFeatureCollection(features: DataFrame): String = {
    // Serialize everything EXCEPT geometry, then append the raw geometry
    // JSON before the closing brace — no needle search, so free-text
    // fields containing the literal `"geometry":` can't misdirect the
    // splice, and a null geometry degrades to an explicit `null` member
    // (JSON.stringify semantics) instead of corrupting the document.
    val rows = features
      .select(to_json(struct(
        col("id"), col("type"),
        col("properties"))).as("j"), col("geometry"))
      .collect()
      .map { r =>
        val j = r.getString(0)
        val g = if (r.isNullAt(1)) "null" else r.getString(1)
        j.dropRight(1) + ",\"geometry\":" + g + "}"
      }
    s"""{"type":"FeatureCollection","features":[${rows.mkString(",")}]}"""
  }
}
