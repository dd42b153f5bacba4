package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{DoubleType, IntegerType, StringType, StructField, StructType}
import graft.Tables._

/** Second tranche of the relational surface (SURVEY.md §2B rows not yet
  * exercised by Relational/TimeSeries): outer joins, the full window-rank
  * family with a RANGE frame, collect_list/set, math scalar functions,
  * array/map/JSON construction functions, exact percentiles, json+csv
  * source roundtrips, a typed Aggregator UDAF, pivot and unpivot.
  * Same oracle conventions as Relational (see its Scaladoc).
  */
object Advanced {

  /** FULL OUTER join of two pre-aggregated sides. Both inputs are filtered
    * so each side has nations the other lacks — the null-producing paths
    * are really exercised. Aggregating BEFORE the join keeps the join
    * inputs tiny (25 rows) — the shape that matters at scale. */
  def q38FullOuter(spark: SparkSession, dir: String): DataFrame = {
    val c = customer(spark, dir).filter(col("c_nationkey") < 20)
      .groupBy(col("c_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_cust"))
    val s = supplier(spark, dir).filter(col("s_suppkey") < 50)
      .groupBy(col("s_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_supp"))
    c.join(s, Seq("nationkey"), "full_outer")
      .select(col("nationkey"),
        coalesce(col("n_cust"), lit(0L)).as("n_cust"),
        coalesce(col("n_supp"), lit(0L)).as("n_supp"))
      .orderBy(col("nationkey"))
  }

  val q38Sql: String =
    "SELECT coalesce(c.nationkey, s.nationkey) AS nationkey, " +
      "coalesce(n_cust, 0) AS n_cust, coalesce(n_supp, 0) AS n_supp FROM " +
      "(SELECT c_nationkey AS nationkey, count(*) AS n_cust FROM customer WHERE c_nationkey < 20 GROUP BY 1) c " +
      "FULL OUTER JOIN " +
      "(SELECT s_nationkey AS nationkey, count(*) AS n_supp FROM supplier WHERE s_suppkey < 50 GROUP BY 1) s " +
      "USING (nationkey) ORDER BY nationkey"

  /** RIGHT OUTER: the mirror of q38's shape — the unfiltered supplier
    * side survives whole, customers filtered to nationkey < 20 null-pad
    * the missing nations. Pre-aggregated sides keep the join tiny. */
  def q74RightOuter(spark: SparkSession, dir: String): DataFrame = {
    val c = customer(spark, dir).filter(col("c_nationkey") < 20)
      .groupBy(col("c_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_cust"))
    val s = supplier(spark, dir)
      .groupBy(col("s_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_supp"))
    c.join(s, Seq("nationkey"), "right_outer")
      .select(col("nationkey"),
        coalesce(col("n_cust"), lit(0L)).as("n_cust"), col("n_supp"))
      .orderBy(col("nationkey"))
  }

  val q74Sql: String =
    "SELECT s.nationkey AS nationkey, coalesce(n_cust, 0) AS n_cust, n_supp FROM " +
      "(SELECT c_nationkey AS nationkey, count(*) AS n_cust FROM customer WHERE c_nationkey < 20 GROUP BY 1) c " +
      "RIGHT OUTER JOIN " +
      "(SELECT s_nationkey AS nationkey, count(*) AS n_supp FROM supplier GROUP BY 1) s " +
      "USING (nationkey) ORDER BY nationkey"

  /** The full window-function family over one shuffle on o_custkey:
    * rank/dense_rank (ties allowed), percent_rank, ntile (fully-ordered
    * window so tile assignment is deterministic), first/last over an
    * unbounded ROWS frame, and a 30-day trailing sum via a RANGE frame
    * over a day-number ordering column. */
  def q39WindowRanks(spark: SparkSession, dir: String): DataFrame = {
    val wTies = Window.partitionBy(col("o_custkey")).orderBy(col("o_totalprice").desc)
    val wDet = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val wAll = wDet.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val dayNum = datediff(col("o_orderdate"), lit("1990-01-01").cast("date"))
    val wRange = Window.partitionBy(col("o_custkey")).orderBy(dayNum)
      .rangeBetween(-30, 0)
    orders(spark, dir).select(
      col("o_custkey"), col("o_orderkey"),
      rank().over(wTies).cast("long").as("rnk"),
      dense_rank().over(wTies).cast("long").as("drnk"),
      // exact rationals (rank/n): bit-identical unrounded in both engines;
      // rounding would only add decimal-tie risk (PERF.md policy)
      percent_rank().over(wTies).as("pr"),
      cume_dist().over(wTies).as("cd"),
      ntile(4).over(wDet).cast("long").as("quartile"),
      lead(col("o_orderkey"), 1).over(wDet).as("next_orderkey"),
      first(col("o_orderkey")).over(wAll).as("top_orderkey"),
      last(col("o_orderkey")).over(wAll).as("bottom_orderkey"),
      nth_value(col("o_orderkey"), 2).over(wAll).as("second_orderkey"),
      round(sum(col("o_totalprice")).over(wRange), 2).as("spend_30d"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  val q39Sql: String =
    "SELECT o_custkey, o_orderkey, " +
      "rank() OVER wt AS rnk, dense_rank() OVER wt AS drnk, " +
      "percent_rank() OVER wt AS pr, " +
      "cume_dist() OVER wt AS cd, " +
      "CAST(ntile(4) OVER wd AS BIGINT) AS quartile, " +
      "lead(o_orderkey, 1) OVER wd AS next_orderkey, " +
      "first_value(o_orderkey) OVER wa AS top_orderkey, " +
      "last_value(o_orderkey) OVER wa AS bottom_orderkey, " +
      "nth_value(o_orderkey, 2) OVER wa AS second_orderkey, " +
      "round(sum(o_totalprice) OVER wr, 2) AS spend_30d " +
      "FROM orders WINDOW " +
      "wt AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC), " +
      "wd AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey), " +
      "wa AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), " +
      "wr AS (PARTITION BY o_custkey ORDER BY date_diff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE)) " +
      "RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) " +
      "ORDER BY o_custkey, o_orderkey"

  /** collect_list / collect_set: grouped array construction, sorted for
    * determinism (collection order is partition-dependent by design).
    * Driver-facing columns are JSON-serialized: the driver's pandas
    * harness cannot hash nested array cells, and Spark's and DuckDB's
    * JSON renderings of string/long lists agree byte-for-byte. */
  def q40Collect(spark: SparkSession, dir: String): DataFrame =
    customer(spark, dir)
      .groupBy(col("c_nationkey"))
      .agg(
        to_json(sort_array(collect_set(col("c_mktsegment")))).as("segments"),
        to_json(sort_array(collect_list(round(col("c_acctbal"), 0).cast("long")))).as("balances"),
        count(lit(1)).as("n"))
      .orderBy(col("c_nationkey"))

  val q40Sql: String =
    "SELECT c_nationkey, CAST(to_json(list_sort(list_distinct(list(c_mktsegment)))) AS VARCHAR) AS segments, " +
      "CAST(to_json(list_sort(list(CAST(round(c_acctbal, 0) AS BIGINT)))) AS VARCHAR) AS balances, count(*) AS n " +
      "FROM customer GROUP BY c_nationkey ORDER BY c_nationkey"

  /** Math scalar functions — all codegen'd builtins. Transcendentals are
    * rounded to 6 decimals: Java Math and libm may differ in the last ulp,
    * which is exactly the class of difference the rounding policy
    * (SURVEY.md §7.4.10) absorbs. */
  def q41MathFuncs(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir).select(
      col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
      round(abs(col("l_discount") - 0.05), 6).as("abs_c"),
      ceil(col("l_extendedprice")).cast("double").as("ceil_p"),
      floor(col("l_extendedprice")).cast("double").as("floor_p"),
      round(sqrt(col("l_quantity")), 6).as("sqrt_q"),
      round(exp(col("l_discount")), 6).as("exp_d"),
      round(log(col("l_extendedprice")), 6).as("ln_p"),
      round(pow(col("l_quantity"), 2), 6).as("q_sq"),
      pmod(col("l_orderkey"), lit(97L)).as("mod_k"),
      // DuckDB sign() returns TINYINT while signum is DOUBLE — align on
      // BIGINT per the Relational.scala integer-width convention
      signum(col("l_discount") - 0.05).cast("long").as("sign_d"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  val q41Sql: String =
    "SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, " +
      "round(abs(l_discount - 0.05), 6) AS abs_c, " +
      "ceil(l_extendedprice) AS ceil_p, floor(l_extendedprice) AS floor_p, " +
      "round(sqrt(l_quantity), 6) AS sqrt_q, round(exp(l_discount), 6) AS exp_d, " +
      "round(ln(l_extendedprice), 6) AS ln_p, round(pow(l_quantity, 2), 6) AS q_sq, " +
      "l_orderkey % 97 AS mod_k, CAST(sign(l_discount - 0.05) AS BIGINT) AS sign_d " +
      "FROM lineitem ORDER BY l_orderkey, l_linenumber"

  /** Array / map / JSON construction functions (§2B scalar-fns row):
    * split, transform, filter, sort_array, slice, array_position,
    * array_contains, map_from_arrays + element_at, to_json(struct). */
  def q42ArrayMap(spark: SparkSession, dir: String): DataFrame = {
    val words = split(col("p_name"), " ")
    // Array-valued results ride to the driver as JSON strings (pandas
    // harness can't hash ndarray cells); the lambdas still run on arrays.
    part(spark, dir).select(
      col("p_partkey"),
      to_json(words).as("words"),
      to_json(transform(words, w => upper(w))).as("words_u"),
      to_json(filter(words, w => length(w) > 4)).as("long_words"),
      to_json(slice(sort_array(words), 1, 2)).as("first2_sorted"),
      array_position(words, "of").as("pos_of"),
      array_contains(words, "red").as("has_red"),
      element_at(
        map_from_arrays(array(lit("brand"), lit("type")), array(col("p_brand"), col("p_type"))),
        "brand").as("brand_val"),
      to_json(struct(col("p_brand").as("b"))).as("js"))
      .orderBy(col("p_partkey"))
  }

  val q42Sql: String =
    "WITH t AS (SELECT p_partkey, p_brand, p_type, string_split(p_name, ' ') AS ws FROM part) " +
      "SELECT p_partkey, CAST(to_json(ws) AS VARCHAR) AS words, " +
      "CAST(to_json(list_transform(ws, w -> upper(w))) AS VARCHAR) AS words_u, " +
      "CAST(to_json(list_filter(ws, w -> length(w) > 4)) AS VARCHAR) AS long_words, " +
      "CAST(to_json(list_sort(ws)[1:2]) AS VARCHAR) AS first2_sorted, " +
      "CAST(coalesce(list_position(ws, 'of'), 0) AS BIGINT) AS pos_of, " +
      "list_contains(ws, 'red') AS has_red, " +
      // DuckDB map extraction yields a 1-element list; [1] unwraps it
      "map(['brand','type'], [p_brand, p_type])['brand'][1] AS brand_val, " +
      "CAST(to_json(struct_pack(b := p_brand)) AS VARCHAR) AS js " +
      "FROM t ORDER BY p_partkey"

  /** Exact percentiles + median per group. Both engines define continuous
    * quantiles by the same linear interpolation; results are rounded to 4
    * decimals to absorb last-ulp interpolation differences. The array form
    * (one sort, three quantiles) is computed once, then unpacked into
    * scalar columns so the driver harness can hash them. */
  def q43Percentiles(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        percentile(col("l_quantity"), typedLit(Seq(0.25, 0.5, 0.75))).as("qq"),
        round(median(col("l_extendedprice")), 4).as("median_price"),
        count(lit(1)).as("n"))
      .select(col("l_returnflag"),
        round(element_at(col("qq"), 1), 4).as("qty_p25"),
        round(element_at(col("qq"), 2), 4).as("qty_p50"),
        round(element_at(col("qq"), 3), 4).as("qty_p75"),
        col("median_price"), col("n"))
      .orderBy(col("l_returnflag"))

  val q43Sql: String =
    "SELECT l_returnflag, " +
      "round(quantile_cont(l_quantity, 0.25), 4) AS qty_p25, " +
      "round(quantile_cont(l_quantity, 0.50), 4) AS qty_p50, " +
      "round(quantile_cont(l_quantity, 0.75), 4) AS qty_p75, " +
      "round(median(l_extendedprice), 4) AS median_price, count(*) AS n " +
      "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"

  /** Approximate percentiles via the GK/KLL-style sketch behind
    * `percentile_approx` — the path users actually run at 100 TB, where
    * q43's exact per-group sort is the bottleneck: the sketch is a
    * bounded-size partial aggregate (map-side combine, one small shuffle)
    * instead of a full sort of every group. Sketch-specific results ⇒ no
    * SQL oracle (driver records rows-only); ApproxPercentileSpec bounds
    * the rank error against exact q43. Scalar output columns per the
    * driver-harness contract. */
  def q61ApproxPercentiles(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        percentile_approx(col("l_quantity"), typedLit(Seq(0.25, 0.5, 0.75)),
          lit(10000)).as("qq"),
        count(lit(1)).as("n"))
      .select(col("l_returnflag"),
        element_at(col("qq"), 1).as("qty_p25"),
        element_at(col("qq"), 2).as("qty_p50"),
        element_at(col("qq"), 3).as("qty_p75"),
        col("n"))
      .orderBy(col("l_returnflag"))

  /** Mergeable-sketch distinct-count rollup via DataSketches HLL: one
    * sketch of user_id per day, then ONE union-merge for the corpus
    * total — the pattern that makes distinct counts composable at
    * 100 TB. `approx_count_distinct` (q10b) answers one fixed question
    * per pass; a STORED sketch column answers every future rollup
    * (weekly, monthly, all-time, any day subset) by merging kilobyte
    * sketches instead of re-scanning the fact table. The total row here
    * is computed from the DAILY sketches, never from raw events —
    * exactly the reuse a sketch store buys. lgK=12 ⇒ ~1.6% relative
    * error, 4 KB per sketch. Sketch-specific bytes ⇒ no SQL oracle
    * (rows-only driver check); SketchSpec bounds daily AND merged
    * estimates against exact countDistinct (all three SFs) and pins the
    * merge law a sketch store actually needs: any rollup assembled by
    * merging stored sketches answers within the sketch's error bound of
    * exact. (Exact merge-equality is NOT a property of this sketch:
    * merged estimates vary ~1% with grouping and merge order — coupon→
    * dense promotion points, HIP vs composite estimator — measured and
    * documented in SketchSpec; Bloom/CMS/bitmap merges by contrast are
    * cell-wise exact.) */
  def q91HllRollup(spark: SparkSession, dir: String): DataFrame = {
    val daily = events(spark, dir)
      .groupBy(date_trunc("day", col("ts")).cast("timestamp_ntz").as("day"))
      .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"),
        count(lit(1)).as("n_events"))
    val perDay = daily.select(col("day"),
      hll_sketch_estimate(col("sk")).as("approx_users"), col("n_events"))
    // union in strict mode (the boolean is allow-heterogeneous-lgK):
    // every daily sketch was built at lgK=12, so a mismatch is a bug
    // worth failing on, not coercing
    val total = daily.agg(
      hll_sketch_estimate(hll_union_agg(col("sk"), lit(false))).as("approx_users"),
      sum(col("n_events")).as("n_events"))
      .select(lit(null).cast("timestamp_ntz").as("day"),
        col("approx_users"), col("n_events"))
    perDay.unionByName(total).orderBy(col("day").asc_nulls_last)
  }

  /** json + csv + orc + xml + DSv2-writer SOURCE roundtrip (§2B
    * scans/sources row): write nation out through two text formats, one
    * columnar format, XML, and the graft-jsondoc V2 writer (two-phase
    * commit — r12), read each back (explicit schema-on-read for the text
    * ones; ORC carries its own schema; the V2 leg exercises schema
    * INFERENCE on its own output), join the five reads. Result must
    * equal the parquet original — which is exactly what the oracle
    * checks. */
  /** Scratch path is per-JVM (graft.RunTag) so concurrent Verify runs at
    * different scale factors can never interleave write/read on a shared
    * layout — see RunTag's Scaladoc. */
  private[graft] def q44Base: String = graft.RunTag.scratch("roundtrip")

  def q44SourceRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val base = q44Base
    val n = nation(spark, dir)
    n.write.mode("overwrite").json(s"$base/nation_json")
    n.write.mode("overwrite").option("header", "true").csv(s"$base/nation_csv")
    n.write.mode("overwrite").orc(s"$base/nation_orc")
    // XML is a first-class datasource in Spark 4 (the spark-xml donation)
    n.write.mode("overwrite").option("rowTag", "nation")
      .format("xml").save(s"$base/nation_xml")
    // the graft-jsondoc DSv2 writer: task-temp + driver-commit rename
    n.write.mode("overwrite").format("graft-jsondoc")
      .option("path", s"$base/nation_v2").save()
    // Avro leg (r17): container files over avro-core — the runtime has
    // no spark-avro DataSource, see [[graft.sources.AvroRoundtrip]]
    graft.sources.AvroRoundtrip.write(n, s"$base/nation_avro")
    val schema = StructType(Seq(
      StructField("n_nationkey", IntegerType),
      StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType)))
    val fromJson = spark.read.schema(schema).json(s"$base/nation_json")
      .select(col("n_nationkey"), col("n_name"))
    val fromCsv = spark.read.schema(schema).option("header", "true").csv(s"$base/nation_csv")
      .select(col("n_nationkey"), col("n_regionkey"))
    // ORC and XML legs carry the key back out — the join proves all
    // four formats agree row-for-row on it
    val fromOrc = spark.read.orc(s"$base/nation_orc")
      .select(col("n_nationkey"))
    val fromXml = spark.read.schema(schema).option("rowTag", "nation")
      .format("xml").load(s"$base/nation_xml")
      .select(col("n_nationkey"))
    // no .schema(): inference on the writer's own output (long tokens →
    // LongType; cast back to the join key's int)
    val fromV2 = spark.read.format("graft-jsondoc")
      .option("path", s"$base/nation_v2").load()
      .select(col("n_nationkey").cast(IntegerType).as("n_nationkey"))
    val fromAvro = graft.sources.AvroRoundtrip
      .read(spark, s"$base/nation_avro", schema)
      .select(col("n_nationkey"))
    fromJson.join(fromCsv, Seq("n_nationkey"))
      .join(fromOrc, Seq("n_nationkey"))
      .join(fromXml, Seq("n_nationkey"))
      .join(fromV2, Seq("n_nationkey"))
      .join(fromAvro, Seq("n_nationkey"))
      .orderBy(col("n_nationkey"))
  }

  val q44Sql: String =
    "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey"

  /** Typed Aggregator UDAF (graft.functions.GeoMean): geometric mean of
    * extended price per return flag. */
  def q45GeoMean(spark: SparkSession, dir: String): DataFrame = {
    val geomean = udaf(graft.functions.GeoMean)
    lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(round(geomean(col("l_extendedprice")), 4).as("geomean_price"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))
  }

  val q45Sql: String =
    "SELECT l_returnflag, round(exp(avg(ln(l_extendedprice))), 4) AS geomean_price, " +
      "count(*) AS n FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"

  /** PIVOT: one row per return flag, one column per line status. Explicit
    * value list so the plan is a single pass (no distinct-values pre-query)
    * — the form that scales. */
  def q46Pivot(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(round(sum(col("l_quantity")), 2))
      .na.fill(0.0, Seq("F", "O"))
      .orderBy(col("l_returnflag"))

  val q46Sql: String =
    "SELECT l_returnflag, " +
      "coalesce(round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2), 0) AS F, " +
      "coalesce(round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2), 0) AS O " +
      "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"

  /** UNPIVOT (wide → long): two measure columns melted into (metric, val)
    * rows — the inverse of q46, via the native unpivot operator (Expand,
    * no shuffle). */
  def q47Unpivot(spark: SparkSession, dir: String): DataFrame =
    part(spark, dir)
      .select(col("p_partkey"),
        col("p_size").cast("double").as("size"),
        col("p_retailprice").as("retail"))
      .unpivot(Array(col("p_partkey")), Array(col("size"), col("retail")), "metric", "val")
      .orderBy(col("p_partkey"), col("metric"))

  val q47Sql: String =
    "SELECT p_partkey, metric, val FROM (" +
      "SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS val FROM part " +
      "UNION ALL SELECT p_partkey, 'retail' AS metric, p_retailprice AS val FROM part) " +
      "ORDER BY p_partkey, metric"

  /** q105: grouped bivariate statistics — Pearson correlation and sample
    * covariance of (quantity, extendedprice) per return flag, the
    * feature-screening pass (is this column pair redundant?) and the
    * last §2B aggregate family not yet on the board (corr/covar).
    * One partial-aggregated shuffle of co-moment state (Spark merges
    * per-partition co-moments; DuckDB accumulates serially — same
    * algebraic value, last-ulp differences absorbed by the 6-decimal
    * round, the q54/q102 float policy). */
  def q105CorrProfile(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qty_price"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 6).as("covar_qty_price"),
        round(corr(col("l_quantity"), col("l_discount")), 6).as("corr_qty_disc"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))

  val q105Sql: String =
    "SELECT l_returnflag, " +
      "round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price, " +
      "round(covar_samp(l_quantity, l_extendedprice), 6) AS covar_qty_price, " +
      "round(corr(l_quantity, l_discount), 6) AS corr_qty_disc, " +
      "count(*) AS n " +
      "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"

  /** q108: EXACT distinct counts via bitmap blocks — the
    * roaring-bitmap pattern (public: every bitmap-index engine), and
    * the exact mergeable complement of the HLL rollup (q91): key k
    * sets bit k%64 of block k/64, bit_or merges, bit_count sums. Two
    * aggregations, the first shuffling at most |keyspace|/64 tiny rows
    * per group — for dense integer keys this beats count(DISTINCT)'s
    * per-key dedup shuffle AND stays mergeable across partitions/days
    * (union + bit_or, like the Bloom block table q94 — but exact).
    * The oracle is plain COUNT(DISTINCT): bit-level representation is
    * an implementation detail the result can't leak. */
  def q108BitmapDistinct(spark: SparkSession, dir: String): DataFrame =
    orders(spark, dir)
      .select(col("o_orderstatus"),
        (col("o_custkey") / 64).cast("long").as("block"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(o_custkey % 64 AS INT))").as("mask"))
      .groupBy(col("o_orderstatus"), col("block"))
      .agg(bit_or(col("mask")).as("bits"))
      .groupBy(col("o_orderstatus"))
      .agg(sum(bit_count(col("bits"))).cast("long").as("n_customers"))
      .orderBy(col("o_orderstatus"))

  val q108Sql: String =
    "SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_customers " +
      "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"

  /** q109: DETERMINISTIC mode — the most frequent integer value bucket
    * per event type. Built-in `mode()` returns an arbitrary element on
    * ties in both engines (cross-engine hash-compare poison), so the
    * mode is computed explicitly: bucket counts + a rank-1 window with
    * a total tie-break (count desc, bucket asc). Buckets use floor()
    * (exact on identical doubles), NOT round(value, 1): the synthetic
    * values carry 2 decimals, so 1-decimal rounding hits x.x5
    * half-ties systematically — the q85 divergence class. Plan: one
    * partial-agg shuffle to |types|·|buckets| rows, then a tiny
    * window. */
  def q109ModeProfile(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("cnt").desc, col("bucket").asc)
    events(spark, dir)
      .groupBy(col("event_type"), floor(col("value")).cast("long").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1).drop("rn")
      .orderBy(col("event_type"))
  }

  val q109Sql: String =
    "SELECT event_type, bucket, cnt FROM (" +
      "SELECT event_type, CAST(floor(value) AS BIGINT) AS bucket, count(*) AS cnt, " +
      "ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY count(*) DESC, CAST(floor(value) AS BIGINT) ASC) AS rn " +
      "FROM events GROUP BY 1, 2) WHERE rn = 1 ORDER BY event_type"

  private val PrIters = 5

  /** q119: PageRank over the customer → supplier purchase graph (edge =
    * "customer bought from supplier", distinct pairs via orders ⋈
    * lineitem; suppliers offset by 1e6 into a shared node id space) —
    * the canonical iterative-dataflow operator (Page et al. 1999) and
    * the graph-centrality complement of the dedup components (q65/q78
    * propagate labels; this propagates MASS). Suppliers are pure sinks,
    * so the implementation carries the standard dangling-mass
    * redistribution: each round r' = 0.15/N + 0.85·(Σ_in r/outdeg +
    * dangling/N), which conserves total mass 1 exactly.
    *
    * Scale shape: edges build with one distinct shuffle and stay
    * cached; each of the 5 fixed rounds costs one groupBy(dst) shuffle
    * of the EDGE contributions (bounded by |edges|), a 1-row dangling
    * aggregate broadcast back, and a left join onto the cached node
    * set — the classic Spark PageRank plan. Each round's rank frame is
    * cached: the next round reads it twice (contributions + dangling),
    * and without the cut the recompute tree doubles per round. Five
    * rounds keeps lineage shallow (no truncation needed, cf. the q65
    * loop). Determinism: per-round round(·, 9) absorbs cross-engine
    * summation order before drift can compound, final 6-decimal policy
    * round; decimal literals are written so both engines parse the
    * IDENTICAL double (0.15, never 1 − 0.85, which is 0.15000000000000002
    * in binary — the q85 divergence class); the oracle unrolls the same
    * 5 rounds as chained CTEs. */
  def q119PageRank(spark: SparkSession, dir: String): DataFrame = {
    val edges = graft.Caches.register(
      orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
        .join(lineitem(spark, dir).select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"), (col("l_suppkey") + 1000000L).as("dst"))
        .distinct().cache())
    val nodes = graft.Caches.register(
      edges.select(col("src").as("node"))
        .union(edges.select(col("dst").as("node"))).distinct().cache())
    val n = nodes.count()
    val outDeg = graft.Caches.register(
      edges.groupBy(col("src")).agg(count(lit(1)).as("deg")).cache())
    // LOOP-INVARIANT hoists (r13): the out-degree join onto edges and
    // the dangling-node set are both static, so pre-join/pre-compute
    // them ONCE instead of once per round — two fewer joins per
    // iteration, and the dangling aggregate becomes a BROADCAST
    // semi-join (no |nodes| shuffle: suppliers are the sinks and the
    // dangling set is dimension-sized). The arithmetic is untouched
    // (still sum(r/deg), not r * (1/deg) — reciprocal multiplication
    // diverges from division in binary and would break the oracle hash)
    val edgesW = graft.Caches.register(
      edges.join(outDeg, Seq("src")).select(col("src"), col("dst"), col("deg")).cache())
    val danglingNodes = graft.Caches.register(
      nodes.join(outDeg, nodes("node") === outDeg("src"), "left_anti").cache())
    var rank = nodes.select(col("node"), lit(1.0 / n).as("r"))
    for (_ <- 1 to PrIters) {
      // DANGLING-MASS FUSION: TRIED AND REVERTED (r19, the verdict's
      // q119 item). Routing the dangling rows through the contribution
      // shuffle under a sentinel dst key regressed both measures:
      // Catalyst pushes the sentinel split-filters through the
      // aggregate (dst is a grouping key), the two exchanges stop
      // being identical and ReuseExchange cannot dedupe them — jobs
      // 57→63, task-s min 78→98 (the contribution join ran twice per
      // round); pinning one computation with a per-round cache still
      // measured jobs 62 / task-s min 95 vs the baseline's 57 / 78.
      // At this SF q119 is stage-overhead-bound (16k nodes across 32
      // partitions), so the fused plan's extra stage costs more than
      // the rank scan it saves. The separate semi-join + 1-row
      // aggregate below stays the measured optimum.
      val dangling = rank.join(broadcast(danglingNodes), Seq("node"), "left_semi")
        .agg(coalesce(sum(col("r")), lit(0.0)).as("dm"))
      val contrib = edgesW
        .join(rank, edgesW("src") === rank("node"))
        .groupBy(col("dst")).agg(sum(col("r") / col("deg")).as("c"))
      val next = nodes
        .join(contrib, nodes("node") === contrib("dst"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("node"),
          round(lit(0.15 / n) +
            lit(0.85) * (coalesce(col("c"), lit(0.0)) + col("dm") / n), 9).as("r"))
      // the lazy checkpoint stops recompute (both next-round readers —
      // dangling + contributions — read its persisted rows) AND keeps
      // the plan flat: without the cut each round's tree embeds the
      // previous round twice and the physical plan grows ~3x per round
      // (measured: 910 exchanges in the round-5 plan string). The
      // previous cache + checkpoint pair double-stored every round.
      rank = graft.dedup.Dedup.truncateLineage(next)
    }
    rank.select(col("node"), round(col("r"), 6).as("pagerank"))
      .orderBy(col("node"))
  }

  val q119Sql: String = {
    val base =
      "WITH e AS (SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst " +
        "FROM orders JOIN lineitem ON o_orderkey = l_orderkey), " +
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e), " +
        "nn AS (SELECT count(*) AS n FROM nodes), " +
        "od AS (SELECT src, count(*) AS deg FROM e GROUP BY src), " +
        "r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / nn.n AS r FROM nodes, nn), "
    val rounds = (1 to PrIters).map { i =>
      val p = s"r${i - 1}"
      s"d$i AS (SELECT CAST(coalesce(sum(r), 0) AS DOUBLE) AS dm " +
        s"FROM $p LEFT JOIN od ON node = src WHERE deg IS NULL), " +
        s"c$i AS (SELECT dst, sum(r / deg) AS c FROM e JOIN $p ON src = node " +
        "JOIN od USING (src) GROUP BY dst), " +
        s"r$i AS (SELECT node, round(CAST(0.15 AS DOUBLE) / nn.n + " +
        s"CAST(0.85 AS DOUBLE) * (coalesce(c, CAST(0 AS DOUBLE)) + dm / nn.n), 9) AS r " +
        s"FROM nodes CROSS JOIN nn CROSS JOIN d$i LEFT JOIN c$i ON node = dst)"
    }.mkString(", ")
    base + rounds +
      s" SELECT node, round(r, 6) AS pagerank FROM r$PrIters ORDER BY node"
  }

  /** q124: chi-square independence test of the source × lang contingency
    * table, plus Cramér's V effect size — the corpus-QA statistical test
    * ("is language independent of crawl source?") that completes the
    * statistics family beside q105 (correlation), q106 (trend), q121
    * (divergence): those measure association of VALUES, this tests
    * association of CATEGORIES. χ² = Σ (O − E)²/E over cells with
    * E = row·col/N; V = sqrt(χ²/(N·min(r−1, c−1))).
    *
    * Plan: one partial-agged shuffle to the |sources|·|langs| cell
    * table (cached — read by both marginals and the cell pass); row and
    * column marginals and the 1-row total are broadcast back; the
    * result is a single row. Cell terms are exact-integer-derived
    * doubles summed once, round-6 (q105 policy); V is derived FROM the
    * rounded χ² with the identical expression chain in both engines. */
  def q124ChiSquare(spark: SparkSession, dir: String): DataFrame = {
    val cells = graft.Caches.register(documents(spark, dir)
      .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("o"))
      .cache())
    val rt = cells.groupBy(col("source")).agg(sum(col("o")).as("rt"))
    val ct = cells.groupBy(col("lang")).agg(sum(col("o")).as("ct"))
    val tot = cells.agg(sum(col("o")).as("n"),
      countDistinct(col("source")).as("r"), countDistinct(col("lang")).as("c"))
    val e = (col("rt") * col("ct")).cast("double") / col("n")
    val d = col("o").cast("double") - e
    val chi2 = round(sum(d * d / e), 6)
    cells
      .join(broadcast(rt), "source").join(broadcast(ct), "lang")
      .crossJoin(broadcast(tot))
      .groupBy(col("n"), col("r"), col("c"))
      .agg(chi2.as("chi2"))
      .select(col("chi2"),
        ((col("r") - 1) * (col("c") - 1)).as("dof"), col("n"),
        round(sqrt(col("chi2") /
          (col("n") * least(col("r") - 1, col("c") - 1)).cast("double")), 6)
          .as("cramers_v"))
  }

  val q124Sql: String =
    "WITH cells AS (SELECT source, lang, count(*) AS o FROM documents GROUP BY 1, 2), " +
      "rt AS (SELECT source, CAST(sum(o) AS BIGINT) AS rt FROM cells GROUP BY 1), " +
      "ct AS (SELECT lang, CAST(sum(o) AS BIGINT) AS ct FROM cells GROUP BY 1), " +
      "tot AS (SELECT CAST(sum(o) AS BIGINT) AS n, count(DISTINCT source) AS r, " +
      "count(DISTINCT lang) AS c FROM cells), " +
      "agg AS (SELECT n, r, c, round(sum((CAST(o AS DOUBLE) - CAST(rt * ct AS DOUBLE) / n) * " +
      "(CAST(o AS DOUBLE) - CAST(rt * ct AS DOUBLE) / n) / (CAST(rt * ct AS DOUBLE) / n)), 6) AS chi2 " +
      "FROM cells JOIN rt USING (source) JOIN ct USING (lang) CROSS JOIN tot GROUP BY n, r, c) " +
      "SELECT chi2, (r - 1) * (c - 1) AS dof, n, " +
      "round(sqrt(chi2 / CAST(n * least(r - 1, c - 1) AS DOUBLE)), 6) AS cramers_v FROM agg"

  /** q127: mergeable PERCENTILE-sketch rollup (DataSketches KLL, k=200 ⇒
    * ~1.65% normalized rank error) — the quantile member of the sketch-
    * store family: q91 rolls up DISTINCTS (HLL), q99 COUNTS (CMS), q94
    * MEMBERSHIP (Bloom), q108 exact bitmaps; this rolls up quantiles.
    * Per-day KLL sketches are the stored artifact; any ad-hoc date-range
    * percentile then comes from MERGING the stored sketches — never from
    * re-scanning raw data, which is what a sketch store buys at 100 TB.
    * Output: per-day n/p50/p90/p99 plus the whole-range rollup row
    * (day = NULL) computed by merging the daily sketches.
    *
    * Implementation: typed `groupByKey(day).mapGroups` builds ONE sketch
    * per day partition-locally (each group's iterator streams through a
    * single heap sketch — no per-row serialize/deserialize, which is the
    * trap a naive Aggregator-with-binary-buffer hits); the merge pass
    * re-heapifies the ~|days| byte arrays and merges them. One shuffle
    * on day, one on the merge key. No SQL oracle: KLL compaction makes
    * coin-flip decisions, so quantile ESTIMATES are not reproducible
    * run-to-run — the driver records rows-only, and SketchSpec bounds
    * every estimate's true rank against the exact distribution and pins
    * the exact laws that DO hold (N is tracked exactly and merges
    * preserve it; estimates are always observed values). */
  def q127KllRollup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.datasketches.kll.KllDoublesSketch
    import org.apache.datasketches.memory.Memory
    val K = 200
    val daily = graft.Caches.register(events(spark, dir)
      .select(date_trunc("day", col("ts")).cast("timestamp_ntz").as("day"), col("value"))
      .as[(java.time.LocalDateTime, Double)]
      .groupByKey(_._1)
      .mapGroups { (day, it) =>
        val sk = KllDoublesSketch.newHeapInstance(K)
        it.foreach(x => sk.update(x._2))
        (day, sk.toByteArray)
      }.cache())
    def quants(b: Array[Byte]): (Long, Double, Double, Double) = {
      val sk = KllDoublesSketch.heapify(Memory.wrap(b))
      (sk.getN, sk.getQuantile(0.5), sk.getQuantile(0.9), sk.getQuantile(0.99))
    }
    val perDay = daily.map { case (d, b) =>
      val (n, p50, p90, p99) = quants(b); (Option(d), n, p50, p90, p99)
    }
    val merged = daily.groupByKey(_ => 0).mapGroups { (_, it) =>
      val acc = KllDoublesSketch.newHeapInstance(K)
      it.foreach { case (_, b) => acc.merge(KllDoublesSketch.heapify(Memory.wrap(b))) }
      val n = acc.getN
      (Option.empty[java.time.LocalDateTime], n,
        acc.getQuantile(0.5), acc.getQuantile(0.9), acc.getQuantile(0.99))
    }
    perDay.union(merged)
      .toDF("day", "n", "p50", "p90", "p99")
      .orderBy(col("day").asc_nulls_last)
  }

  /** Orders with more than this many distinct parts are excluded from the
    * q129 co-purchase graph. Per-order pair generation is quadratic in
    * basket size, so one degenerate mega-basket (a crawler cart, a bulk
    * import) would dominate the edge build; capping is standard in
    * market-basket mining and the SQL oracle mirrors the constant, so
    * both engines agree BY CONSTRUCTION even where the cap engages. At
    * the tested SFs baskets are <= 7 items, so the filter is identity.
    * Interpolated into q129Sql/q151Sql and read by ScaleSmoke's lift
    * recomputation, so an edit cannot desynchronize the oracles (the
    * q145 shared-constant lesson). */
  private[graft] val BasketCap = 20L

  /** q129: triangle counting + global clustering coefficient over the
    * part co-purchase graph (edge = two parts appearing in the same
    * order) — the graph-ANALYTICS member beside q119 (PageRank
    * propagates mass) and q65/q78 (components propagate labels):
    * triangles measure local cohesion, and transitivity = 3·triangles /
    * wedges is the standard corpus-graph QA statistic.
    *
    * The count uses the degree-ordered orientation (Schank 2007; Suri &
    * Vassilvitskii WWW'11): every edge is directed from its (deg, id)-
    * smaller endpoint to the larger, each triangle survives as exactly
    * one ordered pattern u→v, u→w, v→w, and — the scale property —
    * every node's out-degree is O(√m). Hub nodes (a part in every
    * order) stop being quadratic generators because their edges all
    * point INTO them.
    *
    * Counting strategy (r12): the EDGE-ITERATOR form — each node's
    * sorted out-adjacency array, then per oriented edge (u→v) a native
    * codegen'd merge walk counts |N⁺(u) ∩ N⁺(v)| (`sorted_intersect_
    * count`), and the triangle total is one map-side-partial sum. The
    * r11 wedge+closing-join form ([[q129TrianglesWedge]]) computes the
    * identical integers but SHUFFLES every wedge through the closing
    * join — 41 M rows / 6.3 s of the row's 8.8 at sf0.1 (PERF.md r11
    * profile); here the same Σ deg⁺(u)+deg⁺(v) element-steps run as
    * in-memory array walks and the only new shuffle is the |E|-row
    * adjacency groupBy. PlanQualitySpec pins the two plans equal
    * scalar-for-scalar.
    *
    * Scale shape: the edge build is one self-join co-partitioned on
    * o_orderkey with per-order fan-out bounded by BasketCap, then one
    * distinct shuffle on (u, v); degrees are one partial-agged shuffle;
    * adjacency is one |E|-row shuffle into O(√m)-bounded arrays; the
    * per-edge walks are map-side; the three result scalars are 1-row
    * broadcast attaches. All counts are exact integers, so the oracle
    * matches bit-for-bit (wedges uses shiftright(d·(d−1), 1) ≡ //2 —
    * d·(d−1) is always even — because both engines' `/` on integers
    * would widen to non-integer types). */
  def q129Triangles(spark: SparkSession, dir: String): DataFrame = {
    val (edges, deg, oriented) = trianglesGraph(spark, dir)
    graft.functions.IntersectFunctions.register(spark)
    // Oriented out-adjacency, sorted: one |E|-row shuffle producing |V|
    // rows whose arrays the orientation bounds at O(√m) — the SAME
    // bound that caps the wedge fan-out, now capping an array length.
    val adj = oriented.groupBy(col("src"))
      .agg(sort_array(collect_list(col("dst"))).as("nbrs"))
    // Per oriented edge (u→v): |N⁺(u) ∩ N⁺(v)| triangles close over it,
    // each triangle exactly once (w ∈ both ⇒ u→w, v→w; any other edge
    // of that triangle fails the membership test — the edge-iterator
    // identity of the same Schank 2007 orientation). The second join is
    // inner: a dst with no out-neighbors intersects nothing.
    val tri = oriented.select(col("src"), col("dst"))
      .join(adj.select(col("src"), col("nbrs").as("na")), Seq("src"))
      .join(adj.select(col("src").as("dst"), col("nbrs").as("nb")), Seq("dst"))
      .agg(coalesce(sum(graft.functions.IntersectFunctions
        .sortedIntersectCount(col("na"), col("nb"))), lit(0L)).as("n_triangles"))
    trianglesResult(edges, deg, tri)
  }

  /** The r11 wedge+closing-join triangle plan, kept VERBATIM as the
    * spec-pinned reference for [[q129Triangles]] (the
    * hilbertValueFold / shinglesHofReference pattern): same graph
    * build, wedge self-join on src, closing join on (v, w) — exact by
    * the same orientation argument, but the closing join shuffles every
    * wedge (41 M rows at sf0.1, 6.3 s of the row's 8.8 — PERF.md r11
    * profile), where the adjacency plan shuffles |E| rows once and
    * walks arrays map-side. PlanQualitySpec pins scalar-for-scalar
    * equality of the two plans; the optional Bloom wedge prefilter
    * (spark.graft.triangleCloseBloom) lives here with its original
    * semantics. */
  def q129TrianglesWedge(spark: SparkSession, dir: String): DataFrame = {
    val (edges, deg, oriented) = trianglesGraph(spark, dir)
    val wedges = oriented.select(col("src"), col("dst").as("v"), col("dd").as("ddv"))
      .join(oriented.select(col("src"), col("dst").as("w"), col("dd").as("ddw")), Seq("src"))
      .filter(col("ddv") < col("ddw") || (col("ddv") === col("ddw") && col("v") < col("w")))
    // OPTIONAL wedge prefilter before the closing join, behind
    // spark.graft.triangleCloseBloom (default off — the replayableHashes
    // conf-seam pattern): a driver-built dense Bloom bitset over the
    // oriented edge set, probed map-side per wedge. Measured at local[32]
    // sf0.1 (PERF.md "r11: q129 closing-join bloom prefilter"): cuts 94% of the 41 M
    // wedge rows before the shuffle but is NET-NEUTRAL on wall there —
    // 2x xxhash64 per wedge ≈ the local shuffle it saves — so it stays
    // OFF for the board; on a real cluster the closing join's shuffle is
    // network-bound and the same 94% cut is the win, so a deployment
    // flips the conf, not code. Correctness is mode-independent: the
    // bitset is built EXACTLY over the closing join's build side, and a
    // Bloom filter has no false negatives, so false positives are merely
    // re-checked by the join itself (PlanQualitySpec pins count identity
    // both ways). Driver memory is bounded: 2^24 bits = 2 MB, collected
    // as <= 256 Ki (block, bits) rows and shipped as one plan literal.
    val wedgesIn =
      if (!spark.conf.get("spark.graft.triangleCloseBloom", "false").toBoolean) wedges
      else {
        val mBits = 1L << 24
        val kHashes = 2
        val rows = oriented.select(xxhash64(col("src"), col("dst")).as("h"))
          .withColumn("_i", explode(sequence(lit(0), lit(kHashes - 1))))
          .withColumn("_pos", pmod(xxhash64(col("_i"), col("h")), lit(mBits)))
          .groupBy((col("_pos") / 64).cast("long").as("block"))
          .agg(bit_or(expr("shiftleft(CAST(1 AS BIGINT), CAST(_pos % 64 AS INT))")).as("bits"))
          .collect()
        val dense = new Array[Long]((mBits / 64).toInt)
        rows.foreach(r => dense(r.getLong(0).toInt) = r.getLong(1))
        val bloomLit = typedLit(dense.toSeq)
        val wh = xxhash64(col("v"), col("w"))
        val hit = (0 until kHashes).map { i =>
          val pos = pmod(xxhash64(lit(i), wh), lit(mBits))
          call_function("shiftright",
            element_at(bloomLit, (pos / 64).cast("int") + 1),
            pmod(pos, lit(64)).cast("int")).bitwiseAND(lit(1L)) =!= 0
        }.reduce(_ && _)
        wedges.filter(hit)
      }
    val tri = wedgesIn
      .join(oriented.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"))
      .agg(count(lit(1)).as("n_triangles"))
    trianglesResult(edges, deg, tri)
  }

  /** Shared q129 graph build: capped co-purchase edge set, degrees, and
    * the degree-ordered orientation — all cached, identical for the
    * adjacency and wedge plans so the spec's equality pin compares only
    * the COUNTING strategy. */
  private def trianglesGraph(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    // the r18 basket-array front (see cappedBaskets): one exchange on
    // ok replaces distinct + count-filter + semi-join, pairs walk the
    // arrays map-side into the distinct edge shuffle
    val edges = graft.Caches.register(
      basketPairs(cappedBaskets(spark, dir))
        .select(col("u"), col("v")).distinct().cache())
    val deg = graft.Caches.register(
      edges.select(col("u").as("node")).union(edges.select(col("v").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("d")).cache())
    val before = col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v"))
    val oriented = graft.Caches.register(edges
      .join(deg.select(col("node").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("d").as("dv")), "v")
      .select(
        when(before, col("u")).otherwise(col("v")).as("src"),
        when(before, col("v")).otherwise(col("u")).as("dst"),
        when(before, col("dv")).otherwise(col("du")).as("dd")).cache())
    (edges, deg, oriented)
  }

  /** Shared q129 finale: attach the three 1-row scalars. */
  private def trianglesResult(edges: DataFrame, deg: DataFrame,
      tri: DataFrame): DataFrame = {
    val ne = edges.agg(count(lit(1)).as("n_edges"))
    val nw = deg.agg(sum(shiftright(col("d") * (col("d") - 1), 1)).as("n_wedges"))
    ne.crossJoin(broadcast(nw)).crossJoin(broadcast(tri))
      .select(col("n_edges"), col("n_wedges"), col("n_triangles"),
        round(lit(3.0) * col("n_triangles") / col("n_wedges"), 6).as("transitivity"))
  }

  val q129Sql: String =
    "WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem), " +
      s"small AS (SELECT ok FROM items GROUP BY ok HAVING count(*) <= $BasketCap), " +
      "it AS (SELECT items.ok, items.pk FROM items JOIN small USING (ok)), " +
      "e AS (SELECT DISTINCT a.pk AS u, b.pk AS v FROM it a JOIN it b ON a.ok = b.ok AND a.pk < b.pk), " +
      "deg AS (SELECT node, count(*) AS d FROM " +
      "(SELECT u AS node FROM e UNION ALL SELECT v FROM e) GROUP BY 1), " +
      "o AS (SELECT CASE WHEN before THEN u ELSE v END AS src, " +
      "CASE WHEN before THEN v ELSE u END AS dst, " +
      "CASE WHEN before THEN dv ELSE du END AS dd FROM " +
      "(SELECT u, v, d1.d AS du, d2.d AS dv, " +
      "(d1.d < d2.d OR (d1.d = d2.d AND u < v)) AS before " +
      "FROM e JOIN deg d1 ON e.u = d1.node JOIN deg d2 ON e.v = d2.node)), " +
      "w AS (SELECT e1.src, e1.dst AS v, e2.dst AS w FROM o e1 JOIN o e2 ON e1.src = e2.src " +
      "WHERE e1.dd < e2.dd OR (e1.dd = e2.dd AND e1.dst < e2.dst)), " +
      "tri AS (SELECT count(*) AS n_triangles FROM w JOIN o ON w.v = o.src AND w.w = o.dst), " +
      "ne AS (SELECT count(*) AS n_edges FROM e), " +
      "nw AS (SELECT CAST(sum((d * (d - 1)) // 2) AS BIGINT) AS n_wedges FROM deg) " +
      "SELECT n_edges, n_wedges, n_triangles, " +
      "round(CAST(3.0 AS DOUBLE) * n_triangles / n_wedges, 6) AS transitivity " +
      "FROM ne CROSS JOIN nw CROSS JOIN tri"

  /** k-core threshold for q182: the core is the maximal subgraph of
    * minimum degree >= KCoreK. Shared with the oracle generator (the
    * BasketCap lesson: one constant, interpolated into both dialects). */
  private[graft] val KCoreK = 5

  /** q182 edge budget: the graph keeps the top `KCoreEdgeFactor * |V|`
    * co-purchase edges by (support DESC, u, v). The raw co-purchase
    * graph's density is the wrong shape for coreness at every SF — near-
    * complete at sf0.001 (every part is in someone's 5-core trivially)
    * while a fixed min-support threshold empties it at sf0.1 (repeat
    * pairs thin as the part space grows). A RANK-based cap pins average
    * degree at 2·KCoreEdgeFactor by construction at every SF, so the
    * peeling loop does real multi-round work at all tested scales
    * (measured: 2/9/3 shrink rounds at sf0.001/0.01/0.1, final cores
    * 120/1017/8127 nodes). */
  private[graft] val KCoreEdgeFactor = 4L

  /** Peel-round insurance cap, shared Spark-loop/oracle (both compute
    * "the alive set after at most KCorePeelRounds peels", which equals
    * the true k-core whenever the loop converges first — measured max 9
    * shrink rounds at the tested SFs, so 24 is insurance, and the two
    * engines agree BY CONSTRUCTION even if a scale ever exhausts it). */
  private[graft] val KCorePeelRounds = 24

  /** q182: k-core decomposition (k = [[KCoreK]]) of the support-ranked
    * part co-purchase graph — the graph-STRUCTURE member beside q119
    * (PageRank propagates mass), q129 (triangles measure local cohesion)
    * and q65/q78 (components propagate labels): the k-core is the
    * standard density backbone used to prune low-signal nodes before
    * expensive graph analytics, and coreness is the classic
    * "influential spreader" statistic (Seidman 1983; Batagelj-Zaversnik
    * 2003 peeling).
    *
    * Peeling is the textbook fixpoint: drop every node whose degree in
    * the SURVIVING subgraph is < k, recompute, repeat. Each round is one
    * pair of left-semi joins (edges whose endpoints both survive — at
    * scale these become broadcast semis once the alive set shrinks) and
    * one partial-agged degree shuffle over |E| rows; the driver
    * coordinates only the loop/fixpoint test (one count per round, the
    * q65 min-label precedent) with [[graft.dedup.Dedup.truncateLineage]]
    * cutting the per-round logical-plan growth.
    *
    * The edge build ranks pairs by (support DESC, u, v) and keeps the
    * top `KCoreEdgeFactor·|V|` — computed WITHOUT a global row_number
    * (a single-partition sort at 100 TB): one support-histogram
    * aggregation (|distinct support values| rows — a bounded driver
    * read) locates the boundary support s*, everything above s* is kept
    * wholesale, and only the s*-stratum contributes its (budget−above)
    * smallest (u, v) pairs via orderBy+limit — a distributed top-K, not
    * a single-partition window (the stratum can be nearly the whole
    * pair table when the boundary support is 1, the common case at
    * every tested SF). The oracle states the same selection as the
    * plain global row_number, so the hash proves the threshold+stratum
    * decomposition equals the naive rank. Output: (node, core_deg) for
    * every surviving node, core_deg its degree INSIDE the core. */
  /** Capped co-purchase baskets as SORTED part ARRAYS — the shared
    * front of the basket family (q129/q151/q182), r18 optimization.
    * One exchange on the basket key does what the previous
    * distinct → count-filter → semi-join chain did in three (the
    * per-basket set IS the distinct, its size IS the basket count),
    * and pair generation becomes a map-side array walk instead of a
    * co-partitioned self-join. The memory shape is strictly better
    * than the adjacency arrays q129 already holds (a basket's set is
    * LINEAR in order size and die-cast by [[BasketCap]] right after
    * the aggregate; the old path materialized the same baskets as
    * quadratic PAIR fan-out instead). */
  private[graft] def cappedBaskets(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .groupBy(col("ok")).agg(sort_array(collect_set(col("pk"))).as("parts"))
      .filter(size(col("parts")) <= BasketCap.toInt)

  /** Unordered in-basket pairs (u < v) from the sorted `parts` arrays —
    * map-side, no self-join; u < v holds by the array sort. */
  private[graft] def basketPairs(baskets: DataFrame): DataFrame =
    baskets.filter(size(col("parts")) >= 2)
      .select(explode(expr(
        "flatten(transform(sequence(0, size(parts) - 2), i -> " +
          "transform(slice(parts, i + 2, size(parts) - (i + 1)), x -> " +
          "struct(parts[i] AS u, x AS v))))")).as("p"))
      .select(col("p.u").as("u"), col("p.v").as("v"))

  def q182KCore(spark: SparkSession, dir: String): DataFrame = {
    // cached: scanned by the pair build and the budget count — without
    // it each scan re-runs the lineitem basket aggregate
    val baskets = graft.Caches.register(cappedBaskets(spark, dir).cache())
    val ps = graft.Caches.register(basketPairs(baskets)
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("sup")).cache())
    val budget = KCoreEdgeFactor *
      baskets.select(explode(col("parts")).as("pk"))
        .agg(countDistinct(col("pk"))).head.getLong(0)
    // Support histogram, highest first — one partial-agged shuffle to
    // |distinct sup| rows (supports are small integers bounded by the
    // basket-collision count, so this is a bounded driver read).
    val hist = ps.groupBy(col("sup")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("sup").desc).collect()
    var cum = 0L; var sStar = -1L; var nAbove = 0L
    hist.foreach { r =>
      if (sStar < 0) {
        if (cum + r.getLong(1) >= budget) { sStar = r.getLong(0); nAbove = cum }
        else cum += r.getLong(1)
      }
    }
    val edges = graft.Caches.register((
      if (sStar < 0) ps.select(col("u"), col("v")) // budget >= |pairs|: keep all
      else {
        val above = ps.filter(col("sup") > sStar).select(col("u"), col("v"))
        // the (budget − nAbove) smallest (u, v) pairs of the boundary
        // stratum — same set as a row_number ≤ K over the stratum, but
        // orderBy+limit plans as TakeOrdered (per-partition top-K, then
        // a K-row merge) instead of a SINGLE-PARTITION window sort: at
        // sf0.1 the sup=1 stratum is 99.7% of the pair table, so the
        // window funnels ~1.2 M rows through one task (measured 2–3×
        // the TakeOrdered wall; at 100 TB it would be the whole job)
        val k = budget - nAbove
        // limit() takes an Int — and so would the row_number this
        // replaced (Spark's row_number is IntegerType), so >2^31 kept
        // boundary pairs were never computable by either form. Refuse
        // loudly instead of wrapping negative: at that scale the right
        // move is a finer support histogram (fractional-support tie
        // keys), not a 2-billion-row ranked tie-break.
        require(k <= Int.MaxValue,
          s"k-core boundary tie-break of $k pairs exceeds Int range; " +
            "refine the edge-budget tie key before ranking")
        val boundary = ps.filter(col("sup") === sStar)
          .orderBy(col("u"), col("v")).limit(k.toInt)
          .select(col("u"), col("v"))
        above.unionByName(boundary)
      }).transform { df =>
        // coalesce can only SHRINK — right when the table is tiny (the
        // test-SF case: 32-way -> 1, no shuffle). To GROW past the
        // inherited shuffle width (the 100 TB case) a real repartition
        // is required; one extra shuffle of `budget` rows buys every
        // peel round its parallelism.
        val p = edgeParts(budget)
        val cur = spark.sessionState.conf.numShufflePartitions
        if (p <= cur) df.coalesce(p) else df.repartition(p)
      }.cache())
    kCore(edges, KCoreK, KCorePeelRounds)
  }

  /** Partition count for the cached k-core edge table: its exact size
    * (`budget` rows of two longs) is known at the driver, so size the
    * cache to ~2 M rows/partition instead of inheriting the upstream
    * shuffle width — the peel fixpoint re-scans it every round, and at
    * test SFs a 32-way scan of an 80 K-row table is 32 tasks of
    * scheduling overhead per round for no parallelism. At 100 TB
    * (|V|=1e9 → budget=4e9) this yields ~2000 partitions — real
    * parallelism where there is real data. Capped so a misestimated
    * budget can never plan a million tasks. */
  private[graft] def edgeParts(budget: Long): Int =
    math.max(1L, math.min(4096L, budget / 2000000L + 1L)).toInt

  /** Batagelj-Zaversnik peeling over an undirected (u, v) edge table:
    * (node, core_deg) rows of the k-core (or of the alive set after
    * `maxRounds` peels if the fixpoint is further — callers pair the cap
    * with an oracle stating the identical bounded iteration). The edge
    * input MUST be cached by the caller (every round and the final
    * degree pass re-scan it). */
  private[graft] def kCore(edges: DataFrame, k: Int, maxRounds: Int): DataFrame = {
    def coreDegrees(alive: DataFrame): DataFrame = {
      val sub = edges
        .join(alive.select(col("node").as("u")), Seq("u"), "left_semi")
        .join(alive.select(col("node").as("v")), Seq("v"), "left_semi")
      sub.select(col("u").as("node")).unionByName(sub.select(col("v").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("d"))
    }
    val deg0 = edges.select(col("u").as("node")).unionByName(edges.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))
    var alive = graft.Caches.register(
      deg0.filter(col("d") >= k).select(col("node")).cache())
    var n = alive.count()
    var converged = false
    var r = 0
    // the converged round's degree frame IS the answer: when next ==
    // alive the subgraph is stable, so deg's >= k rows carry the final
    // core degrees — returning them saves one full extra degree pass
    var lastDeg: DataFrame = null
    while (!converged && r < maxRounds) {
      val deg = graft.Caches.register(coreDegrees(alive).cache())
      // next persists through its checkpoint alone (r18) — the extra
      // cache was a second store of the same rows
      val next = graft.dedup.Dedup.truncateLineage(
        deg.filter(col("d") >= k).select(col("node")))
      val m = next.count()
      converged = m == n // next ⊆ alive, so equal counts ⇒ equal sets
      // r19 (advice item): `next` is already a lazy localCheckpoint the
      // count just materialized — re-truncating it layered a SECOND
      // checkpoint that re-persisted a duplicate copy of the surviving
      // node set every non-final round. The superseded round's store is
      // fully consumed (coreDegrees read it into the cached deg) and
      // retires now.
      graft.dedup.Dedup.retireCheckpoint(alive)
      alive = next
      lastDeg = deg
      n = m
      r += 1
    }
    val out =
      if (converged && lastDeg != null) lastDeg.filter(col("d") >= k)
      else coreDegrees(alive) // maxRounds exhausted: degrees of the cap set
    out.select(col("node"), col("d").as("core_deg")).orderBy(col("node"))
  }

  val q182Sql: String = {
    val peel = (1 to KCorePeelRounds).map { i =>
      val p = s"a${i - 1}"
      s"a$i AS MATERIALIZED (SELECT node FROM (SELECT node, count(*) AS d FROM (" +
        s"SELECT e.u AS node FROM e JOIN $p x ON e.u = x.node JOIN $p y ON e.v = y.node " +
        s"UNION ALL SELECT e.v AS node FROM e JOIN $p x ON e.u = x.node JOIN $p y ON e.v = y.node" +
        s") GROUP BY 1) WHERE d >= $KCoreK)"
    }.mkString(", ")
    val aN = s"a$KCorePeelRounds"
    // MATERIALIZED is load-bearing: DuckDB inlines multiply-referenced
    // CTEs by default, and each peel round references its predecessor
    // four times — inlined, round 24 would expand 4^24 scans.
    "WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem), " +
      s"small AS (SELECT ok FROM items GROUP BY ok HAVING count(*) <= $BasketCap), " +
      "it AS MATERIALIZED (SELECT items.ok, items.pk FROM items JOIN small USING (ok)), " +
      "nv AS (SELECT count(DISTINCT pk) AS n FROM it), " +
      "ps AS (SELECT a.pk AS u, b.pk AS v, count(*) AS sup FROM it a JOIN it b ON a.ok = b.ok AND a.pk < b.pk GROUP BY 1, 2), " +
      "e AS MATERIALIZED (SELECT u, v FROM (SELECT u, v, row_number() OVER (ORDER BY sup DESC, u, v) AS rk FROM ps) CROSS JOIN nv " +
      s"WHERE rk <= $KCoreEdgeFactor * n), " +
      "deg AS (SELECT node, count(*) AS d FROM (SELECT u AS node FROM e UNION ALL SELECT v FROM e) GROUP BY 1), " +
      s"a0 AS MATERIALIZED (SELECT node FROM deg WHERE d >= $KCoreK), " +
      peel + " " +
      "SELECT node, count(*) AS core_deg FROM (" +
      s"SELECT e.u AS node FROM e JOIN $aN x ON e.u = x.node JOIN $aN y ON e.v = y.node " +
      s"UNION ALL SELECT e.v AS node FROM e JOIN $aN x ON e.u = x.node JOIN $aN y ON e.v = y.node" +
      ") GROUP BY 1 ORDER BY 1"
  }

  /** q151: association rules over order baskets (Agrawal-Srikant
    * a-priori, the pair tier) — support, confidence and lift for every
    * co-purchased part pair with support >= [[AssocMinSup]]. The
    * data-MINING reading of the same co-purchase structure q129 reads
    * as a graph: q129 asks "how clustered is the network", this asks
    * "which item implies which" (the recommender/market-basket
    * primitive). Emits both rule directions per qualifying pair (u→v
    * and v→u have the same support/lift but different confidence).
    *
    * Scale shape: the pair build is the q129 edge build — one
    * self-join co-partitioned on the basket key with per-basket
    * fan-out bounded by [[BasketCap]] (hub baskets cannot go
    * quadratic, cap oracle-mirrored) — then pair support is one
    * partial-agged shuffle, per-item supports another (|items| rows),
    * and the basket total is a 1-row broadcast attach. The min-support
    * filter cuts before the stats joins, so the rule table stays
    * heavy-hitter-sized. Determinism: all supports exact integers;
    * confidence and lift are each ONE correctly-rounded IEEE division/
    * multiply chain mirrored token-for-token in the oracle (q135
    * policy). */
  /** Shared min-support for q151 — interpolated into BOTH the Spark plan
    * and q151Sql so an edit cannot desynchronize the oracle (the q145
    * lesson). */
  private val AssocMinSup = 3L

  def q151AssocRules(spark: SparkSession, dir: String): DataFrame = {
    // the r18 basket-array front (see cappedBaskets): one exchange on
    // ok replaces distinct + count-filter + semi-join, pairs walk the
    // arrays map-side; cached — read by the basket total, the item
    // supports and the pair supports
    val baskets = graft.Caches.register(cappedBaskets(spark, dir).cache())
    val nBaskets = baskets.agg(count(lit(1)).as("n_baskets"))
    val supp = baskets.select(explode(col("parts")).as("pk"))
      .groupBy(col("pk")).agg(count(lit(1)).as("sup"))
    val pairSup = basketPairs(baskets)
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("sup_uv"))
      .filter(col("sup_uv") >= AssocMinSup)
    val rules = pairSup
      .unionByName(pairSup.select(col("v").as("u"), col("u").as("v"), col("sup_uv")))
      .join(supp.select(col("pk").as("u"), col("sup").as("sup_u")), "u")
      .join(supp.select(col("pk").as("v"), col("sup").as("sup_v")), "v")
      .crossJoin(broadcast(nBaskets))
    rules.select(col("u"), col("v"), col("sup_uv"), col("sup_u"), col("sup_v"),
      round(col("sup_uv").cast("double") / col("sup_u"), 6).as("confidence"),
      round((col("sup_uv").cast("double") * col("n_baskets")) /
        (col("sup_u") * col("sup_v")).cast("double"), 6).as("lift"))
      .orderBy(col("u"), col("v"))
  }

  val q151Sql: String =
    "WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem), " +
      s"small AS (SELECT ok FROM items GROUP BY ok HAVING count(*) <= $BasketCap), " +
      "it AS (SELECT items.ok, items.pk FROM items JOIN small USING (ok)), " +
      "nb AS (SELECT count(DISTINCT ok) AS n_baskets FROM it), " +
      "supp AS (SELECT pk, count(*) AS sup FROM it GROUP BY pk), " +
      "ps AS (SELECT a.pk AS u, b.pk AS v, count(*) AS sup_uv " +
      "FROM it a JOIN it b ON a.ok = b.ok AND a.pk < b.pk " +
      s"GROUP BY 1, 2 HAVING count(*) >= $AssocMinSup), " +
      "bi AS (SELECT u, v, sup_uv FROM ps UNION ALL SELECT v, u, sup_uv FROM ps) " +
      "SELECT bi.u, bi.v, sup_uv, su.sup AS sup_u, sv.sup AS sup_v, " +
      "round(CAST(sup_uv AS DOUBLE) / su.sup, 6) AS confidence, " +
      "round((CAST(sup_uv AS DOUBLE) * n_baskets) / CAST(su.sup * sv.sup AS DOUBLE), 6) AS lift " +
      "FROM bi JOIN supp su ON bi.u = su.pk JOIN supp sv ON bi.v = sv.pk " +
      "CROSS JOIN nb ORDER BY bi.u, bi.v"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q151_assoc_rules" -> q151AssocRules _,
    "q182_kcore" -> q182KCore _,
    "q129_triangles" -> q129Triangles _,
    "q119_pagerank" -> q119PageRank _,
    "q124_chi_square" -> q124ChiSquare _,
    "q127_kll_rollup" -> q127KllRollup _,
    "q105_corr_profile" -> q105CorrProfile _,
    "q108_bitmap_distinct" -> q108BitmapDistinct _,
    "q109_mode_profile" -> q109ModeProfile _,
    "q38_full_outer" -> q38FullOuter _,
    "q74_right_outer" -> q74RightOuter _,
    "q39_window_ranks" -> q39WindowRanks _,
    "q40_collect" -> q40Collect _,
    "q41_math_funcs" -> q41MathFuncs _,
    "q42_array_map" -> q42ArrayMap _,
    "q43_percentiles" -> q43Percentiles _,
    "q61_approx_percentiles" -> q61ApproxPercentiles _,
    "q91_hll_rollup" -> q91HllRollup _,
    "q44_source_roundtrip" -> q44SourceRoundtrip _,
    "q45_geomean_udaf" -> q45GeoMean _,
    "q46_pivot" -> q46Pivot _,
    "q47_unpivot" -> q47Unpivot _
  )

  val oracle: Map[String, String] = Map(
    "q151_assoc_rules" -> q151Sql,
    "q182_kcore" -> q182Sql,
    "q129_triangles" -> q129Sql,
    "q119_pagerank" -> q119Sql,
    "q124_chi_square" -> q124Sql,
    "q105_corr_profile" -> q105Sql,
    "q108_bitmap_distinct" -> q108Sql,
    "q109_mode_profile" -> q109Sql,
    "q38_full_outer" -> q38Sql,
    "q74_right_outer" -> q74Sql,
    "q39_window_ranks" -> q39Sql,
    "q40_collect" -> q40Sql,
    "q41_math_funcs" -> q41Sql,
    "q42_array_map" -> q42Sql,
    "q43_percentiles" -> q43Sql,
    "q44_source_roundtrip" -> q44Sql,
    "q45_geomean_udaf" -> q45Sql,
    "q46_pivot" -> q46Sql,
    "q47_unpivot" -> q47Sql
  )
}
