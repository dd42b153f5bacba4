package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._

/** Event-log / time-series operators: as-of join, time bucketing,
  * gap-based sessionization, JSON extraction (SURVEY.md §2B streaming row —
  * these are the batch-equivalent semantics; the true streaming versions
  * live in graft.streaming and are exercised by ScalaTest with
  * MemoryStream, since a DuckDB oracle can't run a stream).
  */
object TimeSeries {

  /** As-of join: for each event, the most recent order date of the same
    * user at-or-before the event time.
    *
    * Implemented the scalable way — NOT a join+max (which re-scans the
    * whole orders history per event): union both sides, one shuffle on
    * user_id, then `last(_, ignoreNulls)` over an ordered running frame.
    * Cost is one shuffle + one sort regardless of how many orders precede
    * each event, which is the plan that survives 100 TB.
    * Tiebreak: at equal timestamp the order row sorts before the event row
    * (is_event 0 < 1) so the "<=" inclusive semantics hold. */
  def q21AsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir).select(
      col("event_id"), col("user_id"), col("ts"),
      lit(1).as("is_event"), lit(null).cast("timestamp_ntz").as("odate"))
    val o = orders(spark, dir).select(
      lit(null).cast("long").as("event_id"), col("o_custkey").as("user_id"),
      col("o_orderdate").as("ts"), lit(0).as("is_event"), col("o_orderdate").as("odate"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("is_event"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    o.unionByName(e)
      .withColumn("last_order_date", last(col("odate"), ignoreNulls = true).over(w))
      .filter(col("is_event") === 1)
      .select(col("event_id"), col("user_id"), col("last_order_date"))
      .orderBy(col("event_id"))
  }

  val q21Sql: String =
    "SELECT e.event_id, e.user_id, max(o.o_orderdate) AS last_order_date " +
      "FROM events e LEFT JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts " +
      "GROUP BY e.event_id, e.user_id ORDER BY e.event_id"

  /** Tumbling-window aggregation (batch form): hour bucketing + grouped
    * stats. One shuffle of tiny grouped state. */
  def q22HourlyStats(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).cast("timestamp_ntz").as("hour_start"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value")), 2).as("sum_value"),
        // avg derived from the ROUNDED sum with no outer rounding: the
        // rounded sum is bit-agreed across engines and IEEE division by
        // the integer count is deterministic, so the quotient is
        // bit-identical too. (Raw avg() ulps — and even round(avg,4) —
        // hit decimal knife-edges at some scale factors; observed sf0.1.)
        (round(sum(col("value")), 2) / count(lit(1))).as("avg_value"))
      .orderBy(col("hour_start"), col("event_type"))

  val q22Sql: String =
    "SELECT date_trunc('hour', ts) AS hour_start, event_type, count(*) AS n, " +
      "round(sum(value),2) AS sum_value, round(sum(value),2)/count(*) AS avg_value " +
      "FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type"

  /** Gap-based sessionization (30-min inactivity): lag → session-start
    * flag → running sum = session id → per-session agg. Two window passes
    * over one shuffle on user_id; the streaming twin is
    * session_window/flatMapGroupsWithState. Gap comparison is done in
    * integral microseconds so both engines decide sessions identically. */
  def q23Sessionize(spark: SparkSession, dir: String): DataFrame =
    sessionsOf(spark, dir).orderBy(col("user_id"), col("session_id"))

  /** The q23 session table UNSORTED (user_id, session_id, n_events,
    * session_start, session_end, session_value) — shared by q23 (which
    * adds the board sort) and q155's interval join, mirroring the
    * sessionCtes sharing on the oracle side so "session" can never
    * diverge between them. */
  def sessionsOf(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(spark, dir)
      .withColumn("prev_us", lag(unix_micros(col("ts").cast("timestamp")), 1).over(w))
      .withColumn("new_s",
        when(col("prev_us").isNull || unix_micros(col("ts").cast("timestamp")) - col("prev_us") > 1800000000L, 1)
          .otherwise(0))
      .withColumn("session_id", sum(col("new_s")).over(wrun))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        round(sum(col("value")), 2).as("session_value"))
  }

  /** The q23 gap-sessionization as shared DuckDB CTEs (g → s), reused by
    * q141 so the two can never diverge on what a "session" is. */
  private val sessionCtes: String =
    "WITH g AS (SELECT user_id, event_id, ts, value, " +
      "CASE WHEN lag(epoch_us(ts)) OVER w IS NULL OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000 " +
      "THEN 1 ELSE 0 END AS new_s FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
      "s AS (SELECT user_id, ts, value, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM g)"

  val q23Sql: String =
    sessionCtes + " " +
      "SELECT user_id, session_id, count(*) AS n_events, min(ts) AS session_start, " +
      "max(ts) AS session_end, round(sum(value),2) AS session_value " +
      "FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id"

  /** q141: peak concurrent sessions per day — the sweep-line interval
    * statistic (classic "max concurrent intervals") capacity planning
    * asks of any session table: how many q23 sessions overlap at the
    * busiest instant of each day. Each session contributes a +1 at its
    * start and a −1 at its end (end-EXCLUSIVE: back-to-back sessions
    * never overlap, a zero-length single-event session counts as empty
    * — the −1 sorts before the +1 at an equal instant); concurrency at
    * a point is the running sum of deltas over global time order, and
    * the answer is the per-day max of that sum.
    *
    * Scale shape: the naive form is ONE global running-sum window (a
    * single-partition sort — the q81 problem). Same fix as q81's
    * two-level distributed cumsum: the running sum is computed WITHIN
    * each day partition (parallelism = |days|), a |days|-row per-day
    * delta-total table gets its own prefix sum (tiny — one window over
    * |days| rows), and the day's carry-in joins back by BROADCAST.
    * Sessions that span midnight are exactly why the carry term exists:
    * their +1 lands in day d, their −1 in day d+1, so day d+1 starts
    * at a positive carry. All integers end-to-end → bit-exact
    * cross-engine. */
  def q141ConcurrencyPeak(spark: SparkSession, dir: String): DataFrame = {
    // endpoints via ONE map-side array explode (a union of two selects
    // would evaluate the whole session window chain once per branch),
    // and cached: the within-day running sum AND the carry table both
    // read it, so the session computation runs exactly once. Registered
    // for harness-side unpersist (graft.Caches).
    val pts = graft.Caches.register(q23Sessionize(spark, dir)
      .select(explode(array(
        struct(col("session_start").as("ts"), lit(1L).as("delta"),
          col("user_id"), col("session_id")),
        struct(col("session_end").as("ts"), lit(-1L).as("delta"),
          col("user_id"), col("session_id")))).as("p"))
      .select(col("p.ts").as("ts"), col("p.delta").as("delta"),
        col("p.user_id").as("user_id"), col("p.session_id").as("session_id"))
      .withColumn("day", date_trunc("day", col("ts")).cast("timestamp_ntz"))
      .cache())
    val wday = Window.partitionBy(col("day"))
      .orderBy(col("ts"), col("delta"), col("user_id"), col("session_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withinDay = pts.withColumn("run", sum(col("delta")).over(wday))
    val wcarry = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // |days| rows: the global window here sorts ~31 rows, not the corpus
    val carry = pts.groupBy(col("day")).agg(sum(col("delta")).as("dtot"))
      .withColumn("carry", coalesce(sum(col("dtot")).over(wcarry), lit(0L)))
      .select(col("day"), col("carry"))
    withinDay.join(broadcast(carry), "day")
      .groupBy(col("day"))
      .agg(max(col("run") + col("carry")).as("peak_concurrency"),
        sum(when(col("delta") === 1L, 1L).otherwise(0L)).as("n_sessions_started"))
      .orderBy(col("day"))
  }

  val q141Sql: String =
    sessionCtes + ", " +
      "sess AS (SELECT user_id, session_id, min(ts) AS st, max(ts) AS en FROM s GROUP BY 1, 2), " +
      // DuckDB's date_trunc('day') yields DATE — cast to TIMESTAMP to
      // match Spark's timestamp_ntz day column (the q90/q118 policy)
      "pts AS (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, ts, delta, user_id, session_id FROM (" +
      "SELECT st AS ts, 1 AS delta, user_id, session_id FROM sess " +
      "UNION ALL SELECT en, -1, user_id, session_id FROM sess)), " +
      "run AS (SELECT day, delta, CAST(sum(delta) OVER (PARTITION BY day " +
      "ORDER BY ts, delta, user_id, session_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run FROM pts), " +
      "dt AS (SELECT day, CAST(sum(delta) AS BIGINT) AS dtot FROM pts GROUP BY 1), " +
      "carry AS (SELECT day, CAST(coalesce(sum(dtot) OVER (ORDER BY day " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS carry FROM dt) " +
      "SELECT day, CAST(max(run + carry) AS BIGINT) AS peak_concurrency, " +
      "CAST(sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions_started " +
      "FROM run JOIN carry USING (day) GROUP BY day ORDER BY day"

  private val OverlapBinUs = 3600000000L  // 1-hour time bins
  private val IncidentHalfUs = 600000000L // incident window: ±10 min

  /** Bin-bucketed interval-overlap join core — every overlapping
    * (a, b) pair EXACTLY once, no distinct, no theta join. Inputs
    * carry closed micro-second intervals as (s_a, e_a) / (s_b, e_b)
    * columns (ANY sign — binning is true floor division, so pre-1970
    * timestamps bin correctly; `div` alone truncates toward zero and
    * would split a bin straddling 0); overlap means
    * s_a <= e_b AND s_b <= e_a.
    *
    * The naive plan for a pure interval predicate is a quadratic
    * BroadcastNestedLoop at ANY scale. The scale path discretizes time
    * into `binUs` bins, explodes each interval to the bins it covers,
    * equi-joins on the bin, and keeps a pair only in the bin containing
    * greatest(s_a, s_b) — both intervals cover that bin whenever they
    * overlap, and only one bin is the greatest-start bin, so the bin
    * join emits each pair exactly once with no dedup shuffle. This is
    * the LSH-bucket shape on the time axis: the bin is the partition
    * key at 100 TB, candidate work is bin-local, and bin width tunes
    * explode fan-out (len/binUs + 1 rows per interval) against bucket
    * occupancy exactly like band width does for MinHash. */
  /** Exact integer floor division of expression `c` by `binUs`:
    * subtract the non-negative pmod remainder first, then `div` is
    * exact (numerator is a multiple of binUs). All-integer — no double
    * round-trip that could misplace a bin near 2^53. Shared with the
    * interval-skew stress tool so its Σ(bins-per-interval) fan-out law
    * uses the operator's own binning, not a re-derivation. */
  private[graft] def binFdiv(c: String, binUs: Long): String =
    s"(($c - pmod($c, $binUs)) div $binUs)"

  def intervalOverlapPairs(a: DataFrame, b: DataFrame,
      binUs: Long = OverlapBinUs): DataFrame = {
    def fdiv(c: String): String = binFdiv(c, binUs)
    val aB = a.withColumn("bin",
      explode(sequence(expr(fdiv("s_a")), expr(fdiv("e_a")))))
    val bB = b.withColumn("bin",
      explode(sequence(expr(fdiv("s_b")), expr(fdiv("e_b")))))
    aB.join(bB, "bin")
      .where(col("s_a") <= col("e_b") && col("s_b") <= col("e_a") &&
        col("bin") === expr(fdiv("greatest(s_a, s_b)")))
      .drop("bin")
  }

  /** HOT-BIN SALTED variant of [[intervalOverlapPairs]] — the fix for
    * the one measured 100 TB hazard of the bin-bucketed plan
    * (IntervalSkewStress: an incident storm concentrating 15% of one
    * side into a single bin grows that bin's candidate product 12×
    * across the width sweep while total candidates FALL — a hot bin is
    * a hot reducer, the q49 hot-join-key pathology in bin clothing, and
    * AQE cannot split it because it is one key, not one partition).
    *
    * The q49 salt recipe applied to the bin key: a cheap bin census
    * (two partial-agged counts on the bin key — |bins| rows, broadcast
    * back) finds bins whose candidate product `ca·cb` exceeds
    * `hotProduct`; in those bins the probe (a) side takes a
    * content-hash salt in [0, S) and the build (b) side is replicated
    * across ALL S salts, so the hot reducer's work spreads over S
    * tasks at the cost of S× replicating only the hot bins' b-rows.
    * Cold bins pay nothing (salt 0 both sides, no replication). Every
    * overlapping pair still meets EXACTLY once — an a-row has one salt
    * per bin and the b-row is present at every salt, so the
    * greatest-start-bin filter's exactly-once argument is untouched —
    * and the result is row-identical to the unsalted form
    * (Scd2RetentionSpec pins set equality on the adversarial storm
    * shape; q166 hash-checks it against q155's oracle on real data).
    *
    * The explode runs twice (census + join) — at scale that trade is
    * right: the census reads are map-side partial aggregations, while
    * caching a 100 TB explode would cost more than the re-scan. */
  def intervalOverlapPairsSalted(a: DataFrame, b: DataFrame,
      binUs: Long = OverlapBinUs, salt: Int = 8,
      hotProduct: Long = 1000000L): DataFrame = {
    def fdiv(c: String): String = binFdiv(c, binUs)
    val aB = a.withColumn("bin",
      explode(sequence(expr(fdiv("s_a")), expr(fdiv("e_a")))))
    val bB = b.withColumn("bin",
      explode(sequence(expr(fdiv("s_b")), expr(fdiv("e_b")))))
    val hot = aB.groupBy(col("bin")).agg(count(lit(1)).as("ca"))
      .join(bB.groupBy(col("bin")).agg(count(lit(1)).as("cb")), "bin")
      .filter(col("ca") * col("cb") > hotProduct)
      .select(col("bin"), lit(true).as("__hot"))
    // probe side: ONE content-derived salt per row in hot bins (s/e are
    // the row's content here — distribution, not identity, is all the
    // salt decides), 0 in cold bins
    val aS = aB.join(broadcast(hot), Seq("bin"), "left")
      .withColumn("__salt", when(col("__hot"),
        pmod(xxhash64(col("s_a"), col("e_a"), col("bin")), lit(salt)).cast("int"))
        .otherwise(lit(0)))
      .drop("__hot")
    // build side: replicated across all S salts in hot bins only
    val bS = bB.join(broadcast(hot), Seq("bin"), "left")
      .withColumn("__salt", explode(when(col("__hot"),
        array((0 until salt).map(lit): _*)).otherwise(array(lit(0)))))
      .drop("__hot")
    aS.join(bS, Seq("bin", "__salt"))
      .where(col("s_a") <= col("e_b") && col("s_b") <= col("e_a") &&
        col("bin") === expr(fdiv("greatest(s_a, s_b)")))
      .drop("bin", "__salt")
  }

  /** q155: PURE interval-overlap join — no equi key anywhere: which
    * q23 user sessions overlap which GLOBAL incident windows (±10 min
    * around a deterministic 1-in-17 subset of error events). Rides
    * [[intervalOverlapPairs]]; the oracle deliberately runs the
    * straightforward quadratic theta join instead of replaying the
    * bins, so the hash check proves the bucketed plan is SEMANTICALLY
    * the theta join, not just self-consistent. Micros end-to-end. */
  /** q155's two interval sets — exposed so the spec's independent theta
    * join consumes the SAME inputs (one tunable for the incident
    * window, not a duplicated literal that could drift). */
  def sessionIntervalsOf(spark: SparkSession, dir: String): DataFrame =
    sessionsOf(spark, dir)
      .select(col("user_id"), col("session_id"),
        unix_micros(col("session_start").cast("timestamp")).as("s_a"),
        unix_micros(col("session_end").cast("timestamp")).as("e_a"))

  def incidentWindowsOf(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .where(col("event_type") === "error" && pmod(col("event_id"), lit(17)) === 0)
      .select(col("event_id").as("incident_id"),
        (unix_micros(col("ts").cast("timestamp")) - IncidentHalfUs).as("s_b"),
        (unix_micros(col("ts").cast("timestamp")) + IncidentHalfUs).as("e_b"))

  def q155IntervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val sess = sessionIntervalsOf(spark, dir)
    val inc = incidentWindowsOf(spark, dir)
    intervalOverlapPairs(sess, inc)
      .select(col("user_id"), col("session_id"), col("incident_id"),
        greatest(col("s_a"), col("s_b")).as("overlap_start_us"),
        least(col("e_a"), col("e_b")).as("overlap_end_us"))
      .orderBy(col("user_id"), col("session_id"), col("incident_id"))
  }

  val q155Sql: String =
    sessionCtes + ", " +
      "ss AS (SELECT user_id, session_id, epoch_us(min(ts)) AS s_a, epoch_us(max(ts)) AS e_a " +
      "FROM s GROUP BY user_id, session_id), " +
      s"inc AS (SELECT event_id AS incident_id, epoch_us(ts) - $IncidentHalfUs AS s_b, " +
      s"epoch_us(ts) + $IncidentHalfUs AS e_b FROM events " +
      "WHERE event_type = 'error' AND event_id % 17 = 0) " +
      "SELECT user_id, session_id, incident_id, greatest(s_a, s_b) AS overlap_start_us, " +
      "least(e_a, e_b) AS overlap_end_us " +
      "FROM ss JOIN inc ON s_a <= e_b AND s_b <= e_a " +
      "ORDER BY user_id, session_id, incident_id"

  /** q166: q155 through [[intervalOverlapPairsSalted]] — the hot-bin
    * salted plan hash-checked against the SAME oracle as the unsalted
    * row (salting changes routing, never results — the q49/q64 claim
    * pattern, now for the bin key). hotProduct=20 is a DEMONSTRATION
    * threshold: at sf0.01 the census products span 6–40, so the board
    * run exercises hot AND cold bins in one query (the production
    * default of 10^6 would leave every test-SF bin cold and the salted
    * path unproven); salting every co-occupied bin at sf0.1 (all
    * products >= 102) is equally fine — replication cost is bounded by
    * S× the hot bins' build rows either way. */
  def q166IntervalJoinSalted(spark: SparkSession, dir: String): DataFrame = {
    val sess = sessionIntervalsOf(spark, dir)
    val inc = incidentWindowsOf(spark, dir)
    intervalOverlapPairsSalted(sess, inc, hotProduct = 20L)
      .select(col("user_id"), col("session_id"), col("incident_id"),
        greatest(col("s_a"), col("s_b")).as("overlap_start_us"),
        least(col("e_a"), col("e_b")).as("overlap_end_us"))
      .orderBy(col("user_id"), col("session_id"), col("incident_id"))
  }

  /** JSON path extraction (§2A-4 generalized): schema-on-read over the
    * props column, pushed through a grouped aggregation. */
  def q24JsonExtract(spark: SparkSession, dir: String): DataFrame = {
    val k = get_json_object(col("props"), "$.k").cast("int")
    events(spark, dir)
      .select(col("event_type"), k.as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        // exact integer sum / non-null count, unrounded: bit-identical
        // across engines (round(avg,4) can hit decimal ties — see q22)
        (sum(col("k")) / count(col("k"))).as("avg_k"),
        sum(when(col("k") > 50, 1L).otherwise(0L)).as("n_high"))
      .orderBy(col("event_type"))
  }

  val q24Sql: String =
    "SELECT event_type, count(*) AS n, " +
      "CAST(sum(CAST(json_extract_string(props,'$.k') AS INTEGER)) AS DOUBLE)" +
      "/count(json_extract_string(props,'$.k')) AS avg_k, " +
      "CAST(sum(CASE WHEN CAST(json_extract_string(props,'$.k') AS INTEGER) > 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_high " +
      "FROM events GROUP BY event_type ORDER BY event_type"

  /** Grid cell width of the q202 spatial join. Production tuning rule:
    * ~the median box extent, so a box covers O(1) cells and a cell
    * holds O(density) boxes — the same bin-size logic as the q155
    * interval bins, lifted to 2-D. */
  private[graft] val BboxCell = 64L

  /** Deterministic rectangle sets derived from supplier/customer keys —
    * integer arithmetic only, so Spark and the SQL oracle rebuild the
    * IDENTICAL geometry (the q85 change-set idiom, spatial edition). */
  private[graft] def bboxAreas(spark: SparkSession, dir: String): DataFrame =
    supplier(spark, dir).select(col("s_suppkey").as("area_id"),
      pmod(col("s_suppkey") * 37L, lit(1000L)).as("axmin"),
      pmod(col("s_suppkey") * 61L, lit(1000L)).as("aymin"))
      .withColumn("axmax", col("axmin") + lit(5L) + pmod(col("area_id"), lit(40L)))
      .withColumn("aymax", col("aymin") + lit(5L) + pmod(col("area_id"), lit(25L)))

  private[graft] def bboxZones(spark: SparkSession, dir: String): DataFrame =
    customer(spark, dir).select(col("c_custkey").as("zone_id"),
      pmod(col("c_custkey") * 17L, lit(1000L)).as("bxmin"),
      pmod(col("c_custkey") * 29L, lit(1000L)).as("bymin"))
      .withColumn("bxmax", col("bxmin") + lit(1L) + pmod(col("zone_id"), lit(10L)))
      .withColumn("bymax", col("bymin") + lit(1L) + pmod(col("zone_id"), lit(10L)))

  /** q202: SPATIAL BBOX-OVERLAP JOIN via 2-D grid binning (r15, verdict
    * item 6 — §2A-15 generalized: the reference's domain is GeoJSON
    * polygons, and envelope overlap is THE spatial-join primitive their
    * queries would need first). Every rectangle explodes onto the grid
    * cells its envelope covers (O(1) cells each at a cell ≈ median
    * extent), the join is a plain EQUI HASH JOIN on the cell key — no
    * cross product anywhere on the plan — and a pair surviving the
    * exact overlap post-filter is emitted EXACTLY ONCE: only in the
    * cell containing its intersection's min corner (the q155
    * greatest-bin trick in 2-D; both boxes cover that cell by
    * definition, so no pair is lost). Scale shape: shuffle is on
    * (cx, cy) — fine-grained, skew-dilutable by shrinking the cell —
    * and cost is O(boxes × cells/box + true pairs), never O(|A|×|B|).
    * The oracle is the naive SQL theta join over the SAME derived
    * rectangles: hash-green means grid + dedup == brute force. */
  def q202BboxJoin(spark: SparkSession, dir: String): DataFrame = {
    def gridded(df: DataFrame, xmin: String, xmax: String,
        ymin: String, ymax: String): DataFrame =
      df.withColumn("gx", explode(sequence(
          expr(s"$xmin div $BboxCell"), expr(s"$xmax div $BboxCell"))))
        .withColumn("gy", explode(sequence(
          expr(s"$ymin div $BboxCell"), expr(s"$ymax div $BboxCell"))))
    val a = gridded(bboxAreas(spark, dir), "axmin", "axmax", "aymin", "aymax")
    val b = gridded(bboxZones(spark, dir), "bxmin", "bxmax", "bymin", "bymax")
    a.join(b, Seq("gx", "gy"))
      .where(col("axmin") <= col("bxmax") && col("bxmin") <= col("axmax") &&
        col("aymin") <= col("bymax") && col("bymin") <= col("aymax"))
      // exactly-once: report only in the intersection's min-corner cell
      .where(col("gx") === expr(s"greatest(axmin, bxmin) div $BboxCell") &&
        col("gy") === expr(s"greatest(aymin, bymin) div $BboxCell"))
      .select(col("area_id"), col("zone_id"),
        greatest(col("axmin"), col("bxmin")).as("ix"),
        greatest(col("aymin"), col("bymin")).as("iy"))
      .orderBy(col("area_id"), col("zone_id"))
  }

  val q202Sql: String =
    "WITH a AS (SELECT s_suppkey AS area_id, (s_suppkey*37)%1000 AS axmin, " +
      "(s_suppkey*61)%1000 AS aymin, (s_suppkey*37)%1000 + 5 + s_suppkey%40 AS axmax, " +
      "(s_suppkey*61)%1000 + 5 + s_suppkey%25 AS aymax FROM supplier), " +
      "b AS (SELECT c_custkey AS zone_id, (c_custkey*17)%1000 AS bxmin, " +
      "(c_custkey*29)%1000 AS bymin, (c_custkey*17)%1000 + 1 + c_custkey%10 AS bxmax, " +
      "(c_custkey*29)%1000 + 1 + c_custkey%10 AS bymax FROM customer) " +
      "SELECT area_id, zone_id, greatest(axmin, bxmin) AS ix, greatest(aymin, bymin) AS iy " +
      "FROM a JOIN b ON axmin <= bxmax AND bxmin <= axmax AND aymin <= bymax AND bymin <= aymax " +
      "ORDER BY area_id, zone_id"

  /** q203: the q202 grid join over the REFERENCE'S OWN geometry (r15 —
    * §2A-15 closed end-to-end): CAIC forecast-area GeoJSON (ragged
    * Polygon/MultiPolygon, kept as a raw string for fidelity) runs
    * through the native `geo_envelope` expression map-side, and a fixed
    * observation-point set joins "which forecast area covers this
    * observation" — the first spatial question a CloudTAK consumer of
    * the reference's output would ask. Point-in-envelope via the 2-D
    * grid: each point owns ONE cell, each envelope explodes over the
    * O(1) cells it covers, the join is an equi hash join on the cell
    * key and needs NO dedup (a point's cell is unique). ENVELOPE
    * containment by design (o3 sits between NC-02's two parts and still
    * matches — the bbox prefilter semantic; exact polygon containment
    * is the refine step a geometry library would add on top). Oracle: a
    * VALUES literal over the same fixed inputs, independently
    * hand-derived like q37's. */
  def q203CaicSpatial(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.functions.GeoFunctions.register(spark)
    val cell = 0.5
    val areas = graft.caic.CaicPipeline
      .areaFeatures(Seq(graft.caic.CaicFixtures.areasJson).toDF("value"))
      .select(col("id").cast("string").as("area_id"),
        graft.functions.GeoFunctions.envelope(col("geometry")).as("env"))
      .select(col("area_id"), col("env.xmin").as("xmin"), col("env.ymin").as("ymin"),
        col("env.xmax").as("xmax"), col("env.ymax").as("ymax"))
    val obs = Seq(
      ("o1", -105.4, 40.2), ("o2", -106.3, 39.7), ("o3", -106.55, 39.55),
      ("o4", -105.3, 37.9), ("o5", -104.0, 39.0), ("o6", -105.6, 40.4),
      ("o7", -106.2, 39.9)).toDF("obs_id", "x", "y")
    val aG = areas
      .withColumn("gx", explode(sequence(floor(col("xmin") / cell).cast("long"),
        floor(col("xmax") / cell).cast("long"))))
      .withColumn("gy", explode(sequence(floor(col("ymin") / cell).cast("long"),
        floor(col("ymax") / cell).cast("long"))))
    val pG = obs
      .withColumn("gx", floor(col("x") / cell).cast("long"))
      .withColumn("gy", floor(col("y") / cell).cast("long"))
    aG.join(pG, Seq("gx", "gy"))
      .where(col("x") >= col("xmin") && col("x") <= col("xmax") &&
        col("y") >= col("ymin") && col("y") <= col("ymax"))
      .select(col("area_id"), col("obs_id"), col("x"), col("y"))
      .orderBy(col("area_id"), col("obs_id"))
  }

  /** Hand-derived expected pairs: NC-01 env(-105.6,40.0,-105.2,40.4)
    * covers o1 and (boundary-inclusive) o6; NC-02 env(-106.9,39.2,
    * -106.1,39.9) covers o2, o3 (between its two parts — envelope
    * semantics), and o7 (y boundary); area 3 env(-105.6,37.6,-105.2,
    * 38.0) covers o4; o5 is outside every envelope. */
  val q203Sql: String =
    "SELECT area_id, obs_id, CAST(x AS DOUBLE) AS x, CAST(y AS DOUBLE) AS y FROM (VALUES " +
      "('3', 'o4', -105.3, 37.9), " +
      "('NC-01', 'o1', -105.4, 40.2), ('NC-01', 'o6', -105.6, 40.4), " +
      "('NC-02', 'o2', -106.3, 39.7), ('NC-02', 'o3', -106.55, 39.55), " +
      "('NC-02', 'o7', -106.2, 39.9)" +
      ") AS t(area_id, obs_id, x, y) ORDER BY area_id, obs_id"

  /** q204: the FULL two-phase spatial join over the reference's own
    * geometry (r15): grid-binned ENVELOPE candidates (q203's plan) +
    * the exact `geo_contains` ray-cast REFINE — the filter-and-refine
    * shape every planar spatial engine uses, so the cheap equi join
    * bounds the candidate set and the exact predicate runs only on
    * survivors. The fixture points include two envelope-only decoys
    * (p2 above NC-01's hypotenuse, p4 between NC-02's MultiPolygon
    * parts) that q203's envelope semantics would keep and the refine
    * must drop — hash-green against the hand-derived VALUES oracle
    * proves the refine actually refines. */
  def q204CaicContains(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.functions.GeoFunctions.register(spark)
    val cell = 0.5
    val areas = graft.caic.CaicPipeline
      .areaFeatures(Seq(graft.caic.CaicFixtures.areasJson).toDF("value"))
      .select(col("id").cast("string").as("area_id"), col("geometry"),
        graft.functions.GeoFunctions.envelope(col("geometry")).as("env"))
      .select(col("area_id"), col("geometry"),
        col("env.xmin").as("xmin"), col("env.ymin").as("ymin"),
        col("env.xmax").as("xmax"), col("env.ymax").as("ymax"))
    val obs = Seq(
      ("p1", -105.3, 40.1), ("p2", -105.5, 40.3), ("p3", -106.2, 39.6),
      ("p4", -106.55, 39.55), ("p5", -106.7, 39.3), ("p6", -105.25, 37.7),
      ("p7", -104.0, 39.0)).toDF("obs_id", "x", "y")
    val aG = areas
      .withColumn("gx", explode(sequence(floor(col("xmin") / cell).cast("long"),
        floor(col("xmax") / cell).cast("long"))))
      .withColumn("gy", explode(sequence(floor(col("ymin") / cell).cast("long"),
        floor(col("ymax") / cell).cast("long"))))
    val pG = obs
      .withColumn("gx", floor(col("x") / cell).cast("long"))
      .withColumn("gy", floor(col("y") / cell).cast("long"))
    aG.join(pG, Seq("gx", "gy"))
      // envelope prefilter (cheap comparisons on the candidates)...
      .where(col("x") >= col("xmin") && col("x") <= col("xmax") &&
        col("y") >= col("ymin") && col("y") <= col("ymax"))
      // ...then the exact ray cast on the survivors only
      .where(graft.functions.GeoFunctions.contains(col("geometry"), col("x"), col("y")))
      .select(col("area_id"), col("obs_id"))
      .orderBy(col("area_id"), col("obs_id"))
  }

  /** Hand-derived: p1 inside NC-01's triangle (p2 is inside the
    * envelope but above the hypotenuse); p3 in NC-02 part 1, p5 in
    * part 2 (p4 sits between the parts — envelope-only); p6 inside
    * area 3; p7 nowhere. */
  val q204Sql: String =
    "SELECT * FROM (VALUES ('3', 'p6'), ('NC-01', 'p1'), ('NC-02', 'p3'), " +
      "('NC-02', 'p5')) AS t(area_id, obs_id) ORDER BY area_id, obs_id"

  /** q216: POLYGON-POLYGON SPATIAL JOIN (r16, verdict item 4 — the
    * refine beyond point-in-polygon): CAIC forecast areas against a
    * zone set of GeoJSON polygons, grid-binned envelope candidates
    * (q202's exactly-once min-corner dedup, envelopes from the native
    * `geo_envelope`) refined by the exact `geo_intersects` segment/
    * containment test. The zones are built to hit every decision path:
    * z1 crosses NC-01's hypotenuse with NO vertex inside either shape
    * (edge-crossing leg), z2 sits fully inside NC-01 (containment
    * without edge contact), z3 fully CONTAINS area 3 (the reverse
    * probe), z6 touches area 3 only along a shared boundary segment
    * (collinear-touch leg, boundary-inclusive ST_Intersects), z8
    * crosses NC-02's second MultiPolygon part — while z4 (inside
    * NC-01's envelope but above the hypotenuse) and z5 (between
    * NC-02's parts) survive the ENVELOPE join and must be dropped by
    * the refine, and z7 is nowhere. Hash-green against the
    * hand-derived VALUES oracle proves the exact test, not the bbox,
    * decides. Plan shape: equi hash join on the cell key — cartesian-
    * free at any scale, the q202 contract. */
  def q216CaicIntersects(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.functions.GeoFunctions.register(spark)
    val cell = 0.5
    def rect(x1: Double, y1: Double, x2: Double, y2: Double): String =
      s"""{"type":"Polygon","coordinates":[[[$x1,$y1],[$x2,$y1],[$x2,$y2],[$x1,$y2],[$x1,$y1]]]}"""
    val zones = Seq(
      ("z1", rect(-105.55, 39.9, -105.45, 40.3)), // crosses NC-01's hypotenuse
      ("z2", rect(-105.35, 40.05, -105.3, 40.1)), // fully inside NC-01
      ("z3", rect(-105.7, 37.5, -105.1, 38.1)), // fully contains area 3
      ("z4", rect(-105.55, 40.25, -105.5, 40.35)), // NC-01 envelope decoy
      ("z5", rect(-106.58, 39.65, -106.52, 39.75)), // between NC-02's parts
      ("z6", rect(-105.2, 37.7, -105.1, 37.8)), // touches area 3's edge only
      ("z7", rect(-104.5, 39.0, -104.4, 39.1)), // nowhere
      ("z8", rect(-106.75, 39.1, -106.65, 39.5)) // crosses NC-02 part 2
    ).toDF("zone_id", "zgeom")
    def withEnv(df: DataFrame, geom: String): DataFrame =
      df.withColumn("env", graft.functions.GeoFunctions.envelope(col(geom)))
        .select(df.columns.map(col) :+ col("env.xmin") :+ col("env.ymin") :+
          col("env.xmax") :+ col("env.ymax"): _*)
    val areas = withEnv(graft.caic.CaicPipeline
      .areaFeatures(Seq(graft.caic.CaicFixtures.areasJson).toDF("value"))
      .select(col("id").cast("string").as("area_id"), col("geometry")), "geometry")
      .withColumnRenamed("xmin", "axmin").withColumnRenamed("ymin", "aymin")
      .withColumnRenamed("xmax", "axmax").withColumnRenamed("ymax", "aymax")
    val zonesE = withEnv(zones, "zgeom")
      .withColumnRenamed("xmin", "bxmin").withColumnRenamed("ymin", "bymin")
      .withColumnRenamed("xmax", "bxmax").withColumnRenamed("ymax", "bymax")
    def gridded(df: DataFrame, xmin: String, xmax: String,
        ymin: String, ymax: String): DataFrame =
      df.withColumn("gx", explode(sequence(floor(col(xmin) / cell).cast("long"),
          floor(col(xmax) / cell).cast("long"))))
        .withColumn("gy", explode(sequence(floor(col(ymin) / cell).cast("long"),
          floor(col(ymax) / cell).cast("long"))))
    gridded(areas, "axmin", "axmax", "aymin", "aymax")
      .join(gridded(zonesE, "bxmin", "bxmax", "bymin", "bymax"), Seq("gx", "gy"))
      // envelope prefilter + exactly-once min-corner cell (q202)
      .where(col("axmin") <= col("bxmax") && col("bxmin") <= col("axmax") &&
        col("aymin") <= col("bymax") && col("bymin") <= col("aymax"))
      .where(col("gx") === floor(greatest(col("axmin"), col("bxmin")) / cell).cast("long") &&
        col("gy") === floor(greatest(col("aymin"), col("bymin")) / cell).cast("long"))
      // the exact refine on candidates only
      .where(graft.functions.GeoFunctions.intersects(col("geometry"), col("zgeom")))
      .select(col("area_id"), col("zone_id"))
      .orderBy(col("area_id"), col("zone_id"))
  }

  /** Hand-derived (see q216's scaladoc for the per-zone geometry
    * argument). */
  val q216Sql: String =
    "SELECT * FROM (VALUES ('3', 'z3'), ('3', 'z6'), ('NC-01', 'z1'), " +
      "('NC-01', 'z2'), ('NC-02', 'z8')) AS t(area_id, zone_id) " +
      "ORDER BY area_id, zone_id"

  /** q217: BOUNDED DISTANCE (RADIUS) JOIN on the q202 grid (r16,
    * verdict item 4's second half): two derived integer point sets —
    * all pairs within Euclidean distance r — via cells of width r: the
    * probe side binds to its ONE cell, the build side explodes to its
    * 3x3 neighborhood (any pair within r is in adjacent cells by the
    * triangle inequality), the join is an equi hash join on the cell
    * key (each pair meets exactly once — the probe's cell is unique),
    * and the exact squared-distance predicate refines in INTEGER math
    * (bit-exact vs the oracle's theta join). Scale shape: shuffle on
    * the cell key, cost O(points x 9 + true pairs), never |P| x |Q|;
    * skew dilutes by shrinking the cell (the q202 rule). */
  def q217RadiusJoin(spark: SparkSession, dir: String): DataFrame = {
    val r = 8L
    val p = customer(spark, dir).select(col("c_custkey").as("p_id"),
      pmod(col("c_custkey") * 13L, lit(1000L)).as("px"),
      pmod(col("c_custkey") * 41L, lit(1000L)).as("py"))
    val q = supplier(spark, dir).select(col("s_suppkey").as("q_id"),
      pmod(col("s_suppkey") * 23L, lit(1000L)).as("qx"),
      pmod(col("s_suppkey") * 53L, lit(1000L)).as("qy"))
    val pG = p.withColumn("gx", expr(s"px div $r")).withColumn("gy", expr(s"py div $r"))
    val qG = q
      .withColumn("gx", explode(sequence(expr(s"qx div $r - 1"), expr(s"qx div $r + 1"))))
      .withColumn("gy", explode(sequence(expr(s"qy div $r - 1"), expr(s"qy div $r + 1"))))
    pG.join(qG, Seq("gx", "gy"))
      .withColumn("dist2", (col("px") - col("qx")) * (col("px") - col("qx")) +
        (col("py") - col("qy")) * (col("py") - col("qy")))
      .where(col("dist2") <= lit(r * r))
      .select(col("p_id"), col("q_id"), col("dist2"))
      .orderBy(col("p_id"), col("q_id"))
  }

  val q217Sql: String =
    "SELECT c_custkey AS p_id, s_suppkey AS q_id, " +
      "CAST(((c_custkey*13)%1000 - (s_suppkey*23)%1000) * ((c_custkey*13)%1000 - (s_suppkey*23)%1000) + " +
      "((c_custkey*41)%1000 - (s_suppkey*53)%1000) * ((c_custkey*41)%1000 - (s_suppkey*53)%1000) AS BIGINT) AS dist2 " +
      "FROM customer, supplier " +
      "WHERE ((c_custkey*13)%1000 - (s_suppkey*23)%1000) * ((c_custkey*13)%1000 - (s_suppkey*23)%1000) + " +
      "((c_custkey*41)%1000 - (s_suppkey*53)%1000) * ((c_custkey*41)%1000 - (s_suppkey*53)%1000) <= 64 " +
      "ORDER BY p_id, q_id"

  /** q219: BOUNDED KNN SPATIAL JOIN (r16 — the k-nearest-neighbors
    * shape beside q217's radius join): for each probe point, its k
    * nearest build points WITHIN radius r — the formulation that stays
    * EXACT on a grid (any neighbor within r lives in the 3x3 cell
    * neighborhood by the triangle inequality, so the candidate set
    * provably contains the true bounded-KNN; unbounded KNN would need
    * expanding-ring search with data-dependent termination). Plan:
    * q217's grid candidates, then one window per probe point
    * (row_number over dist2 with the id as the deterministic
    * tie-break) — shuffle on the cell key then on p_id, cost
    * O(points x 9 + candidates log k), never |P| x |Q|. Integer math
    * end to end; oracle = the naive theta join + the same window. */
  def q219KnnJoin(spark: SparkSession, dir: String): DataFrame = {
    val r = 32L
    val k = 3
    val p = customer(spark, dir).select(col("c_custkey").as("p_id"),
      pmod(col("c_custkey") * 13L, lit(1000L)).as("px"),
      pmod(col("c_custkey") * 41L, lit(1000L)).as("py"))
    val q = supplier(spark, dir).select(col("s_suppkey").as("q_id"),
      pmod(col("s_suppkey") * 23L, lit(1000L)).as("qx"),
      pmod(col("s_suppkey") * 53L, lit(1000L)).as("qy"))
    val pG = p.withColumn("gx", expr(s"px div $r")).withColumn("gy", expr(s"py div $r"))
    val qG = q
      .withColumn("gx", explode(sequence(expr(s"qx div $r - 1"), expr(s"qx div $r + 1"))))
      .withColumn("gy", explode(sequence(expr(s"qy div $r - 1"), expr(s"qy div $r + 1"))))
    val cand = pG.join(qG, Seq("gx", "gy"))
      .withColumn("dist2", (col("px") - col("qx")) * (col("px") - col("qx")) +
        (col("py") - col("qy")) * (col("py") - col("qy")))
      .where(col("dist2") <= lit(r * r))
    cand.withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("p_id"))
          .orderBy(col("dist2"), col("q_id"))))
      .where(col("rn") <= k)
      .select(col("p_id"), col("q_id"), col("dist2"), col("rn").cast("long").as("rn"))
      .orderBy(col("p_id"), col("rn"))
  }

  val q219Sql: String =
    "WITH cand AS (SELECT c_custkey AS p_id, s_suppkey AS q_id, " +
      "CAST(((c_custkey*13)%1000 - (s_suppkey*23)%1000) * ((c_custkey*13)%1000 - (s_suppkey*23)%1000) + " +
      "((c_custkey*41)%1000 - (s_suppkey*53)%1000) * ((c_custkey*41)%1000 - (s_suppkey*53)%1000) AS BIGINT) AS dist2 " +
      "FROM customer, supplier " +
      "WHERE ((c_custkey*13)%1000 - (s_suppkey*23)%1000) * ((c_custkey*13)%1000 - (s_suppkey*23)%1000) + " +
      "((c_custkey*41)%1000 - (s_suppkey*53)%1000) * ((c_custkey*41)%1000 - (s_suppkey*53)%1000) <= 1024), " +
      "ranked AS (SELECT p_id, q_id, dist2, " +
      "CAST(row_number() OVER (PARTITION BY p_id ORDER BY dist2, q_id) AS BIGINT) AS rn FROM cand) " +
      "SELECT p_id, q_id, dist2, rn FROM ranked WHERE rn <= 3 ORDER BY p_id, rn"

  /** UNBOUNDED KNN JOIN by EXPANDING-RING grid search (r17, verdict
    * item 3 — the shape q219's radius-bounded form explicitly deferred):
    * for each probe point its k nearest build points with NO radius
    * bound. Build points bucket once into cells of width `w`; round
    * `ring` joins the still-unresolved probes against the cells at
    * L∞ offset EXACTLY `ring` from the probe's cell (8·ring cells — the
    * rings partition the plane, so no candidate is ever seen twice),
    * folds them into the carried top-k, and RESOLVES a probe by the
    * termination rule: a point in any unexplored cell (L∞ offset
    * ≥ ring+1) is at distance > ring·w from the probe (the probe lies
    * inside its own cell, so the coordinate gap alone exceeds ring·w);
    * hence once a probe holds k candidates with kth-distance² ≤
    * (ring·w)², no unseen point can displace any of them and its top-k
    * is FINAL. Probes still pending at `maxRing` (domain exhausted —
    * happens only when the build side has fewer than k points in
    * range of nothing) emit whatever they hold: every cell has been
    * explored, so that IS the global top-k.
    *
    * Scale shape: each round is an equi hash join on the cell key —
    * cartesian-free, cost O(|pending| · 8·ring + candidates); pending
    * shrinks geometrically (uniform data resolves ~90% of probes by
    * ring ⌈kth-NN-distance/w⌉), and the driver holds only the
    * round-count fixpoint test, never data — the q182/q119 iterative
    * contract. Carried state is at most k rows per pending probe. */
  private[graft] def knnUnbounded(probes: DataFrame, builds: DataFrame,
      k: Int, w: Long, maxRing: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val win = Window.partitionBy(col("p_id")).orderBy(col("dist2"), col("q_id"))
    val q = graft.Caches.register(builds
      .withColumn("gx", expr(s"qx div $w")).withColumn("gy", expr(s"qy div $w"))
      .cache())
    // localCheckpoint (NOT cache) per round: carried feeds topk feeds
    // carried, so un-truncated lineage grows multiplicatively with the
    // ring count and the per-action explainString alone OOMs the
    // driver — the standard iterative-algorithm footgun (same reason
    // GraphX checkpoints Pregel state)
    var pending = probes
      .withColumn("cx", expr(s"px div $w")).withColumn("cy", expr(s"py div $w"))
      .localCheckpoint()
    graft.Caches.registerCheckpoint(pending)
    var carried: DataFrame = null // (p_id, q_id, dist2) top-k so far, pending only
    var out: DataFrame = null
    var ring = 0
    while (ring <= maxRing && !pending.isEmpty) {
      val ringCand = pending
        .withColumn("dx", explode(sequence(lit(-ring), lit(ring))))
        .withColumn("dy", explode(sequence(lit(-ring), lit(ring))))
        .where(greatest(abs(col("dx")), abs(col("dy"))) === ring)
        .withColumn("gx", col("cx") + col("dx"))
        .withColumn("gy", col("cy") + col("dy"))
        .join(q, Seq("gx", "gy"))
        .select(col("p_id"), col("q_id"),
          ((col("px") - col("qx")) * (col("px") - col("qx")) +
            (col("py") - col("qy")) * (col("py") - col("qy"))).as("dist2"))
      val cand = if (carried == null) ringCand else carried.unionByName(ringCand)
      val topk = cand.withColumn("rn", row_number().over(win))
        .where(col("rn") <= k).localCheckpoint()
      // every eager checkpoint in this loop registers for the harness's
      // per-query drain (r19): Dataset.unpersist cannot reach RDD-level
      // checkpoint stores, and this loop's rings would otherwise pile up
      // until driver GC. topk stores CANNOT retire per-ring — the lazy
      // `out` union references every ring's topk until its own fold.
      graft.Caches.registerCheckpoint(topk)
      val bound = ring.toLong * w
      val done = topk.groupBy("p_id")
        .agg(count(lit(1)).as("nc"), max(col("dist2")).as("md"))
        .where(col("nc") === k && col("md") <= lit(bound * bound))
        .select("p_id")
      val newOut = topk.join(done, Seq("p_id"), "left_semi")
      out = if (out == null) newOut else out.unionByName(newOut)
      // fold the resolved-output union down every 8 rings: each term is
      // checkpoint-shallow, but the union tree itself otherwise grows
      // one node per ring and a long void walk hands the final action
      // an O(rings)-wide plan
      if (ring % 8 == 7) {
        out = out.localCheckpoint()
        graft.Caches.registerCheckpoint(out)
      }
      val prevPending = pending
      pending = pending.join(done, Seq("p_id"), "left_anti").localCheckpoint()
      graft.Caches.registerCheckpoint(pending)
      // the superseded pending set is fully consumed (this eager
      // checkpoint just read it; topk, the only other reader, is
      // checkpointed) — retire it now (r19)
      graft.dedup.Dedup.retireCheckpoint(prevPending)
      carried = topk.join(done, Seq("p_id"), "left_anti")
        .select(col("p_id"), col("q_id"), col("dist2"))
      ring += 1
    }
    val tail = if (carried == null) null
      else carried.withColumn("rn", row_number().over(win)).where(col("rn") <= k)
    val all = (out, tail) match {
      case (null, null) => // empty probe side: zero rounds ran
        probes.sparkSession.emptyDataFrame
          .select(lit(0L).as("p_id"), lit(0L).as("q_id"),
            lit(0L).as("dist2"), lit(0).as("rn")).limit(0)
      case (null, t) => t
      case (o, null) => o
      case (o, t) => o.unionByName(t)
    }
    all.select(col("p_id"), col("q_id"), col("dist2"),
      col("rn").cast("long").as("rn"))
  }

  /** q225: the q219 point sets through [[knnUnbounded]] — no radius
    * bound; the oracle is the naive theta join + window with no WHERE.
    * SpatialJoinSpec additionally pins the plan cartesian-free, the
    * ring-termination proof against brute force at another SF, and the
    * fewer-than-k build side. */
  def q225KnnUnbounded(spark: SparkSession, dir: String): DataFrame = {
    val p = customer(spark, dir).select(col("c_custkey").as("p_id"),
      pmod(col("c_custkey") * 13L, lit(1000L)).as("px"),
      pmod(col("c_custkey") * 41L, lit(1000L)).as("py"))
    val q = supplier(spark, dir).select(col("s_suppkey").as("q_id"),
      pmod(col("s_suppkey") * 23L, lit(1000L)).as("qx"),
      pmod(col("s_suppkey") * 53L, lit(1000L)).as("qy"))
    knnUnbounded(p, q, k = 3, w = 64L, maxRing = 1000 / 64 + 2)
      .orderBy(col("p_id"), col("rn"))
  }

  val q225Sql: String =
    "WITH cand AS (SELECT c_custkey AS p_id, s_suppkey AS q_id, " +
      "CAST(((c_custkey*13)%1000 - (s_suppkey*23)%1000) * ((c_custkey*13)%1000 - (s_suppkey*23)%1000) + " +
      "((c_custkey*41)%1000 - (s_suppkey*53)%1000) * ((c_custkey*41)%1000 - (s_suppkey*53)%1000) AS BIGINT) AS dist2 " +
      "FROM customer, supplier), " +
      "ranked AS (SELECT p_id, q_id, dist2, " +
      "CAST(row_number() OVER (PARTITION BY p_id ORDER BY dist2, q_id) AS BIGINT) AS rn FROM cand) " +
      "SELECT p_id, q_id, dist2, rn FROM ranked WHERE rn <= 3 ORDER BY p_id, rn"

  /** q226: `geo_distance` — the codegen'd haversine Expression
    * ([[graft.functions.GeoDistance]], meters on the IUGG sphere) as a
    * geographic radius query: customers at derived lon/lat, all within
    * 2000 km of Boulder. The oracle recomputes the same formula in
    * DuckDB; results compare in WHOLE METERS (CAST(round(..))) so the
    * two engines' trig ulps (~1e-9 m at this magnitude) can never
    * flip a hash. */
  def q226GeoDistance(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GeoFunctions.register(spark)
    val pts = customer(spark, dir).select(col("c_custkey"),
      (pmod(col("c_custkey") * 13L, lit(3600L)).cast("double") / 10.0 - 180.0).as("lon"),
      (pmod(col("c_custkey") * 41L, lit(1600L)).cast("double") / 10.0 - 80.0).as("lat"))
    pts.withColumn("dist_m",
        round(graft.functions.GeoFunctions.distance(
          col("lon"), col("lat"), lit(-105.27), lit(40.01))).cast("long"))
      .where(col("dist_m") <= 2000000L)
      .select(col("c_custkey"), col("dist_m"))
      .orderBy(col("c_custkey"))
  }

  val q226Sql: String = {
    val lon = "((c_custkey*13)%3600)/10.0 - 180.0"
    val lat = "((c_custkey*41)%1600)/10.0 - 80.0"
    val hav = s"2 * 6371008.8 * asin(sqrt(" +
      s"pow(sin(radians(40.01 - ($lat)) / 2), 2) + " +
      s"cos(radians(($lat))) * cos(radians(40.01)) * " +
      s"pow(sin(radians(-105.27 - ($lon)) / 2), 2)))"
    s"SELECT c_custkey, dist_m FROM (SELECT c_custkey, " +
      s"CAST(round($hav) AS BIGINT) AS dist_m FROM customer) " +
      "WHERE dist_m <= 2000000 ORDER BY c_custkey"
  }

  /** q201: q24 on VARIANT (r15, verdict item 5 — Spark 4's native
    * open-schema type, SURVEY §1.2's named target for the reference's
    * `Type.Any`/additionalProperties fields, task.ts:13-14,50): the
    * props JSON parses ONCE per row into a binary variant
    * (`parse_json`), and every downstream access is a typed
    * `variant_get` over that binary — no per-access string re-parse,
    * which is exactly what the q24 string path pays when a query
    * touches several fields. The oracle is q24's SQL VERBATIM: variant
    * is an encoding change, never a semantics change (same NULL
    * behavior for missing paths, same int coercion). The raw-string
    * column remains the fidelity representation for the CAIC pipeline
    * (geometry stays ragged JSON); variant is the ANALYTICS path. */
  def q201VariantExtract(spark: SparkSession, dir: String): DataFrame = {
    val v = parse_json(col("props"))
    val k = variant_get(v, "$.k", "int")
    events(spark, dir)
      .select(col("event_type"), k.as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        (sum(col("k")) / count(col("k"))).as("avg_k"),
        sum(when(col("k") > 50, 1L).otherwise(0L)).as("n_high"))
      .orderBy(col("event_type"))
  }

  /** Sliding (overlapping) windows in batch — each event lands in TWO
    * 1-hour windows at a 30-minute slide. Spark's `window()` generates
    * the overlap with an Expand (no self-union, single shuffle on the
    * window key); the oracle reconstructs the same two buckets per event
    * explicitly. Both engines align 30-minute buckets identically
    * (epoch-anchored), so window starts agree byte-for-byte. Same
    * rounded-sum determinism policy as q22. */
  def q73SlidingWindow(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("window.start").cast("timestamp_ntz").as("w_start"),
        col("n"), col("sum_value"))
      .orderBy(col("w_start"))

  val q73Sql: String =
    "WITH w AS (SELECT unnest([time_bucket(INTERVAL '30 minutes', ts), " +
      "time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes']) AS w_start, value FROM events) " +
      "SELECT w_start, count(*) AS n, round(sum(value), 2) AS sum_value " +
      "FROM w GROUP BY 1 ORDER BY w_start"

  /** SCD2 (type-2 slowly-changing-dimension) history build: collapse
    * each user's event stream into validity intervals over the tracked
    * attribute (`event_type` here) — one row per attribute RUN, with
    * [valid_from, valid_to) and a version counter; valid_to is NULL on
    * the open (current) interval. The standard change-data history
    * pattern: a dimension snapshot joinable as-of any point in time.
    *
    * Scale shape: both window passes are PARTITIONED BY user_id — each
    * entity's history sorts independently in parallel, so cost is one
    * shuffle on user_id regardless of history depth. Ordering ties at
    * equal ts break on event_id (the q23 idiom) so both engines pick
    * identical run boundaries. */
  /** Run starts of each user's event_type stream — the SCD2 interval
    * openings (shared by q89, which closes the intervals, and q93, which
    * as-of joins against them). */
  private def scd2Starts(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
  }

  def q89Scd2(spark: SparkSession, dir: String): DataFrame =
    scd2Of(events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type")))
      .orderBy(col("user_id"), col("version"))

  /** The run-compress + close chain over a (user_id, ts, event_id,
    * event_type [, extra]) input — THE single copy of the SCD2 boundary
    * predicate and (ts, event_id) tie-break, shared by the batch build
    * (q89), the incremental apply (q113), and kept in lockstep with
    * q89Sql (which is also q113's oracle). `base` offsets each entity's
    * version counter (q113 passes the carried open-row version base;
    * the batch build starts at 0). Unordered output. */
  private def scd2Of(ev: DataFrame, base: Column = lit(0L)): DataFrame = {
    // lead/row_number over the FILTERED rows: the next run start closes
    // this run's interval
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    ev.withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
      .withColumn("version", row_number().over(w).cast("long") + base)
      .withColumn("valid_to", lead(col("ts"), 1).over(w))
      .select(col("user_id"), col("version"), col("event_type"),
        col("ts").as("valid_from"), col("valid_to"))
  }

  /** q113: incremental SCD2 apply — merge a CDC delta (events at/after a
    * cutoff) into an existing SCD2 history (built below the cutoff)
    * WITHOUT touching closed rows: the open row of each entity becomes a
    * seed row (its valid_from/type, version base carried alongside,
    * event_id = -1 so it sorts before any real event at its timestamp),
    * the run-compression windows rerun over seeds + delta ONLY, and the
    * recomputed segment's versions continue each entity's counter via a
    * partition-max of the carried base (same shuffle key as the runs
    * window — no extra exchange). Run compression is associative, so the
    * result equals the batch rebuild over ALL events EXACTLY — which is
    * the oracle: q113's DuckDB SQL is q89's verbatim. This is the
    * nightly-lakehouse maintenance shape: cost scales with
    * |delta| + |active entities|, never with closed-history depth.
    * (Here the "existing history" is itself derived from the same events
    * table below the cutoff so the query is self-contained; a deployment
    * would read it from storage.) */
  def q113Scd2Apply(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("2024-01-20 00:00:00").cast("timestamp_ntz")
    val ev = events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    // cached: `closed` and `seeds` both read the pre-cutoff history —
    // one run-compression pass, not two. Registered for harness-side
    // unpersist (graft.Caches).
    val hist = graft.Caches.register(scd2Of(ev.filter(col("ts") < cutoff)).cache())
    val closed = hist.filter(col("valid_to").isNotNull)
    val seeds = hist.filter(col("valid_to").isNull)
      .select(col("user_id"), col("valid_from").as("ts"),
        lit(-1L).as("event_id"), col("event_type"),
        (col("version") - 1L).as("vbase"))
    val delta = ev.filter(col("ts") >= cutoff)
      .withColumn("vbase", lit(null).cast("long"))
    // version continuation: partition-max of the carried base rides the
    // same user_id shuffle as scd2Of's windows — no extra exchange
    val wu = Window.partitionBy(col("user_id"))
    val reopened = scd2Of(
      seeds.unionByName(delta)
        .withColumn("base", coalesce(max(col("vbase")).over(wu), lit(0L))),
      base = col("base"))
    closed.unionByName(reopened).orderBy(col("user_id"), col("version"))
  }

  val q89Sql: String =
    "WITH s AS (SELECT user_id, ts, event_id, event_type, " +
      "lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type FROM events), " +
      "r AS (SELECT user_id, ts, event_id, event_type FROM s " +
      "WHERE prev_type IS NULL OR prev_type <> event_type) " +
      "SELECT user_id, row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS version, " +
      "event_type, ts AS valid_from, " +
      "lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to " +
      "FROM r ORDER BY user_id, version"

  /** Next-day retention: for each active day, how many users come back
    * the following day. distinct (user, day) activity joined to itself
    * shifted by one day — the cohort-analytics staple. The ratio stays
    * unrounded integer/integer division (bit-identical, q22 policy).
    *
    * Scale shape: the distinct and the self-join both shuffle on
    * (user_id, day) — two exchanges total, each over the COMPRESSED
    * activity table (one row per user-day, not per event). */
  def q90Retention(spark: SparkSession, dir: String): DataFrame = {
    // cached: both sides of the self-join read the same compressed
    // activity table — one events scan + one distinct, not two of each.
    // Registered for harness-side unpersist (graft.Caches).
    val d = graft.Caches.register(events(spark, dir)
      .select(col("user_id"),
        date_trunc("day", col("ts")).cast("timestamp_ntz").as("day"))
      .distinct().cache())
    d.as("a").join(d.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("b.day") === col("a.day") + expr("INTERVAL 1 DAY"), "left")
      .groupBy(col("a.day"))
      .agg(count(lit(1)).as("n_active"),
        count(col("b.user_id")).as("n_retained"))
      .withColumn("retention",
        col("n_retained").cast("double") / col("n_active").cast("double"))
      .orderBy(col("day"))
  }

  // DuckDB's date_trunc('day') yields DATE (unlike 'hour' → TIMESTAMP);
  // cast back so the column type matches Spark's timestamp_ntz.
  val q90Sql: String =
    "WITH d AS (SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day FROM events) " +
      "SELECT a.day, count(*) AS n_active, count(b.user_id) AS n_retained, " +
      "CAST(count(b.user_id) AS DOUBLE) / count(*) AS retention " +
      "FROM d a LEFT JOIN d b ON a.user_id = b.user_id AND b.day = a.day + INTERVAL 1 DAY " +
      "GROUP BY a.day ORDER BY a.day"

  /** q157: q90's retention computed by EXACT BITMAP SET ALGEBRA — the
    * ClickHouse/Druid bitmap-cube pattern (q108's roaring-style blocks
    * upgraded from counting to set operations): per (day, user-block)
    * the active-user set is a 64-bit mask built by `bit_or`, day-over-
    * day retained users are popcount(bits_d AND bits_d+1) summed over
    * shared blocks. Output is bit-identical to q90 (same activity set,
    * same left-join semantics via the null-absorbing AND, same
    * count/count division), so q90's SQL is the oracle VERBATIM — the
    * q125/q113 "same answer by theorem" precedent.
    *
    * Why it scales past q90's plan: the user-level distinct and the
    * user-level self-join disappear — duplicate (user, day) events are
    * absorbed by `bit_or` IN THE PARTIAL AGGREGATE (a|a = a, no
    * distinct pre-shuffle), and the join moves |users|/64 block rows
    * instead of |users| user rows. At 100 TB the block table is the
    * materializable cube: any day-pair/range intersection or union is
    * block-local set algebra over it, never a re-scan of events. */
  /** (day, block, mask) projection of an events frame — the map-side
    * half of the bitmap cube, shared by q157, the incremental ingest
    * and q158. Arithmetic shift + pmod keep (block, bit) a bijection
    * over ALL longs — truncating `/` or `div` with sign-following `%`
    * would collide e.g. user −1 with user 63 on a signed/hashed id
    * space and silently undercount (identical on the non-negative ids
    * this corpus has, but the q90-equality theorem should not carry a
    * hidden domain restriction). */
  def bitmapBlocksOf(ev: DataFrame): DataFrame =
    ev.select(date_trunc("day", col("ts")).cast("timestamp_ntz").as("day"),
        shiftright(col("user_id"), 6).as("block"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(user_id, 64) AS INT))").as("mask"))
      .groupBy(col("day"), col("block"))
      .agg(bit_or(col("mask")).as("bits"))

  /** Retention from a (day, block, bits) cube — q157/q158's shared
    * tail. Input may carry the same (day, block) more than once
    * (append-only ingest segments): the leading bit_or merge folds
    * them, and is a no-op on already-merged cubes. */
  def retentionFromBlocks(cube: DataFrame): DataFrame = {
    val blocks = graft.Caches.register(cube
      .groupBy(col("day"), col("block"))
      .agg(bit_or(col("bits")).as("bits"))
      .cache())
    blocks.as("a").join(blocks.as("b"),
        col("a.block") === col("b.block") &&
          col("b.day") === col("a.day") + expr("INTERVAL 1 DAY"), "left")
      .groupBy(col("a.day"))
      .agg(sum(bit_count(col("a.bits"))).cast("long").as("n_active"),
        sum(bit_count(coalesce(col("a.bits").bitwiseAND(col("b.bits")), lit(0L))))
          .cast("long").as("n_retained"))
      .withColumn("retention",
        col("n_retained").cast("double") / col("n_active").cast("double"))
      .orderBy(col("day"))
  }

  def q157BitmapRetention(spark: SparkSession, dir: String): DataFrame =
    retentionFromBlocks(bitmapBlocksOf(events(spark, dir)))

  /** Incremental bitmap-cube maintenance: append a batch's (day, block,
    * bits) segment to an append-only store; readers merge segments with
    * bit_or. Because OR is idempotent AND commutative (a|a = a), a
    * replayed, duplicated or reordered segment can never corrupt the
    * cube — the crash-safety property the Bloom/LSH ingests need
    * `replayedStep` commit markers for falls out of the algebra here.
    * Per-batch cost is one partial-agged shuffle of the BATCH only;
    * the store is never read on the write path. */
  def bitmapCubeIngest(batch: DataFrame, storePath: String): Unit =
    bitmapBlocksOf(batch).write.mode("append").parquet(storePath)

  def bitmapCubeRetention(spark: SparkSession, storePath: String): DataFrame =
    retentionFromBlocks(
      spark.read.parquet(storePath).select(col("day"), col("block"), col("bits")))

  /** q158: the q157 cube maintained INCREMENTALLY — events arrive as
    * three deterministic batches (pmod(event_id, 3)), each appended as
    * its own segment, and retention is computed FROM THE STORE. The
    * result must equal the full-corpus q90 (oracle = q90's SQL
    * verbatim), proving segment-merge exactness end-to-end; the spec
    * additionally pins batch-order invariance. */
  def q158BitmapIngest(spark: SparkSession, dir: String): DataFrame = {
    val store = graft.RunTag.scratchFresh("bitmap_cube")
    val ev = events(spark, dir)
    (0 until 3).foreach(b =>
      bitmapCubeIngest(ev.where(pmod(col("event_id"), lit(3)) === b), store))
    bitmapCubeRetention(spark, store)
  }

  /** Point-in-time (feature-store) join: each order picks up the SCD2
    * attribute (q89's event_type history, keyed o_custkey = user_id)
    * that was in effect AT the order date — never a later version (no
    * leakage), never a stale earlier one. NULL where the order predates
    * the user's first interval.
    *
    * Implemented the q21 way, not as an interval join: a per-row
    * interval predicate plans a nested-loop re-scan of the history per
    * fact row, while union + one shuffle on user_id + a running
    * `last(attr ignoreNulls)` costs one exchange and one sort however
    * deep the history — the PIT-join plan that survives 100 TB fact
    * tables. Ties at an interval boundary go to the NEW version (run
    * start sorts before the fact row at equal ts), matching the
    * [valid_from, valid_to) convention. */
  def q93PitJoin(spark: SparkSession, dir: String): DataFrame = {
    val s = scd2Starts(spark, dir).select(
      lit(null).cast("long").as("o_orderkey"), col("user_id"),
      col("ts"), lit(0).as("is_fact"), col("event_type").as("attr"))
    val o = orders(spark, dir).select(
      col("o_orderkey"), col("o_custkey").as("user_id"),
      col("o_orderdate").as("ts"), lit(1).as("is_fact"),
      lit(null).cast("string").as("attr"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("is_fact"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    s.unionByName(o)
      .withColumn("as_of_type", last(col("attr"), ignoreNulls = true).over(w))
      .filter(col("is_fact") === 1)
      .select(col("o_orderkey"), col("user_id"), col("as_of_type"))
      .orderBy(col("o_orderkey"))
  }

  // The oracle states the SAME semantics as the declarative interval
  // join over the q89 interval table ([valid_from, valid_to), NULL-open
  // tail) — a different algorithm arriving at identical rows.
  val q93Sql: String =
    "WITH s AS (SELECT user_id, ts, event_id, event_type, " +
      "lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type FROM events), " +
      "r AS (SELECT user_id, ts, event_id, event_type FROM s " +
      "WHERE prev_type IS NULL OR prev_type <> event_type), " +
      "iv AS (SELECT user_id, event_type, ts AS valid_from, " +
      "lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to FROM r) " +
      "SELECT o.o_orderkey, o.o_custkey AS user_id, iv.event_type AS as_of_type " +
      "FROM orders o LEFT JOIN iv ON iv.user_id = o.o_custkey " +
      "AND iv.valid_from <= o.o_orderdate " +
      "AND (iv.valid_to IS NULL OR o.o_orderdate < iv.valid_to) " +
      "ORDER BY o.o_orderkey"

  /** q102: statistical anomaly flagging — events whose value sits more
    * than 3 sample-standard-deviations from their event-type mean, the
    * data-QC pass that catches broken instrumentation/poisoned feeds
    * before they reach training. Plan shape: per-type stats are one
    * partial-agg pass (|types| rows) broadcast back onto the scan —
    * the fact table never shuffles. Cross-engine float note: avg/stddev
    * over doubles are not order-independent-exact, so the emitted
    * z-score is rounded to 6 decimals (q54 policy) and the 3σ cut uses
    * the raw z — a flag flip would need |z−3| within accumulated-ulp
    * distance (~1e-12), unobservable at any tested SF. */
  def q102Anomalies(spark: SparkSession, dir: String): DataFrame = {
    val stats = events(spark, dir)
      .groupBy(col("event_type"))
      .agg(avg(col("value")).as("mu"), stddev_samp(col("value")).as("sd"))
    val z = (col("value") - col("mu")) / col("sd")
    events(spark, dir)
      .join(broadcast(stats), "event_type")
      .withColumn("z", z)
      .where(abs(col("z")) > 3.0)
      .select(col("event_id"), col("event_type"), col("value"),
        round(col("z"), 6).as("z_score"))
      .orderBy(col("event_id"))
  }

  val q102Sql: String =
    "WITH stats AS (SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sd " +
      "FROM events GROUP BY event_type) " +
      "SELECT event_id, event_type, value, round((value - mu) / sd, 6) AS z_score " +
      "FROM events JOIN stats USING (event_type) " +
      "WHERE abs((value - mu) / sd) > 3.0 ORDER BY event_id"

  /** q106: per-type linear trend — least-squares slope/intercept/R² of
    * event value against the day number, the drift detector (is this
    * metric degrading over time, and is the fit meaningful?) that
    * complements q102's point anomalies. The regr_* family aggregates
    * co-moment state exactly like corr (one partial-merged shuffle of
    * |types| rows); 6-decimal rounding absorbs merge-order ulps (q105
    * policy). Day epoch matches the q39/q89 oracle idiom. */
  def q106Trend(spark: SparkSession, dir: String): DataFrame = {
    val dayNum = datediff(col("ts").cast("date"), lit("1990-01-01").cast("date"))
      .cast("double")
    events(spark, dir)
      .select(col("event_type"), col("value"), dayNum.as("x"))
      .groupBy(col("event_type"))
      .agg(
        round(regr_slope(col("value"), col("x")), 6).as("slope"),
        round(regr_intercept(col("value"), col("x")), 6).as("intercept"),
        round(regr_r2(col("value"), col("x")), 6).as("r2"),
        count(lit(1)).as("n"))
      .orderBy(col("event_type"))
  }

  val q106Sql: String =
    "SELECT event_type, " +
      "round(regr_slope(value, x), 6) AS slope, " +
      "round(regr_intercept(value, x), 6) AS intercept, " +
      "round(regr_r2(value, x), 6) AS r2, count(*) AS n " +
      "FROM (SELECT event_type, value, " +
      "CAST(date_diff('day', DATE '1990-01-01', CAST(ts AS DATE)) AS DOUBLE) AS x FROM events) " +
      "GROUP BY event_type ORDER BY event_type"

  /** q118: gap fill + forward fill — resample each user's event history
    * onto a complete daily grid: per-user daily value sums, a generated
    * [first_day, last_day] calendar per user, and last-observation-
    * carried-forward for the silent days, flagged `is_observed = 0`.
    * The resampling step every feature pipeline needs before windowed
    * models (a lag feature over raw event days silently skips gaps),
    * and the missing time-series op beside as-of (q21), SCD2 (q89/q113)
    * and PIT (q93).
    *
    * Scale shape: one shuffle builds the per-(user, day) sums (cached —
    * read for bounds and for the grid join); the calendar explodes
    * map-side from ONE bounds row per user (never a cross join against
    * a global calendar — a user's grid is bounded by their own span);
    * the fill is a running `last(ignoreNulls)` window per user. Nothing
    * scales with the corpus beyond per-user day spans. Determinism: the
    * daily sum is rounded once at aggregation (6 decimals absorbs
    * summation order, q105 policy) and the fill only MOVES those
    * already-rounded values, so both engines carry identical doubles.
    * First grid day is always observed (it IS the user's min day), so
    * `value` is never null. */
  def q118GapFill(spark: SparkSession, dir: String): DataFrame = {
    val daily = graft.Caches.register(events(spark, dir)
      .groupBy(col("user_id"),
        date_trunc("day", col("ts")).cast("timestamp_ntz").as("day"))
      .agg(round(sum(col("value")), 6).as("v"))
      .cache())
    val grid = daily.groupBy(col("user_id"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("user_id"),
        explode(sequence(col("d0"), col("d1"), expr("INTERVAL 1 DAY"))).as("day"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    grid.join(daily, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"),
        last(col("v"), ignoreNulls = true).over(w).as("value"),
        col("v").isNotNull.cast("int").as("is_observed"))
      .orderBy(col("user_id"), col("day"))
  }

  val q118Sql: String =
    "WITH daily AS (SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, " +
      "round(sum(value), 6) AS v FROM events GROUP BY 1, 2), " +
      "b AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1), " +
      "grid AS (SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day FROM b) " +
      "SELECT g.user_id, g.day, " +
      "last_value(d.v IGNORE NULLS) OVER (PARTITION BY g.user_id ORDER BY g.day " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value, " +
      "CASE WHEN d.v IS NULL THEN 0 ELSE 1 END AS is_observed " +
      "FROM grid g LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day " +
      "ORDER BY g.user_id, g.day"

  /** q120: ordered conversion funnel — view → click → purchase, each
    * step the FIRST qualifying event at most 7 days after the previous
    * step's first qualifying event. The sequential-pattern operator
    * (MATCH_RECOGNIZE's most common real use) the window family (q39)
    * and sessionization (q23) don't cover: step k's qualifier depends
    * on step k-1's resolved timestamp, not on any fixed predicate.
    *
    * Plan shape: ONE exchange + ONE sort per user — the three step
    * resolutions are running conditional mins over the SAME window
    * spec (partition user, order ts), which Catalyst collapses into a
    * single Window sort; the per-user rollup rides the same
    * partitioning, and the 3-row funnel summary is a broadcast 1-row
    * stats attach (q72 idiom). Ordering ties broken by event_id so the
    * running frame is identical cross-engine (ROWS frames over a
    * non-total order are peer-dependent — the q109 tie lesson).
    * Conversion rates are exact integer-count divisions, round-6. */
  def q120Funnel(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val week = expr("INTERVAL 7 DAY")
    val steps = events(spark, dir)
      .where(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("v_ts", min(when(col("event_type") === "view", col("ts"))).over(w))
      .withColumn("c_ts", min(when(col("event_type") === "click" &&
        col("v_ts").isNotNull && col("ts") >= col("v_ts") &&
        col("ts") <= col("v_ts") + week, col("ts"))).over(w))
      .withColumn("p_ts", when(col("event_type") === "purchase" &&
        col("c_ts").isNotNull && col("ts") >= col("c_ts") &&
        col("ts") <= col("c_ts") + week, col("ts")))
      .groupBy(col("user_id"))
      .agg(max(col("v_ts").isNotNull).as("r1"),
        max(col("c_ts").isNotNull).as("r2"),
        max(col("p_ts").isNotNull).as("r3"))
      .agg(sum(col("r1").cast("long")).as("u1"),
        sum(col("r2").cast("long")).as("u2"),
        sum(col("r3").cast("long")).as("u3"))
    // one 1-row aggregate exploded into the 3 funnel rows — a union of
    // three selects over `steps` would re-derive the whole aggregate
    // (scan + window + rollup) once per branch
    def row(no: Long, name: String, users: String, prev: String) =
      struct(lit(no).as("step_no"), lit(name).as("step"),
        col(users).as("users"),
        round(col(users).cast("double") / nullif(col(prev), lit(0L)).cast("double"), 6)
          .as("conv_rate"))
    steps
      .select(explode(array(
        row(1L, "view", "u1", "u1"),
        row(2L, "click", "u2", "u1"),
        row(3L, "purchase", "u3", "u2"))).as("r"))
      .select(col("r.step_no"), col("r.step"), col("r.users"), col("r.conv_rate"))
      .orderBy(col("step_no"))
  }

  val q120Sql: String =
    "WITH e AS (SELECT user_id, event_id, ts, event_type FROM events " +
      "WHERE event_type IN ('view', 'click', 'purchase')), " +
      "s1 AS (SELECT *, min(CASE WHEN event_type = 'view' THEN ts END) " +
      "OVER (PARTITION BY user_id ORDER BY ts, event_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_ts FROM e), " +
      "s2 AS (SELECT *, min(CASE WHEN event_type = 'click' AND v_ts IS NOT NULL " +
      "AND ts >= v_ts AND ts <= v_ts + INTERVAL 7 DAY THEN ts END) " +
      "OVER (PARTITION BY user_id ORDER BY ts, event_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c_ts FROM s1), " +
      "s3 AS (SELECT *, CASE WHEN event_type = 'purchase' AND c_ts IS NOT NULL " +
      "AND ts >= c_ts AND ts <= c_ts + INTERVAL 7 DAY THEN ts END AS p_ts FROM s2), " +
      "pu AS (SELECT user_id, max(CASE WHEN v_ts IS NOT NULL THEN 1 ELSE 0 END) AS r1, " +
      "max(CASE WHEN c_ts IS NOT NULL THEN 1 ELSE 0 END) AS r2, " +
      "max(CASE WHEN p_ts IS NOT NULL THEN 1 ELSE 0 END) AS r3 FROM s3 GROUP BY user_id), " +
      "agg AS (SELECT CAST(sum(r1) AS BIGINT) AS u1, CAST(sum(r2) AS BIGINT) AS u2, " +
      "CAST(sum(r3) AS BIGINT) AS u3 FROM pu) " +
      "SELECT CAST(1 AS BIGINT) AS step_no, 'view' AS step, u1 AS users, " +
      "round(CAST(u1 AS DOUBLE) / nullif(u1, 0), 6) AS conv_rate FROM agg " +
      "UNION ALL SELECT 2, 'click', u2, round(CAST(u2 AS DOUBLE) / nullif(u1, 0), 6) FROM agg " +
      "UNION ALL SELECT 3, 'purchase', u3, round(CAST(u3 AS DOUBLE) / nullif(u2, 0), 6) FROM agg " +
      "ORDER BY step_no"

  /** q121: distribution drift — symmetric KL divergence of each event
    * type's value distribution between the first and second half of the
    * observation window (split at the median day boundary 2024-01-16),
    * add-one-smoothed over the union of value buckets. The monitoring
    * operator behind "did this metric's SHAPE change", catching drift
    * that q106's linear trend (mean movement) and q102's z-scores
    * (point outliers) both miss. All counts integer; the only float
    * work is the final per-type log sum over ≤ |buckets| terms,
    * round-6 (q105 policy).
    *
    * Plan: one partial-agged shuffle to (type, bucket, half) counts,
    * per-type totals broadcast back over the tiny bucket table, one
    * |types|-row result. */
  def q121KlDrift(spark: SparkSession, dir: String): DataFrame = {
    val cut = lit("2024-01-16").cast("timestamp_ntz")
    val counts = events(spark, dir)
      .groupBy(col("event_type"), floor(col("value") / 50.0).cast("long").as("bucket"))
      .agg(sum(when(col("ts") < cut, 1L).otherwise(0L)).as("ca"),
        sum(when(col("ts") >= cut, 1L).otherwise(0L)).as("cb"))
    val tot = counts.groupBy(col("event_type"))
      .agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"),
        count(lit(1)).as("nbuckets"))
    val pa = (col("ca") + 1).cast("double") / (col("na") + col("nbuckets")).cast("double")
    val pb = (col("cb") + 1).cast("double") / (col("nb") + col("nbuckets")).cast("double")
    counts.join(tot, "event_type")
      .select(col("event_type"), col("na"), col("nb"),
        (pa * log(pa / pb) + pb * log(pb / pa)).as("term"))
      .groupBy(col("event_type"))
      .agg(max(col("na")).as("n_first"), max(col("nb")).as("n_second"),
        round(sum(col("term")), 6).as("kl_sym"))
      .orderBy(col("event_type"))
  }

  val q121Sql: String =
    "WITH c AS (SELECT event_type, CAST(floor(value / 50.0) AS BIGINT) AS bucket, " +
      "sum(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END) AS ca, " +
      "sum(CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END) AS cb " +
      "FROM events GROUP BY 1, 2), " +
      "t AS (SELECT event_type, CAST(sum(ca) AS BIGINT) AS na, " +
      "CAST(sum(cb) AS BIGINT) AS nb, count(*) AS nbuckets FROM c GROUP BY 1), " +
      "j AS (SELECT c.event_type, na, nb, " +
      "CAST(ca + 1 AS DOUBLE) / (na + nbuckets) AS pa, " +
      "CAST(cb + 1 AS DOUBLE) / (nb + nbuckets) AS pb " +
      "FROM c JOIN t USING (event_type)) " +
      "SELECT event_type, max(na) AS n_first, max(nb) AS n_second, " +
      "round(sum(pa * ln(pa / pb) + pb * ln(pb / pa)), 6) AS kl_sym " +
      "FROM j GROUP BY event_type ORDER BY event_type"

  /** q123: robust outlier profile — per-type median, MAD (median
    * absolute deviation), and the count of |x − median| > 3·1.4826·MAD
    * outliers. The heavy-tail-safe twin of q102's z-scores: mean and
    * stddev are themselves dragged by the outliers they're supposed to
    * flag, median/MAD are not (breakdown point 50%). 1.4826 is the
    * standard consistency constant (MAD → σ under normality).
    *
    * Plan: two passes by construction (the deviation median needs the
    * location median first) — each pass one partial-agged shuffle to
    * |types| rows, medians broadcast back over the cached deviation
    * scan (q102's stats-attach idiom). Each median is rounded at the
    * aggregate (see inline comment) so both engines thread identical
    * doubles through the deviations and the outlier threshold. */
  def q123MadOutliers(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir).select(col("event_type"), col("value"))
    // median is rounded BEFORE the deviations: Spark interpolates even
    // counts as a + 0.5·(b − a), DuckDB as (a + b)/2 — up to 1 ulp
    // apart, which would leak into every downstream deviation; round-6
    // re-synchronizes the engines at each median (half-ties measure-zero
    // on interpolated data)
    val med = ev.groupBy(col("event_type"))
      .agg(round(median(col("value")), 6).as("med"))
    val dev = graft.Caches.register(ev.join(broadcast(med), "event_type")
      .select(col("event_type"), abs(col("value") - col("med")).as("ad"))
      .cache())
    val mad = dev.groupBy(col("event_type"))
      .agg(round(median(col("ad")), 6).as("mad"), count(lit(1)).as("n"))
    dev.join(broadcast(mad), "event_type")
      .groupBy(col("event_type"))
      .agg(max(col("mad")).as("mad"), max(col("n")).as("n"),
        sum(when(col("ad") > lit(1.4826) * col("mad") * lit(3.0), 1L)
          .otherwise(0L)).as("n_outliers"))
      .join(broadcast(med), "event_type")
      .select(col("event_type"), col("med"), col("mad"), col("n"), col("n_outliers"))
      .orderBy(col("event_type"))
  }

  val q123Sql: String =
    "WITH med AS (SELECT event_type, round(median(value), 6) AS med FROM events GROUP BY 1), " +
      "dev AS (SELECT e.event_type, abs(value - med) AS ad " +
      "FROM events e JOIN med USING (event_type)), " +
      "mad AS (SELECT event_type, round(median(ad), 6) AS mad, count(*) AS n " +
      "FROM dev GROUP BY 1) " +
      "SELECT d.event_type, max(med.med) AS med, max(mad.mad) AS mad, " +
      "CAST(max(mad.n) AS BIGINT) AS n, " +
      "CAST(sum(CASE WHEN ad > CAST(1.4826 AS DOUBLE) * mad.mad * CAST(3.0 AS DOUBLE) " +
      "THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers " +
      "FROM dev d JOIN mad USING (event_type) JOIN med USING (event_type) " +
      "GROUP BY d.event_type ORDER BY d.event_type"

  /** q126: changepoint detection — per event type, the split day that
    * maximizes the absolute mean shift |mean_before − mean_after| over
    * the daily series (binary segmentation's scoring step, the
    * drift-LOCALIZER where q106 only measures a global slope and q121
    * only scores a fixed half split). Ties go to the earliest day.
    *
    * Determinism is the interesting part: windowed prefix sums of
    * DOUBLES are engine-divergent (Spark accumulates sequentially,
    * DuckDB's windowed aggregates use segment trees — different
    * association order, different ulps), so the values are converted to
    * EXACT INTEGER CENTS first (the fixture's 2-decimal values make
    * round(value·100) lossless). Every prefix/total sum is then integer
    * math, and the means/shift are a fixed chain of IEEE divisions on
    * identical integers — bit-identical cross-engine with no rounding
    * anywhere except the display columns.
    *
    * Plan: one partial-agged shuffle to (type, day) cents/counts, one
    * prefix window per type, totals joined back by broadcast, rank-1
    * window on (shift DESC, day ASC). Everything after the first
    * shuffle operates on |types|·|days| rows. */
  def q126Changepoint(spark: SparkSession, dir: String): DataFrame = {
    val daily = events(spark, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).cast("timestamp_ntz").as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("cents"),
        count(lit(1)).as("cnt"))
    val tot = daily.groupBy(col("event_type"))
      .agg(sum(col("cents")).as("tc"), sum(col("cnt")).as("tn"))
    val wPrev = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val scored = daily
      .withColumn("lc", sum(col("cents")).over(wPrev))
      .withColumn("ln", sum(col("cnt")).over(wPrev))
      .where(col("ln").isNotNull) // first day has no left segment
      .join(broadcast(tot), "event_type")
      .withColumn("mb", (col("lc").cast("double") / lit(100.0)) / col("ln"))
      .withColumn("ma", ((col("tc") - col("lc")).cast("double") / lit(100.0)) /
        (col("tn") - col("ln")))
      .withColumn("shift", abs(col("mb") - col("ma")))
    scored
      .withColumn("rn", row_number().over(Window.partitionBy(col("event_type"))
        .orderBy(col("shift").desc, col("day"))))
      .where(col("rn") === 1)
      .select(col("event_type"), col("day").as("cut_day"),
        round(col("mb"), 6).as("mean_before"), round(col("ma"), 6).as("mean_after"),
        round(col("shift"), 6).as("mean_shift"))
      .orderBy(col("event_type"))
  }

  val q126Sql: String =
    "WITH daily AS (SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, " +
      "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents, count(*) AS cnt " +
      "FROM events GROUP BY 1, 2), " +
      "tot AS (SELECT event_type, CAST(sum(cents) AS BIGINT) AS tc, " +
      "CAST(sum(cnt) AS BIGINT) AS tn FROM daily GROUP BY 1), " +
      "pre AS (SELECT *, CAST(sum(cents) OVER w AS BIGINT) AS lc, " +
      "CAST(sum(cnt) OVER w AS BIGINT) AS ln FROM daily " +
      "WINDOW w AS (PARTITION BY event_type ORDER BY day " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)), " +
      "sc AS (SELECT pre.event_type, day, " +
      "(CAST(lc AS DOUBLE) / 100.0) / ln AS mb, " +
      "(CAST(tc - lc AS DOUBLE) / 100.0) / (tn - ln) AS ma " +
      "FROM pre JOIN tot USING (event_type) WHERE ln IS NOT NULL), " +
      "rk AS (SELECT event_type, day, mb, ma, abs(mb - ma) AS shift, " +
      "row_number() OVER (PARTITION BY event_type ORDER BY abs(mb - ma) DESC, day) AS rn FROM sc) " +
      "SELECT event_type, day AS cut_day, round(mb, 6) AS mean_before, " +
      "round(ma, 6) AS mean_after, round(shift, 6) AS mean_shift " +
      "FROM rk WHERE rn = 1 ORDER BY event_type"

  /** q128: journey mining — the top-10 3-step event-type sequences that
    * occur WITHIN a session (q23's 30-minute-gap sessions), the "what do
    * users actually do" sequence-frequency view that complements q120's
    * fixed-funnel conversion (funnel asks "how many complete THIS
    * path"; this asks "which paths happen"). Trigrams never cross a
    * session boundary — that's the analytical point of sessionizing
    * first.
    *
    * Plan: ONE exchange on user_id serves both window layers — the
    * session-id running sum partitions by user, and the trigram leads
    * partition by (user, session), which hash(user_id) already
    * clusters, so Spark adds only a sort; the trigram counts
    * partial-agg before their one shuffle and the top-10 is
    * TakeOrdered with a (cnt DESC, journey) total order. */
  def q128Journeys(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wSess = Window.partitionBy(col("user_id"), col("session_id"))
      .orderBy(col("ts"), col("event_id"))
    events(spark, dir)
      .withColumn("prev_us", lag(unix_micros(col("ts").cast("timestamp")), 1).over(w))
      .withColumn("new_s",
        when(col("prev_us").isNull ||
          unix_micros(col("ts").cast("timestamp")) - col("prev_us") > 1800000000L, 1)
          .otherwise(0))
      .withColumn("session_id", sum(col("new_s")).over(wrun))
      .withColumn("t2", lead(col("event_type"), 1).over(wSess))
      .withColumn("t3", lead(col("event_type"), 2).over(wSess))
      .where(col("t3").isNotNull)
      .select(concat_ws(">", col("event_type"), col("t2"), col("t3")).as("journey"))
      .groupBy(col("journey")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("journey"))
      .limit(10)
  }

  val q128Sql: String =
    "WITH g AS (SELECT user_id, event_id, ts, event_type, " +
      "CASE WHEN lag(epoch_us(ts)) OVER w IS NULL OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000 " +
      "THEN 1 ELSE 0 END AS new_s FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
      "s AS (SELECT user_id, event_id, ts, event_type, " +
      "CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM g), " +
      "t AS (SELECT event_type AS t1, lead(event_type, 1) OVER w2 AS t2, " +
      "lead(event_type, 2) OVER w2 AS t3 FROM s " +
      "WINDOW w2 AS (PARTITION BY user_id, session_id ORDER BY ts, event_id)) " +
      "SELECT t1 || '>' || t2 || '>' || t3 AS journey, count(*) AS cnt " +
      "FROM t WHERE t3 IS NOT NULL GROUP BY 1 ORDER BY cnt DESC, journey LIMIT 10"

  /** q152: exponential moving average (EMA, α = 0.3) over each event
    * type's daily value series — the smoothing pass monitoring stacks
    * run before thresholding (q102's flags on a noisy daily series fire
    * on single spikes; the EMA trend is what drift/alerting compares
    * against). The interesting part is the SHAPE: EMA is an
    * order-dependent recurrence (ema_i = α·v_i + (1−α)·ema_{i−1}), so
    * no plain window frame can express it — windows compose
    * associative aggregates, a recurrence is a left fold. Re-expressed
    * Spark-first: one shuffle to daily sums, one groupBy collecting
    * each type's (day, v) series, then the fold runs MAP-SIDE as a
    * Catalyst `aggregate` higher-order function building the EMA array
    * (the q132 fold idiom — zero UDFs, codegen-friendly), posexploded
    * back to rows.
    *
    * Scale shape: cost after the daily rollup is O(series length) per
    * type, map-side; series length is bounded by the calendar (a year
    * of days = 365 elements), never by event volume — exactly how a
    * production metrics store materializes smoothed series. For
    * multi-year series the q81 two-level carry applies (fold per
    * chunk + broadcast chunk-boundary carry). Determinism: daily sums
    * are rounded once at aggregation (q118 policy); the fold is
    * exact-IEEE with literals 0.3/0.7 parsing to identical doubles in
    * both engines and the oracle replaying the identical recurrence as
    * a recursive CTE; only the REPORTED ema is rounded. */
  def q152EmaSmoothing(spark: SparkSession, dir: String): DataFrame = {
    val daily = events(spark, dir)
      .groupBy(col("event_type"),
        date_trunc("day", col("ts")).cast("timestamp_ntz").as("day"))
      .agg(round(sum(col("value")), 6).as("v"))
    val series = daily.groupBy(col("event_type"))
      .agg(sort_array(collect_list(struct(col("day"), col("v")))).as("s"))
    val ema = aggregate(
      slice(col("s"), lit(2), greatest(size(col("s")) - 1, lit(0))),
      array(struct(col("s")(0).getField("day").as("day"),
        col("s")(0).getField("v").as("v"),
        col("s")(0).getField("v").as("ema"))),
      (acc, x) => concat(acc, array(struct(
        x.getField("day").as("day"),
        x.getField("v").as("v"),
        (lit(0.3) * x.getField("v") +
          lit(0.7) * element_at(acc, -1).getField("ema")).as("ema")))))
    series
      .select(col("event_type"), explode(ema).as("e"))
      .select(col("event_type"), col("e.day").as("day"), col("e.v").as("v"),
        round(col("e.ema"), 6).as("ema"))
      .orderBy(col("event_type"), col("day"))
  }

  val q152Sql: String =
    "WITH RECURSIVE daily AS (SELECT event_type, " +
      "CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, round(sum(value), 6) AS v " +
      "FROM events GROUP BY 1, 2), " +
      "d AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS rn FROM daily), " +
      "r AS (SELECT event_type, day, v, v AS ema, rn FROM d WHERE rn = 1 " +
      "UNION ALL SELECT d.event_type, d.day, d.v, " +
      "CAST(0.3 AS DOUBLE) * d.v + CAST(0.7 AS DOUBLE) * r.ema, d.rn " +
      "FROM d JOIN r ON d.event_type = r.event_type AND d.rn = r.rn + 1) " +
      "SELECT event_type, day, v, round(ema, 6) AS ema " +
      "FROM r ORDER BY event_type, day"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q152_ema_smoothing" -> q152EmaSmoothing _,
    "q118_gap_fill" -> q118GapFill _,
    "q120_funnel" -> q120Funnel _,
    "q121_kl_drift" -> q121KlDrift _,
    "q123_mad_outliers" -> q123MadOutliers _,
    "q126_changepoint" -> q126Changepoint _,
    "q128_journeys" -> q128Journeys _,
    "q102_anomalies" -> q102Anomalies _,
    "q106_trend" -> q106Trend _,
    "q21_asof_join" -> q21AsofJoin _,
    "q22_hourly_stats" -> q22HourlyStats _,
    "q23_sessionize" -> q23Sessionize _,
    "q141_concurrency_peak" -> q141ConcurrencyPeak _,
    "q155_interval_join" -> q155IntervalJoin _,
    "q166_interval_join_salted" -> q166IntervalJoinSalted _,
    "q157_bitmap_retention" -> q157BitmapRetention _,
    "q158_bitmap_ingest" -> q158BitmapIngest _,
    "q24_json_extract" -> q24JsonExtract _,
    "q201_variant_extract" -> q201VariantExtract _,
    "q202_bbox_join" -> q202BboxJoin _,
    "q203_caic_spatial" -> q203CaicSpatial _,
    "q204_caic_contains" -> q204CaicContains _,
    "q216_caic_intersects" -> q216CaicIntersects _,
    "q217_radius_join" -> q217RadiusJoin _,
    "q219_knn_join" -> q219KnnJoin _,
    "q225_knn_unbounded" -> q225KnnUnbounded _,
    "q226_geo_distance" -> q226GeoDistance _,
    "q73_sliding_window" -> q73SlidingWindow _,
    "q89_scd2" -> q89Scd2 _,
    "q90_retention" -> q90Retention _,
    "q93_pit_join" -> q93PitJoin _,
    "q113_scd2_apply" -> q113Scd2Apply _
  )

  val oracle: Map[String, String] = Map(
    "q152_ema_smoothing" -> q152Sql,
    "q118_gap_fill" -> q118Sql,
    "q120_funnel" -> q120Sql,
    "q121_kl_drift" -> q121Sql,
    "q123_mad_outliers" -> q123Sql,
    "q126_changepoint" -> q126Sql,
    "q128_journeys" -> q128Sql,
    "q102_anomalies" -> q102Sql,
    "q106_trend" -> q106Sql,
    "q21_asof_join" -> q21Sql,
    "q22_hourly_stats" -> q22Sql,
    "q23_sessionize" -> q23Sql,
    "q141_concurrency_peak" -> q141Sql,
    "q155_interval_join" -> q155Sql,
    // salting changes routing, never results: the salted plan answers
    // to the identical oracle as the unsalted row
    "q166_interval_join_salted" -> q155Sql,
    // bitmap set algebra reproduces q90's retention exactly (see the
    // q157 scaladoc) — q90's SQL is the oracle verbatim; q158 computes
    // the same answer from the incrementally-ingested segment store
    "q157_bitmap_retention" -> q90Sql,
    "q158_bitmap_ingest" -> q90Sql,
    "q24_json_extract" -> q24Sql,
    // variant is an encoding change, never a semantics change
    "q201_variant_extract" -> q24Sql,
    // the naive theta join over the same derived rectangles: hash-green
    // means grid binning + min-corner dedup == brute force
    "q202_bbox_join" -> q202Sql,
    // fixed fixtures -> constant expected rows, independently
    // hand-derived (the q37 golden-VALUES idiom)
    "q203_caic_spatial" -> q203Sql,
    "q204_caic_contains" -> q204Sql,
    "q216_caic_intersects" -> q216Sql,
    "q217_radius_join" -> q217Sql,
    "q219_knn_join" -> q219Sql,
    "q225_knn_unbounded" -> q225Sql,
    "q226_geo_distance" -> q226Sql,
    "q73_sliding_window" -> q73Sql,
    "q89_scd2" -> q89Sql,
    "q90_retention" -> q90Sql,
    "q93_pit_join" -> q93Sql,
    // the incremental apply must equal the batch rebuild over ALL
    // events — q89's SQL verbatim IS the oracle
    "q113_scd2_apply" -> q89Sql
  )
}
