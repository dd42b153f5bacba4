package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.{Files, StandardCopyOption}

/** Driver-visible correctness rows for the stateful streaming twins.
  *
  * The board hashes batch DataFrames, so a `flatMapGroupsWithState`
  * operator is only driver-checkable if its streaming output is
  * MATERIALIZED: each row below runs the real streaming query
  * (file-stream source → stateful transform → `Trigger.AvailableNow`
  * parquet sink), reads the sink back, and returns it as the row's
  * DataFrame — turning the StreamingSpec parity claims (single-batch
  * replay ≡ batch query; state carries across micro-batch boundaries)
  * into hashes the DuckDB oracle verifies directly.
  *
  * File-delivery protocol: each input file is written as ONE parquet
  * file with an explicit, strictly-increasing modification time and a
  * lexicographically increasing name; with `maxFilesPerTrigger=1` the
  * file source delivers exactly one file per micro-batch, oldest first,
  * so batch boundaries (and therefore watermark advancement and timer
  * firing) are deterministic. StreamingBoardSpec pins the ordering.
  *
  * Scale note: unlike a MemoryStream harness, nothing here collects the
  * corpus to the driver — the stream reads the same parquet the batch
  * twin reads, and the sink is a distributed parquet write. At 100 TB
  * the identical topology runs against a real file/queue source; the
  * only local-mode artifact is the temp-dir staging.
  */
object StreamingBoard {

  /** Stage `df` as exactly one parquet data file at `inDir/name` with
    * modification time `modMs` (the file source's delivery order). */
  private[graft] def addFile(df: DataFrame, inDir: String, name: String, modMs: Long): Unit = {
    val stage = Files.createTempDirectory("graft_stage").toString
    try {
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
        .head
      val dst = new java.io.File(inDir, name)
      Files.move(part.toPath, dst.toPath, StandardCopyOption.REPLACE_EXISTING)
      require(dst.setLastModified(modMs), s"cannot stamp mod time on $dst")
    } finally graft.RunTag.deleteNow(stage) // _SUCCESS + .crc leftovers
  }

  /** Stage several input files CONCURRENTLY (guide §2.6: independent
    * driver-sequential jobs leave the executors idle in each job's tail;
    * a small pool lets the later files' single-task writes back-fill).
    * Delivery order is NOT write order — it is carried entirely by the
    * explicit mod times and lexicographic names stamped per file, and
    * the stream only starts after every write has returned. */
  private[graft] def addFiles(files: Seq[(DataFrame, String, Long)],
      inDir: String): Unit =
    if (files.sizeIs <= 1)
      files.foreach { case (df, n, ms) => addFile(df, inDir, n, ms) }
    else {
      import scala.concurrent.{Await, ExecutionContext, Future}
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(files.size, 4))
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try Await.result(
        Future.sequence(files.map { case (df, n, ms) =>
          Future(addFile(df, inDir, n, ms))
        }), scala.concurrent.duration.Duration.Inf)
      finally { pool.shutdown(); () }
      ()
    }

  /** Drain a streaming Dataset into a parquet sink with AvailableNow and
    * return the materialized result.
    *
    * The stateful operators pin their STATE partitioning from
    * `spark.sql.shuffle.partitions` at first query start — at the board
    * session's 32 that is 32 state-store instances (each with its own
    * checkpoint dir, snapshot and commit files) per stateful operator
    * per micro-batch, pure fixed overhead against these sub-million-row
    * inputs (measured ~35% of the streaming rows' wall). Production
    * sizes this to the cluster; the board harness bounds it for the
    * STATEFUL streams only (measured: q148 6.4→3.6 s, q150 5.2→3.2 s at
    * 8, while the stateless q163 — no state stores, just a narrower
    * join — regressed, so it keeps the session width) and restores the
    * session conf (results are partitioning-invariant — the
    * crash-recovery and parity specs run at other widths). The
    * set/restore is NOT concurrency-safe — board queries run serially
    * by contract (Bench/Verify), and the session conf is only read at
    * query start. */
  private def drainToParquet(ds: org.apache.spark.sql.Dataset[_], root: String,
      statePartitions: Option[Int] = Some(4),
      rocksdb: Boolean = false): DataFrame = {
    val out = s"$root/out"
    val spark = ds.sparkSession
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val prevProvider = spark.conf.get(providerKey)
    statePartitions.foreach(p =>
      spark.conf.set("spark.sql.shuffle.partitions", p.toString))
    // transformWithState requires the RocksDB provider (same set/restore
    // caveat as the partition bound: board queries serial by contract).
    // Changelog checkpointing makes each commit upload the batch's DELTA
    // instead of a full RocksDB snapshot — the per-commit cost follows
    // the update volume, not the store size (the point of an
    // incremental state backend; snapshots still happen, async, for
    // bounded replay). Restart correctness is covered by the RocksDB
    // restart case in StreamingBoardSpec.
    val changelogKey =
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    val prevChangelog = spark.conf.getOption(changelogKey)
    if (rocksdb) {
      spark.conf.set(providerKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      spark.conf.set(changelogKey, "true")
    }
    try {
      val q = ds.writeStream
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      if (rocksdb) {
        spark.conf.set(providerKey, prevProvider)
        // restore like the two siblings — a leaked 'true' would make
        // later RocksDB queries' checkpoint format order-dependent
        prevChangelog match {
          case Some(v) => spark.conf.set(changelogKey, v)
          case None => spark.conf.unset(changelogKey)
        }
      }
    }
    ds.sparkSession.read.parquet(out)
  }

  /** q146: streaming per-source quota cap, materialized. The documents
    * table is delivered in TWO micro-batches split at the doc_id range
    * midpoint (batch 1 is a doc_id-prefix, i.e. in-arrival-order
    * delivery), so the hash-checked output proves the 8-bytes-per-source
    * admitted-count state carries across the batch boundary: a source
    * part-filled in batch 1 admits only the remainder in batch 2, and
    * the union equals the batch first-N-per-source window — which is
    * exactly the oracle SQL. */
  def q146QuotaCapStream(spark: SparkSession, dir: String): DataFrame =
    q146Impl(spark, dir, graft.RunTag.scratchFresh("q146"))

  /** q146's staging — the two doc_id-halves, `upTo`-gated like
    * [[q148Stage]] so the crash-recovery spec can deliver the first
    * half, interrupt, and deliver the second against the restarted
    * checkpoint. */
  private[graft] def q146Stage(spark: SparkSession, dir: String, root: String,
      upTo: Int = 2, loCount: Option[Int] = None): org.apache.spark.sql.types.StructType = {
    val in = s"$root/in"; new java.io.File(in).mkdirs()
    val docs = graft.Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    // default split: the doc_id-range midpoint (the board delivery).
    // loCount=Some(n) cuts after the n smallest doc_ids instead — the
    // crash-recovery spec uses a cut small enough that every source is
    // PART-filled at the boundary, so the restart must resume admission
    // counters mid-count rather than merely hold a saturated cap.
    val cut = loCount match {
      case Some(n) => docs.orderBy(col("doc_id")).limit(n)
        .agg(max(col("doc_id"))).head.getLong(0)
      case None =>
        val mm = docs.agg(min(col("doc_id")), max(col("doc_id"))).head
        mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 2
    }
    val base = System.currentTimeMillis()
    val files: Seq[(DataFrame, String, Long)] = Seq(
      (docs.filter(col("doc_id") <= cut), "00-a.parquet", base - 240000),
      (docs.filter(col("doc_id") > cut), "01-b.parquet", base - 120000))
    addFiles(files.take(upTo), in)
    docs.schema
  }

  private[graft] def q146Query(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      root: String): org.apache.spark.sql.Dataset[QuotaOut] = {
    import spark.implicits._
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$root/in").as[QuotaDoc]
    Streaming.quotaCapStateful(stream)
  }

  private[graft] def q146Post(sink: DataFrame): DataFrame =
    sink.select(col("doc_id"), col("source"), col("rk"))
      .orderBy(col("doc_id"))

  private[graft] def q146Impl(spark: SparkSession, dir: String, root: String): DataFrame = {
    val schema = q146Stage(spark, dir, root)
    q146Post(drainToParquet(q146Query(spark, schema, root), root))
  }

  /** First-N-per-source in doc_id (arrival) order — the batch twin of the
    * streaming admission gate. (Batch q100 picks the BEST N by content
    * hash; a stream admits the FIRST N — this oracle states the online
    * semantics declaratively.) */
  val q146Sql: String =
    "SELECT doc_id, source, rk FROM (" +
      "SELECT doc_id, source, " +
      "CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS rk " +
      "FROM documents) WHERE rk <= 10 ORDER BY doc_id"

  /** q147: streaming anomaly flagging, materialized as a SINGLE-batch
    * replay — the pinned parity case (fold the batch into the per-type
    * moment state FIRST, then flag against the updated statistics), so
    * the stream has seen exactly what a batch job sees and the flagged
    * set is the all-corpus-statistics one. One input file ⇒ one
    * micro-batch by file-source granularity.
    *
    * The oracle replays the stream's EXACT algebra rather than reusing
    * q102's stddev_samp form: the state fold is a sequential sum in
    * (ts, event_id) order per type, which DuckDB reproduces bit-for-bit
    * via list_reduce over an ordered list (the q132 fold-replay idiom) —
    * so mu, the (Σx² − n·µ²)/(n−1) variance, and the z-scores are
    * IEEE-identical, not merely within-1e-6 (StreamingSpec's tolerance
    * vs q102's numerically different stddev aggregate). */
  def q147AnomaliesStream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = graft.RunTag.scratchFresh("q147")
    val in = s"$root/in"; new java.io.File(in).mkdirs()
    val evs = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts").cast("timestamp").as("ts"), col("value"))
    addFile(evs, in, "00-events.parquet", System.currentTimeMillis() - 120000)
    val stream = spark.readStream.schema(evs.schema).parquet(in).as[Ev]
    drainToParquet(Streaming.anomaliesStateful(stream), root)
      .select(col("event_id"), col("event_type"), col("value"), col("z_score"))
      .orderBy(col("event_id"))
  }

  val q147Sql: String =
    "WITH lst AS (SELECT event_type, count(*) AS n, " +
      "list_reduce(list_prepend(0.0, list(value ORDER BY ts, event_id)), (a, x) -> a + x) AS s, " +
      "list_reduce(list_prepend(0.0, list(value ORDER BY ts, event_id)), (a, x) -> a + x * x) AS sq " +
      "FROM events GROUP BY event_type), " +
      "st AS (SELECT event_type, n, s / n AS mu, " +
      "(sq - n * (s / n) * (s / n)) / (n - 1) AS vr FROM lst WHERE n >= 30), " +
      "fl AS (SELECT e.event_id, e.event_type, e.value, " +
      "(e.value - st.mu) / sqrt(st.vr) AS z " +
      "FROM events e JOIN st USING (event_type) WHERE st.vr > 0) " +
      "SELECT event_id, event_type, value, round(z, 6) AS z_score " +
      "FROM fl WHERE abs(z) > 3.0 ORDER BY event_id"

  /** q147's 2-file staging — FOR THE CRASH-RECOVERY SPEC ONLY: the
    * events table split at its event-time midpoint (the q148 delivery
    * shape, minus sentinels — NoTimeout moment state needs no watermark
    * push to emit). The BOARD row above stays the pinned single-batch
    * replay (its batch-parity oracle depends on the fold-then-flag
    * algebra seeing the whole corpus at once); this seam exists so the
    * spec can prove the per-type (n, Σx, Σx²) state survives a restart
    * — batch 2's z-scores must be computed against moments that INCLUDE
    * batch 1's contribution reloaded from the checkpoint. */
  private[graft] def q147Stage(spark: SparkSession, dir: String, root: String,
      upTo: Int = 2): org.apache.spark.sql.types.StructType = {
    val in = s"$root/in"; new java.io.File(in).mkdirs()
    val evs = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts").cast("timestamp").as("ts"), col("value"))
    val mm = evs.agg(min(col("ts")), max(col("ts"))).head
    val (t0, t1) = (mm.getTimestamp(0).getTime, mm.getTimestamp(1).getTime)
    val mid = new java.sql.Timestamp(t0 + (t1 - t0) / 2)
    val base = System.currentTimeMillis()
    val files: Seq[(DataFrame, String, Long)] = Seq(
      (evs.filter(col("ts") <= mid), "00-early.parquet", base - 240000),
      (evs.filter(col("ts") > mid), "01-late.parquet", base - 120000))
    addFiles(files.take(upTo), in)
    evs.schema
  }

  private[graft] def q147Query(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      root: String): org.apache.spark.sql.Dataset[AnomalyOut] = {
    import spark.implicits._
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$root/in").as[Ev]
    Streaming.anomaliesStateful(stream)
  }

  private[graft] def q147Post(sink: DataFrame): DataFrame =
    sink.select(col("event_id"), col("event_type"), col("value"), col("z_score"))
      .orderBy(col("event_id"))

  /** q148: stateful gap fill + LOCF, materialized. Four micro-batches:
    * the events table split at its event-time midpoint (in-event-time-
    * order arrival, exactly how a live feed delivers), then two
    * far-future sentinel batches — the first advances the watermark past
    * every open day, the second gives the engine a batch in which those
    * EventTimeTimeout timers fire, closing each user's final day (the
    * StreamingSpec two-sentinel protocol, now driver-visible). Sentinel
    * rows use a user_id above any real user and are filtered from the
    * materialized output; with every day closed, the emitted set equals
    * batch q118's grid exactly, so the oracle IS q118's SQL. */
  def q148GapFillStream(spark: SparkSession, dir: String): DataFrame =
    q148Impl(spark, dir, graft.RunTag.scratchFresh("q148"))

  private[graft] val SentinelUser = 9000001L

  /** Stage q148's input files under `root/in`. `upTo` limits how many of
    * the four files land (the crash-recovery spec stages 2, interrupts,
    * then stages the rest); returns the stream schema. */
  private[graft] def q148Stage(spark: SparkSession, dir: String, root: String,
      upTo: Int = 4): org.apache.spark.sql.types.StructType = {
    import spark.implicits._
    val in = s"$root/in"; new java.io.File(in).mkdirs()
    val evs = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts").cast("timestamp").as("ts"), col("value"))
    val mm = evs.agg(min(col("ts")), max(col("ts"))).head
    val (t0, t1) = (mm.getTimestamp(0).getTime, mm.getTimestamp(1).getTime)
    val mid = new java.sql.Timestamp(t0 + (t1 - t0) / 2)
    val far = t1 + 100L * 86400000L
    def sentinel(id: Long, ms: Long): DataFrame =
      Seq((id, SentinelUser, "x", new java.sql.Timestamp(ms), 0.0))
        .toDF("event_id", "user_id", "event_type", "ts", "value")
    val base = System.currentTimeMillis()
    val files: Seq[(DataFrame, String, Long)] = Seq(
      (evs.filter(col("ts") <= mid), "00-early.parquet", base - 480000),
      (evs.filter(col("ts") > mid), "01-late.parquet", base - 360000),
      (sentinel(9000001L, far), "02-sent1.parquet", base - 240000),
      (sentinel(9000002L, far + 1000L), "03-sent2.parquet", base - 120000))
    addFiles(files.take(upTo), in)
    evs.schema
  }

  /** The q148 stateful stream over `root/in` (file source, one file per
    * micro-batch). */
  private[graft] def q148Query(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      root: String): org.apache.spark.sql.Dataset[GapFillOut] = {
    import spark.implicits._
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$root/in").as[Ev]
    Streaming.gapFillStateful(stream)
  }

  /** Sentinel filter + the oracle-facing projection of the materialized
    * sink. The sink writes TIMESTAMP (UTC-adjusted); the batch twin's day
    * is TIMESTAMP_NTZ — same wall clock under the UTC session, re-typed
    * so the oracle compares like with like. */
  private[graft] def q148Post(sink: DataFrame): DataFrame =
    sink.filter(col("user_id") < SentinelUser)
      .select(col("user_id"), col("day").cast("timestamp_ntz").as("day"),
        col("value"), col("is_observed"))
      .orderBy(col("user_id"), col("day"))

  private[graft] def q148Impl(spark: SparkSession, dir: String, root: String): DataFrame = {
    val schema = q148Stage(spark, dir, root)
    q148Post(drainToParquet(q148Query(spark, schema, root), root))
  }

  /** Every day closed ⇒ the streamed set equals the batch grid — but the
    * stream's per-day sum is a SEQUENTIAL (ts, event_id)-ordered fold
    * (gapFillStateful accumulates openSum event by event), while q118's
    * `round(sum(value), 6)` sums in engine-arbitrary order. IEEE addition
    * is not associative, so a 6th-decimal rounding boundary could break
    * the hash even though both are "the day's sum". This oracle replays
    * the fold order via list_reduce (the q147/q150 idiom) so the doubles
    * are bit-identical, then applies the identical grid/LOCF algebra. */
  val q148Sql: String =
    "WITH daily AS (SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, " +
      "round(list_reduce(list_prepend(0.0, list(value ORDER BY ts, event_id)), (a, x) -> a + x), 6) AS v " +
      "FROM events GROUP BY 1, 2), " +
      "b AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1), " +
      "grid AS (SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day FROM b) " +
      "SELECT g.user_id, g.day, " +
      "last_value(d.v IGNORE NULLS) OVER (PARTITION BY g.user_id ORDER BY g.day " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value, " +
      "CASE WHEN d.v IS NULL THEN 0 ELSE 1 END AS is_observed " +
      "FROM grid g LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day " +
      "ORDER BY g.user_id, g.day"

  /** q150: custom stateful sessionization, materialized — the fourth
    * and last flatMapGroupsWithState twin becomes driver-checkable
    * (q146 quota / q147 anomalies / q148 gap fill / q150 sessions).
    * Same delivery protocol as q148: events split at the event-time
    * midpoint arrive in order across two micro-batches (sessions
    * spanning the boundary continue from state), then two far-future
    * sentinel batches drive the watermark past every open session so
    * each 30-minute-gap timer fires and the final sessions emit. The
    * oracle is the classic gaps-and-islands form, with the session's
    * value sum replayed as an ORDERED fold (the q147 idiom) so the
    * doubles are IEEE-identical to the state fold, not merely close. */
  def q150SessionizeStream(spark: SparkSession, dir: String): DataFrame =
    q150Impl(spark, dir, graft.RunTag.scratchFresh("q150"))

  /** q150's staging — identical delivery protocol to [[q148Stage]]
    * (shared `upTo` seam so the crash-recovery spec can interrupt
    * between the data files and the sentinels). */
  private[graft] def q150Stage(spark: SparkSession, dir: String, root: String,
      upTo: Int = 4): org.apache.spark.sql.types.StructType =
    q148Stage(spark, dir, root, upTo)

  private[graft] def q150Query(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      root: String): org.apache.spark.sql.Dataset[SessionOut] = {
    import spark.implicits._
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$root/in").as[Ev]
    Streaming.sessionizeStateful(stream)
  }

  private[graft] def q150Post(sink: DataFrame): DataFrame =
    sink.filter(col("user_id") < SentinelUser)
      .select(col("user_id"), col("n_events"),
        col("start").cast("timestamp_ntz").as("start"),
        col("end").cast("timestamp_ntz").as("end"),
        col("sum_value"))
      .orderBy(col("user_id"), col("start"))

  private[graft] def q150Impl(spark: SparkSession, dir: String, root: String): DataFrame = {
    val schema = q150Stage(spark, dir, root)
    q150Post(drainToParquet(q150Query(spark, schema, root), root))
  }

  val q150Sql: String =
    "WITH m AS (SELECT event_id, user_id, ts, value, " +
      "CASE WHEN lag(ts) OVER w IS NULL " +
      "OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk " +
      "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
      "s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM m) " +
      "SELECT user_id, count(*) AS n_events, min(ts) AS \"start\", max(ts) AS \"end\", " +
      "list_reduce(list_prepend(0.0, list(value ORDER BY ts, event_id)), (a, x) -> a + x) AS sum_value " +
      "FROM s GROUP BY user_id, sid ORDER BY user_id, \"start\""

  /** q163: the STREAMING twin of q155's pure interval-overlap join —
    * live session intervals against a static incident-window table,
    * joined on the time BIN (the q155 bucketing riding a stream-static
    * equi join). The bin key is what makes the interval predicate
    * streamable at all: a pure theta stream-static join would evaluate
    * every arriving interval against every incident; the bin explode
    * turns it into a stateless equi join a 100 TB stream topology
    * co-partitions on, and the greatest-start-bin filter keeps
    * exactly-once output REGARDLESS of how sessions split across
    * micro-batches (each session row arrives once, and its pair set is
    * decided row-locally). Delivery: the session-interval table split
    * at its start-time midpoint across two micro-batches. Batch parity
    * is structural — the oracle IS q155's SQL verbatim. */
  def q163IntervalJoinStream(spark: SparkSession, dir: String): DataFrame =
    q163Impl(spark, dir, graft.RunTag.scratchFresh("q163"))

  private[graft] def q163Stage(spark: SparkSession, dir: String, root: String,
      upTo: Int = 2): org.apache.spark.sql.types.StructType = {
    val in = s"$root/in"; new java.io.File(in).mkdirs()
    val sess = graft.ops.TimeSeries.sessionIntervalsOf(spark, dir)
    val mm = sess.agg(min(col("s_a")), max(col("s_a"))).head
    val mid = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 2
    val base = System.currentTimeMillis()
    val files: Seq[(DataFrame, String, Long)] = Seq(
      (sess.filter(col("s_a") <= mid), "00-early.parquet", base - 240000),
      (sess.filter(col("s_a") > mid), "01-late.parquet", base - 120000))
    addFiles(files.take(upTo), in)
    sess.schema
  }

  private[graft] def q163Query(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      dir: String, root: String): DataFrame = {
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$root/in")
    val incidents = graft.ops.TimeSeries.incidentWindowsOf(spark, dir)
    graft.ops.TimeSeries.intervalOverlapPairs(stream, incidents)
      .select(col("user_id"), col("session_id"), col("incident_id"),
        greatest(col("s_a"), col("s_b")).as("overlap_start_us"),
        least(col("e_a"), col("e_b")).as("overlap_end_us"))
  }

  private[graft] def q163Post(sink: DataFrame): DataFrame =
    sink.orderBy(col("user_id"), col("session_id"), col("incident_id"))

  private[graft] def q163Impl(spark: SparkSession, dir: String, root: String): DataFrame = {
    val schema = q163Stage(spark, dir, root)
    // stateless: no state stores to bound, keep the session's join width
    q163Post(drainToParquet(q163Query(spark, schema, dir, root), root,
      statePartitions = None))
  }

  /** q165: streaming CONTENT dedup, materialized — the last streaming
    * operator in the family to get a hash-green board row (r11 verdict
    * item 2). The q29 canonical fingerprint keys a watermark-bounded
    * `dropDuplicatesWithinWatermark` over an appending corpus
    * (streaming/Streaming.dedupedDocsByFingerprint); the board delivery
    * makes it NON-vacuous at every SF: batch 2 carries, besides the
    * upper doc_id half, an AT-LEAST-ONCE REDELIVERY of every 7th
    * batch-1 document (identical text, later ingest_ts) — the upstream
    * pathology content dedup exists for — so the hash check proves the
    * fingerprint state carried across the micro-batch boundary and
    * suppressed every redelivery.
    *
    * The row emits the FINGERPRINT SET only: which physical row of a
    * duplicate class arrives "first" within a micro-batch is engine
    * scheduling, not semantics (state-store insertion order across
    * tasks), so doc_id would be nondeterministic precisely on duplicate
    * classes — while the set of admitted fingerprints, one row per
    * class, is exact. Emitting WITHOUT a distinct on the read-back, so
    * any duplicate emission breaks the row count and the hash. Oracle:
    * DISTINCT q29 fingerprints over the batch corpus. */
  def q165ContentDedupStream(spark: SparkSession, dir: String): DataFrame =
    q165Impl(spark, dir, graft.RunTag.scratchFresh("q165"))

  private[graft] def q165Stage(spark: SparkSession, dir: String, root: String,
      upTo: Int = 2): org.apache.spark.sql.types.StructType = {
    val in = s"$root/in"; new java.io.File(in).mkdirs()
    // deterministic ingest_ts: fixed epoch base + (doc_id mod 600)
    // seconds — a 10-minute event-time spread against the 1-hour
    // watermark horizon, so no row (original or redelivered) can ever
    // be late-dropped and the admitted set is exactly "first arrival
    // per fingerprint"
    val docs = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"),
        (lit(1700000000L) + pmod(col("doc_id"), lit(600L)))
          .cast("timestamp").as("ingest_ts"))
    val mm = docs.agg(min(col("doc_id")), max(col("doc_id"))).head
    val cut = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 2
    val redelivered = docs
      .filter(col("doc_id") <= cut && pmod(col("doc_id"), lit(7)) === 0)
      .withColumn("ingest_ts", (col("ingest_ts").cast("long") + 60L).cast("timestamp"))
    val base = System.currentTimeMillis()
    val files: Seq[(DataFrame, String, Long)] = Seq(
      (docs.filter(col("doc_id") <= cut), "00-a.parquet", base - 240000),
      (docs.filter(col("doc_id") > cut).unionByName(redelivered),
        "01-b.parquet", base - 120000))
    addFiles(files.take(upTo), in)
    docs.schema
  }

  private[graft] def q165Query(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      root: String): DataFrame = {
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$root/in")
    // doc_id stays in the SINK for the spec's class-membership check;
    // the board projection below drops it (nondeterministic on
    // duplicate classes — see the q165 scaladoc)
    Streaming.dedupedDocsByFingerprint(stream).select(col("doc_id"), col("fp"))
  }

  private[graft] def q165Post(sink: DataFrame): DataFrame =
    sink.select(col("fp")).orderBy(col("fp"))

  private[graft] def q165Impl(spark: SparkSession, dir: String, root: String): DataFrame = {
    val schema = q165Stage(spark, dir, root)
    q165Post(drainToParquet(q165Query(spark, schema, root), root))
  }

  /** q170: STREAM–STREAM inner join, materialized — the one Structured
    * Streaming join class with no hash-green board row until now
    * (q163's interval join is stream–static; q146–q165 are
    * single-stream stateful; Streaming.viewClickJoin pins the same
    * class spec-only on MemoryStream). Both
    * sides are live file streams over the same staged event feed — the
    * click substream joins the error substream on user_id with a
    * 60-minute time-range bound (Streaming.clickErrorJoin), planned by
    * Spark as a StreamingSymmetricHashJoin with watermark-derived state
    * eviction on both buffers. Delivery splits the feed at its ts
    * midpoint across two micro-batches, so pairs that STRADDLE the
    * boundary (click lands in batch 1, its error in batch 2) only reach
    * the sink if the click's buffered state survived the batch
    * boundary — which is exactly what the hash check proves. Output is
    * pair-complete: eviction only ever drops a click whose match horizon
    * the watermark has closed, and ordered delivery means those matches
    * already arrived, so the emitted set equals the batch join — the
    * oracle is the plain batch SQL, no emission gate needed (contrast
    * q171). */
  def q170StreamStreamJoin(spark: SparkSession, dir: String): DataFrame =
    q170Impl(spark, dir, graft.RunTag.scratchFresh("q170"), "inner")

  /** Deterministic staging cuts, memoized per (query-family, dir) — each
    * is a pure function of the input table, so recomputing it for every
    * row of a family (q170/q171/q172/q175 share one cut) is pure waste. */
  private val cutCache =
    scala.collection.concurrent.TrieMap.empty[String, java.sql.Timestamp]

  /** Stages the click/error feed as two event-time-ordered files. The
    * cut is NOT the plain ts midpoint: at small SFs matched pairs are
    * sparse enough that a midpoint cut can put every pair wholly inside
    * one file, making the cross-batch buffered-state claim vacuous. So
    * the cut is the click_ts of the matched pair (error strictly later
    * than its click) nearest the midpoint — that click lands in batch 1
    * and its error in batch 2, guaranteeing >=1 straddling pair at
    * every SF (midpoint fallback if no such pair exists). Deterministic
    * either way: ties broken by click_id. */
  private[graft] def q170Stage(spark: SparkSession, dir: String, root: String,
      upTo: Int = 2): (org.apache.spark.sql.types.StructType, java.sql.Timestamp) = {
    val in = s"$root/in"; new java.io.File(in).mkdirs()
    // ts → TIMESTAMP under the UTC session (the q147/q148 staging
    // policy: withWatermark rejects TIMESTAMP_NTZ)
    val ev = graft.Tables.events(spark, dir)
      .filter(col("event_type").isin("click", "error"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts").cast("timestamp").as("ts"))
    val mm = ev.agg(min(col("ts")), max(col("ts"))).head
    val (t0, t1) = (mm.getTimestamp(0).getTime, mm.getTimestamp(1).getTime)
    val midMs = t0 + (t1 - t0) / 2
    // the cut is a pure function of the table — memoized per (dir) so
    // the four q170-family rows don't re-run the pair join per board run
    val cut = cutCache.getOrElseUpdate(s"q170:$dir", {
      val c = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
      val e = ev.filter(col("event_type") === "error")
        .select(col("user_id").as("e_uid"), col("ts").as("error_ts"))
      c.join(e, col("user_id") === col("e_uid") &&
          col("error_ts") > col("click_ts") &&
          col("error_ts") <= col("click_ts") + expr("interval 60 minutes"))
        .select(col("click_ts"), col("click_id"))
        .withColumn("d", abs(unix_micros(col("click_ts")) - lit(midMs * 1000L)))
        .orderBy(col("d"), col("click_id")).limit(1)
        .collect().headOption.map(_.getTimestamp(0))
        .getOrElse(new java.sql.Timestamp(midMs))
    })
    val base = System.currentTimeMillis()
    val files: Seq[(DataFrame, String, Long)] = Seq(
      (ev.filter(col("ts") <= cut), "00-early.parquet", base - 240000),
      (ev.filter(col("ts") > cut), "01-late.parquet", base - 120000))
    addFiles(files.take(upTo), in)
    (ev.schema, cut)
  }

  private[graft] def q170Query(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      root: String, joinType: String): DataFrame = {
    // TWO independent streaming sources over the same staged feed (each
    // tails the full directory and narrows to its substream) — the join
    // is genuinely stream×stream, not a self-join of one source
    def side(tpe: String): DataFrame = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$root/in")
      .filter(col("event_type") === tpe)
    Streaming.clickErrorJoin(side("click"), side("error"), joinType)
  }

  private[graft] def q170Post(sink: DataFrame): DataFrame =
    // tz → ntz under the UTC session (the q148/q150 output policy: the
    // oracle's event timestamps are naive micros)
    sink.select(col("user_id"), col("click_id"), col("error_id"),
        col("click_ts").cast("timestamp_ntz").as("click_ts"),
        col("error_ts").cast("timestamp_ntz").as("error_ts"))
      .orderBy(col("user_id"), coalesce(col("click_id"), lit(-1L)),
        coalesce(col("error_id"), lit(-1L)))

  private[graft] def q170Impl(spark: SparkSession, dir: String, root: String,
      joinType: String): DataFrame = {
    val (schema, _) = q170Stage(spark, dir, root)
    q170Post(drainToParquet(q170Query(spark, schema, root, joinType), root))
  }

  val q170Sql: String =
    "SELECT a.user_id, a.event_id AS click_id, b.event_id AS error_id, " +
      "a.ts AS click_ts, b.ts AS error_ts " +
      "FROM events a JOIN events b ON a.user_id = b.user_id " +
      "AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 60 MINUTE " +
      "WHERE a.event_type = 'click' AND b.event_type = 'error' " +
      "ORDER BY 1, 2, 3"

  /** q171: the LEFT-OUTER stream–stream join — same plan as q170 plus
    * watermark-GATED null emission: an unmatched click may only emit its
    * null-padded row once the global watermark proves no matching error
    * can still arrive (watermark > click_ts + range), and clicks whose
    * horizon is still open when the feed pauses stay buffered, emitting
    * nothing. The oracle therefore is NOT the batch left join — it is
    * the batch left join FILTERED by the emission gate, stated in SQL:
    * keep matched pairs, plus unmatched clicks with
    * `click_ts + 60 min < least(max(click_ts), max(error_ts)) − 30 min`
    * (the final watermark both event-time trackers agree on under
    * AvailableNow's closing no-data batch). That gate is the honest
    * semantics of outer joins on unbounded input; pinning it in the
    * oracle turns a usually-hand-waved behavior into a hash check. */
  def q171StreamStreamOuter(spark: SparkSession, dir: String): DataFrame =
    q171Impl(spark, dir, graft.RunTag.scratchFresh("q171"))

  private[graft] def q171Impl(spark: SparkSession, dir: String, root: String): DataFrame =
    q170Impl(spark, dir, root, "left_outer")

  val q171Sql: String =
    "WITH c AS (SELECT user_id, event_id AS click_id, ts AS click_ts " +
      "FROM events WHERE event_type = 'click'), " +
      "e AS (SELECT user_id, event_id AS error_id, ts AS error_ts " +
      "FROM events WHERE event_type = 'error'), " +
      "w AS (SELECT least((SELECT max(click_ts) FROM c), (SELECT max(error_ts) FROM e)) " +
      "- INTERVAL 30 MINUTE AS wm), " +
      "j AS (SELECT c.user_id, c.click_id, e.error_id, c.click_ts, e.error_ts " +
      "FROM c LEFT JOIN e ON c.user_id = e.user_id " +
      "AND e.error_ts >= c.click_ts AND e.error_ts <= c.click_ts + INTERVAL 60 MINUTE) " +
      "SELECT * FROM j WHERE error_id IS NOT NULL " +
      "OR click_ts + INTERVAL 60 MINUTE < (SELECT wm FROM w) " +
      "ORDER BY user_id, click_id, coalesce(error_id, -1)"

  /** q173: the sessionizer on Spark 4's `transformWithState` (State API
    * v2) over the ROCKSDB state-store provider — the same staged
    * delivery, sentinel timer-driving, and post-projection as q150, and
    * the same oracle SQL VERBATIM, so the hash proves the v2 operator
    * (named typed ValueState, first-class event-time timers, RocksDB
    * off-heap state) computes bit-identical sessions to the v1
    * flatMapGroupsWithState twin — ordered value fold, micro precision
    * and all. See [[SessionProcessorV2]] for what's genuinely different
    * under the hood. */
  def q173SessionizeTws(spark: SparkSession, dir: String): DataFrame =
    q173Impl(spark, dir, graft.RunTag.scratchFresh("q173"))

  private[graft] def q173Query(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      root: String): org.apache.spark.sql.Dataset[SessionOut] = {
    import spark.implicits._
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$root/in").as[Ev]
    StateV2.sessionizeTws(stream)
  }

  private[graft] def q173Impl(spark: SparkSession, dir: String, root: String): DataFrame = {
    val schema = q150Stage(spark, dir, root)
    q150Post(drainToParquet(q173Query(spark, schema, root), root, rocksdb = true))
  }

  /** q178: per-session EVENT-TYPE HISTOGRAMS on composite v2 state
    * (ValueState bounds + a named MapState of counts per key — the
    * state shape that buys O(1) hot-path updates because the histogram
    * lives in its own state-store column family; see
    * [[SessionHistogramProcessor]]). Same staging/sentinel protocol as
    * q150/q173; the oracle extends the gaps-and-islands sessions with a
    * per-(session, event_type) rollup, so every count in every closed
    * session is hash-checked. */
  def q178SessionHistogram(spark: SparkSession, dir: String): DataFrame =
    q178Impl(spark, dir, graft.RunTag.scratchFresh("q178"))

  private[graft] def q178Impl(spark: SparkSession, dir: String, root: String): DataFrame = {
    import spark.implicits._
    val schema = q150Stage(spark, dir, root)
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$root/in").as[Ev]
    val sink = drainToParquet(StateV2.sessionHistogramTws(stream), root, rocksdb = true)
    sink.filter(col("user_id") < SentinelUser)
      .select(col("user_id"),
        col("start").cast("timestamp_ntz").as("start"),
        col("end").cast("timestamp_ntz").as("end"),
        col("event_type"), col("n_events"))
      .orderBy(col("user_id"), col("start"), col("event_type"))
  }

  val q178Sql: String =
    "WITH m AS (SELECT event_id, user_id, event_type, ts, " +
      "CASE WHEN lag(ts) OVER w IS NULL " +
      "OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk " +
      "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
      "s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM m), " +
      "b AS (SELECT user_id, sid, min(ts) AS \"start\", max(ts) AS \"end\" " +
      "FROM s GROUP BY user_id, sid) " +
      "SELECT s.user_id, b.\"start\", b.\"end\", s.event_type, count(*) AS n_events " +
      "FROM s JOIN b ON s.user_id = b.user_id AND s.sid = b.sid " +
      "GROUP BY s.user_id, b.\"start\", b.\"end\", s.event_type " +
      "ORDER BY s.user_id, b.\"start\", s.event_type"

  /** q179: streaming view→click→purchase PATTERN DETECTION on v2
    * ListState ([[PatternProcessor]] — the last-two-events buffer, the
    * third and last v2 state type on the board). Delivery cuts the feed
    * AT A TRIPLE'S CLICK (the q170 staging lesson — at small SFs no
    * triple need straddle the plain midpoint): view+click land in batch
    * 1, the purchase in batch 2, so the hit only reaches the sink if
    * the ListState buffer carried across the boundary. The oracle is
    * the batch lag-window form over the same (ts, event_id) total
    * order. */
  def q179PatternStream(spark: SparkSession, dir: String): DataFrame =
    q179Impl(spark, dir, graft.RunTag.scratchFresh("q179"))

  private[graft] def q179Stage(spark: SparkSession, dir: String, root: String,
      upTo: Int = 2): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.expressions.Window
    val in = s"$root/in"; new java.io.File(in).mkdirs()
    val ev = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts").cast("timestamp").as("ts"), col("value"))
    val mm = ev.agg(min(col("ts")), max(col("ts"))).head
    val (t0, t1) = (mm.getTimestamp(0).getTime, mm.getTimestamp(1).getTime)
    val midMs = t0 + (t1 - t0) / 2
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    // cut at the click of the triple nearest the midpoint whose purchase
    // is strictly later than its click (so the cut separates them);
    // memoized per dir like the q170 cut
    val cut = cutCache.getOrElseUpdate(s"q179:$dir", ev
      .withColumn("t2", lag(col("event_type"), 2).over(w))
      .withColumn("t1", lag(col("event_type"), 1).over(w))
      .withColumn("click_ts", lag(col("ts"), 1).over(w))
      .filter(col("t2") === "view" && col("t1") === "click" &&
        col("event_type") === "purchase" && col("ts") > col("click_ts"))
      .withColumn("d", abs(unix_micros(col("click_ts")) - lit(midMs * 1000L)))
      .orderBy(col("d"), col("event_id")).limit(1)
      .select(col("click_ts")).collect().headOption.map(_.getTimestamp(0))
      .getOrElse(new java.sql.Timestamp(midMs)))
    val base = System.currentTimeMillis()
    val files: Seq[(DataFrame, String, Long)] = Seq(
      (ev.filter(col("ts") <= cut), "00-early.parquet", base - 240000),
      (ev.filter(col("ts") > cut), "01-late.parquet", base - 120000))
    addFiles(files.take(upTo), in)
    ev.schema
  }

  private[graft] def q179Impl(spark: SparkSession, dir: String, root: String): DataFrame = {
    import spark.implicits._
    val schema = q179Stage(spark, dir, root)
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$root/in").as[Ev]
    val sink = drainToParquet(StateV2.patternTws(stream), root, rocksdb = true)
    sink.select(col("user_id"), col("view_id"), col("click_id"), col("purchase_id"),
        col("purchase_ts").cast("timestamp_ntz").as("purchase_ts"))
      .orderBy(col("user_id"), col("purchase_id"))
  }

  val q179Sql: String =
    "WITH o AS (SELECT user_id, event_id, event_type, ts, " +
      "lag(event_type, 2) OVER w AS t2, lag(event_type, 1) OVER w AS t1, " +
      "lag(event_id, 2) OVER w AS id2, lag(event_id, 1) OVER w AS id1 " +
      "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)) " +
      "SELECT user_id, id2 AS view_id, id1 AS click_id, event_id AS purchase_id, " +
      "ts AS purchase_ts FROM o " +
      "WHERE t2 = 'view' AND t1 = 'click' AND event_type = 'purchase' " +
      "ORDER BY user_id, purchase_id"

  /** q172: the FULL-OUTER stream–stream join — both null paths live,
    * with ASYMMETRIC emission gates because the 60-minute range is
    * one-sided. An unmatched CLICK must wait out its forward horizon
    * (null row once watermark > click_ts + 60 min — q171's gate); an
    * unmatched ERROR's potential matches all satisfy
    * `click_ts ∈ [error_ts − 60 min, error_ts]`, every one of them
    * ≤ error_ts, so its null row emits as soon as the watermark passes
    * error_ts itself. The oracle is the batch full join filtered by the
    * union of the three emission classes: matched pairs, expired
    * clicks, expired errors — both gates stated numerically against the
    * same final watermark `least(max click_ts, max error_ts) − 30 min`.
    * Completing the type family matters beyond symmetry: the asymmetric
    * gate pair is the observable proof that Spark derives PER-SIDE
    * state bounds from the range predicate's direction, which is the
    * whole 100 TB state story of stream–stream joins. */
  def q172StreamStreamFull(spark: SparkSession, dir: String): DataFrame =
    q172Impl(spark, dir, graft.RunTag.scratchFresh("q172"))

  private[graft] def q172Impl(spark: SparkSession, dir: String, root: String): DataFrame =
    q170Impl(spark, dir, root, "full_outer")

  val q172Sql: String =
    "WITH c AS (SELECT user_id, event_id AS click_id, ts AS click_ts " +
      "FROM events WHERE event_type = 'click'), " +
      "e AS (SELECT user_id, event_id AS error_id, ts AS error_ts " +
      "FROM events WHERE event_type = 'error'), " +
      "w AS (SELECT least((SELECT max(click_ts) FROM c), (SELECT max(error_ts) FROM e)) " +
      "- INTERVAL 30 MINUTE AS wm), " +
      "j AS (SELECT coalesce(c.user_id, e.user_id) AS user_id, " +
      "c.click_id, e.error_id, c.click_ts, e.error_ts " +
      "FROM c FULL JOIN e ON c.user_id = e.user_id " +
      "AND e.error_ts >= c.click_ts AND e.error_ts <= c.click_ts + INTERVAL 60 MINUTE) " +
      "SELECT * FROM j WHERE (click_id IS NOT NULL AND error_id IS NOT NULL) " +
      "OR (error_id IS NULL AND click_ts + INTERVAL 60 MINUTE < (SELECT wm FROM w)) " +
      "OR (click_id IS NULL AND error_ts < (SELECT wm FROM w)) " +
      "ORDER BY user_id, coalesce(click_id, -1), coalesce(error_id, -1)"

  /** q175: LEFT-SEMI stream–stream join — the fourth and last
    * stream–stream join type (inner q170 / left-outer q171 / full-outer
    * q172), and the one with the SIMPLEST online semantics: a click
    * emits at most once, when its first matching error arrives, so the
    * batch semi join is reached exactly with no watermark gate in the
    * oracle — existence needs no horizon to close. State-wise it is
    * also the cheapest: a matched click can leave the buffer
    * immediately (nothing else can re-emit it), making semi the join
    * type of choice for "keep events that had an error soon after" at
    * 100 TB. Same staged cut as q170, so at least one click's ONLY
    * error arrives a micro-batch later — its presence in the sink
    * proves the buffered click matched across the boundary. */
  def q175StreamStreamSemi(spark: SparkSession, dir: String): DataFrame =
    q175Impl(spark, dir, graft.RunTag.scratchFresh("q175"))

  private[graft] def q175Impl(spark: SparkSession, dir: String, root: String): DataFrame = {
    val (schema, _) = q170Stage(spark, dir, root)
    val sink = drainToParquet(q170Query(spark, schema, root, "left_semi"), root)
    sink.select(col("user_id"), col("click_id"),
        col("click_ts").cast("timestamp_ntz").as("click_ts"))
      .orderBy(col("user_id"), col("click_id"))
  }

  val q175Sql: String =
    "SELECT c.user_id, c.event_id AS click_id, c.ts AS click_ts " +
      "FROM events c WHERE c.event_type = 'click' AND EXISTS (" +
      "SELECT 1 FROM events e WHERE e.event_type = 'error' " +
      "AND e.user_id = c.user_id AND e.ts >= c.ts " +
      "AND e.ts <= c.ts + INTERVAL 60 MINUTE) " +
      "ORDER BY 1, 2"

  /** The batch q29 keep set, projected to its fingerprints — one row
    * per distinct canonical document content. */
  val q165Sql: String =
    "SELECT DISTINCT substr(md5(trim(lower(regexp_replace(text, '[^a-zA-Z0-9]+', ' ', 'g')))),1,16) AS fp " +
      "FROM documents ORDER BY fp"

  /** q183: INCREMENTAL MATERIALIZED-VIEW maintenance — the pattern that
    * ties the round's two surfaces together: a streaming `foreachBatch`
    * computes each micro-batch's PARTIAL aggregate (count / min / max
    * per user — deliberately all exact, merge-associative statistics, so
    * the incrementally-folded view is bit-identical to the one-shot
    * batch aggregate regardless of batch count or order; a float SUM
    * would not be) and folds it into a [[graft.sources.GraftCatalog]]
    * DSv2 table with one SQL `MERGE INTO` per epoch (matched → combine,
    * not-matched → insert). The oracle is the plain batch `GROUP BY`
    * over the whole feed, so hash-green proves the maintained view
    * equals recomputation — the defining MV invariant.
    *
    * Exactly-once: the MERGE's "+=" fold is NOT naturally idempotent,
    * and foreachBatch replays an epoch when a crash lands between the
    * MERGE commit and the checkpoint's epoch commit. [[q183Apply]]
    * guards it with the applied-epoch TRANSACTION map carried in the
    * table's own manifest (the Delta `txnAppId`/`txnVersion` recipe
    * done atomically, r13): the applier declares `(appId, batchId)`
    * via [[graft.sources.GraftTxn]] before the MERGE, the batch
    * commit folds it into the `_manifest_v<N+1>.json` rename — the
    * SAME atomic point that makes the fold visible — and a replayed
    * epoch is skipped iff `lastTxn >= batchId`. There is no external
    * marker and therefore no crash window between the data commit and
    * the ledger write: a crash anywhere leaves either (no fold, no
    * txn → re-apply) or (fold, txn → skip), never a double fold.
    * StreamingBoardSpec pins both the replay skip and the
    * crash-between-writes case the r12 marker design could not close.
    *
    * 100 TB: each epoch shuffles only the micro-batch (partial agg to
    * |keys-in-batch| rows) and the MERGE rewrites only files holding
    * matched keys. With a uniform key mix every file matches —
    * copy-on-write amplification — so at scale the view is kept
    * KEY-CLUSTERED with [[graft.sources.GraftCatalog.cluster]] (r13:
    * the distributed range-rewrite maintenance op; run periodically,
    * like Iceberg rewrite_data_files with a sort spec). Measured in
    * PERF.md "r13: MV copy-on-write amplification": a localized delta rewrites ~2 of 16
    * clustered files per epoch vs 100% of a uniform layout every
    * epoch, identical folded state — and RowLevelOpsSpec pins the
    * 1-of-8 vs 8-of-8 contrast. The fold itself never re-reads the
    * feed: maintenance cost is O(delta), not O(view), which is the
    * entire point of an incremental MV. */
  def q183IncrementalMv(spark: SparkSession, dir: String): DataFrame =
    q183Impl(spark, dir, graft.RunTag.scratchFresh("q183"))

  /** Stage the event feed as three micro-batch files split by
    * `event_id % 3` — every user lands in (almost) every batch, so the
    * MERGE exercises insert on epoch 0 and combine on epochs 1–2 (a
    * user-keyed split would never fire the MATCHED branch). Delivery
    * order is irrelevant to the folded result (the statistics commute);
    * the split just has to be deterministic. */
  private[graft] def q183Stage(spark: SparkSession, dir: String, root: String,
      upTo: Int = 3): org.apache.spark.sql.types.StructType = {
    val in = s"$root/in"; new java.io.File(in).mkdirs()
    val ev = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    def slice(r: Int) = ev.filter(pmod(col("event_id"), lit(3)) === r).drop("event_id")
    val base = System.currentTimeMillis()
    val files = Seq((slice(0), "00-a.parquet", base - 360000),
      (slice(1), "01-b.parquet", base - 240000),
      (slice(2), "02-c.parquet", base - 120000))
    // skip files already staged: the restart spec re-calls with a higher
    // upTo against a live checkpoint, and rewriting a consumed file is
    // wasted work that would double-fold the MV if the source ever keyed
    // its seen-set on mtime instead of path
    addFiles(files.take(upTo).filterNot { case (_, name, _) =>
      new java.io.File(in, name).exists()
    }, in)
    slice(0).schema
  }

  /** The MV maintainer's transaction app id — one logical applier per
    * view; a second maintenance pipeline on the same table would use
    * its own id and the ledgers stay independent. */
  private[graft] val q183AppId = "graft-mv-q183"

  /** One epoch's fold: partial-aggregate the batch, MERGE into the view
    * with `(appId, batchId)` riding the table's own manifest commit.
    * Skips (without touching the table) any `batchId` at or below the
    * last manifest-recorded transaction — the replay guard, with NO
    * external marker and therefore no commit/marker crash window. */
  private[graft] def q183Apply(tbl: String, tablePath: String,
      batchId: Long, batch: DataFrame): Unit = {
    import graft.sources.{GraftTxn, JsonDocVersions}
    // >= not ==: a replay can only re-deliver an already-applied epoch,
    // and later epochs only exist because earlier ones committed
    if (JsonDocVersions.lastTxn(tablePath, q183AppId).exists(_ >= batchId)) return
    // foreachBatch hands a DataFrame bound to a CLONED micro-batch
    // session — the temp view and the MERGE must both run there
    val spark = batch.sparkSession
    val delta = batch.groupBy(col("user_id")).agg(
      count(lit(1)).as("n_events"),
      // ts is NTZ; the UTC session makes unix_micros the naive micros
      // DuckDB's epoch_us reads (the q147 staging policy, inverted)
      min(unix_micros(col("ts").cast("timestamp"))).as("first_us"),
      max(unix_micros(col("ts").cast("timestamp"))).as("last_us"),
      max(col("value")).as("max_value"))
    val view = s"q183_delta_$batchId"
    delta.createOrReplaceTempView(view)
    GraftTxn.begin(tablePath, q183AppId, batchId)
    try spark.sql(
      s"""MERGE INTO $tbl t USING $view d ON t.user_id = d.user_id
         |WHEN MATCHED THEN UPDATE SET
         |  n_events = t.n_events + d.n_events,
         |  first_us = least(t.first_us, d.first_us),
         |  last_us = greatest(t.last_us, d.last_us),
         |  max_value = greatest(t.max_value, d.max_value)
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    finally {
      // the commit CONSUMED the pending entry on success; this only
      // fires when the MERGE failed before its commit — the manifest
      // then records nothing and the epoch legitimately re-applies
      GraftTxn.clear(tablePath)
      spark.catalog.dropTempView(view)
    }
  }

  /** Run the maintenance stream over whatever files are staged under
    * `root/in`, resuming from `root/ckpt` — factored out so the spec's
    * restart case can stage a new file and re-drain the same view. */
  private[graft] def q183Drain(spark: SparkSession, root: String, tbl: String,
      schema: org.apache.spark.sql.types.StructType): Unit = {
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$root/in")
    val q = stream.writeStream
      .foreachBatch((b: DataFrame, id: Long) => q183Apply(tbl, s"$root/mv", id, b))
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  private[graft] def q183Impl(spark: SparkSession, dir: String, root: String,
      tblProps: String = ""): DataFrame = {
    spark.conf.set("spark.sql.catalog.graftcat",
      classOf[graft.sources.GraftCatalog].getName)
    val tbl = s"graftcat.`$root/mv`"
    spark.sql(s"CREATE TABLE $tbl (user_id BIGINT, n_events BIGINT, " +
      s"first_us BIGINT, last_us BIGINT, max_value DOUBLE) USING `graft-jsondoc`$tblProps")
    val schema = q183Stage(spark, dir, root)
    q183Drain(spark, root, tbl, schema)
    spark.sql(s"SELECT user_id, n_events, first_us, last_us, max_value " +
      s"FROM $tbl ORDER BY user_id")
  }

  /** q194: the q183 incremental MV maintained MERGE-ON-READ (r14) — the
    * view declares `write.rowlevel.mode = merge-on-read`, so each
    * epoch's MERGE plans WriteDelta: matched keys land as delete
    * vectors + fresh rows, unmatched as inserts, and NO existing view
    * file is ever rewritten. This removes copy-on-write amplification
    * from the per-epoch cost entirely (q188's clustering bounds it;
    * MOR eliminates it — the read-side fold is repaid by periodic
    * OPTIMIZE, whose purge-on-compact the q189/rebase machinery
    * covers). Exactly-once is unchanged: the (appId, epoch) transaction
    * rides the SAME manifest claim the delta commit makes, so the
    * q183 replay/crash guarantees carry over verbatim — and the oracle
    * is q183's one-shot batch GROUP BY, so hash-green means the
    * DV-folded maintained view equals the recomputation bit for bit.
    * StreamingBoardSpec pins the zero-rewrite claim (seed files bitwise
    * untouched across epochs 1–2). */
  def q194MorMv(spark: SparkSession, dir: String): DataFrame =
    q183Impl(spark, dir, graft.RunTag.scratchFresh("q194"),
      " TBLPROPERTIES ('write.rowlevel.mode' = 'merge-on-read')")

  /** q188: the q183 incremental MV with a KEY-CLUSTERING maintenance
    * pass in the MIDDLE of its life (r13 — the clustered-MV claim as
    * an oracle row): fold epoch 0, `GraftCatalog.cluster` the view into
    * user_id range files (one atomic truncate-commit; the manifest
    * carries the applied-epoch txn map forward, so the replay guard
    * survives the rewrite), then resume the SAME checkpointed stream
    * for epochs 1–2, whose MERGEs now rewrite only range-intersecting
    * files. The oracle is q183's one-shot batch GROUP BY verbatim —
    * hash-green proves the clustering maintenance op is answer-
    * preserving through a live maintained view, not just in a probe. */
  def q188ClusteredMv(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.RunTag.scratchFresh("q188")
    spark.conf.set("spark.sql.catalog.graftcat",
      classOf[graft.sources.GraftCatalog].getName)
    val tbl = s"graftcat.`$root/mv`"
    spark.sql(s"CREATE TABLE $tbl (user_id BIGINT, n_events BIGINT, " +
      "first_us BIGINT, last_us BIGINT, max_value DOUBLE) USING `graft-jsondoc`")
    val schema = q183Stage(spark, dir, root, upTo = 1)
    q183Drain(spark, root, tbl, schema) // epoch 0 folds
    graft.sources.GraftCatalog.cluster(spark, tbl, "user_id", 4)
    q183Stage(spark, dir, root, upTo = 3) // epochs 1-2 appear
    q183Drain(spark, root, tbl, schema) // resume the same checkpoint
    spark.sql(s"SELECT user_id, n_events, first_us, last_us, max_value " +
      s"FROM $tbl ORDER BY user_id")
  }

  val q183Sql: String =
    "SELECT user_id, count(*) AS n_events, min(epoch_us(ts)) AS first_us, " +
      "max(epoch_us(ts)) AS last_us, max(value) AS max_value " +
      "FROM events GROUP BY 1 ORDER BY 1"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q146_quota_cap_stream" -> q146QuotaCapStream _,
    "q147_anomalies_stream" -> q147AnomaliesStream _,
    "q148_gap_fill_stream" -> q148GapFillStream _,
    "q150_sessionize_stream" -> q150SessionizeStream _,
    "q163_interval_join_stream" -> q163IntervalJoinStream _,
    "q165_content_dedup_stream" -> q165ContentDedupStream _,
    "q170_stream_stream_join" -> q170StreamStreamJoin _,
    "q171_stream_stream_outer" -> q171StreamStreamOuter _,
    "q172_stream_stream_full" -> q172StreamStreamFull _,
    "q173_sessionize_tws" -> q173SessionizeTws _,
    "q175_stream_stream_semi" -> q175StreamStreamSemi _,
    "q178_session_histogram" -> q178SessionHistogram _,
    "q179_pattern_stream" -> q179PatternStream _,
    "q183_incremental_mv" -> q183IncrementalMv _,
    "q188_clustered_mv" -> q188ClusteredMv _,
    "q194_mor_mv" -> q194MorMv _)

  val oracle: Map[String, String] = Map(
    "q146_quota_cap_stream" -> q146Sql,
    "q147_anomalies_stream" -> q147Sql,
    "q148_gap_fill_stream" -> q148Sql,
    "q150_sessionize_stream" -> q150Sql,
    // batch parity is the whole claim: the oracle is q155's SQL verbatim
    "q163_interval_join_stream" -> graft.ops.TimeSeries.q155Sql,
    "q165_content_dedup_stream" -> q165Sql,
    "q170_stream_stream_join" -> q170Sql,
    "q171_stream_stream_outer" -> q171Sql,
    "q172_stream_stream_full" -> q172Sql,
    // batch parity with the v1 sessionizer is the claim: q150's SQL verbatim
    "q173_sessionize_tws" -> q150Sql,
    "q175_stream_stream_semi" -> q175Sql,
    "q178_session_histogram" -> q178Sql,
    "q179_pattern_stream" -> q179Sql,
    // the MV invariant: maintained view == one-shot recomputation
    "q183_incremental_mv" -> q183Sql,
    // the MOR-maintained view equals the same one-shot recomputation
    "q194_mor_mv" -> q183Sql,
    // mid-life clustering is answer-preserving: q183's oracle verbatim
    "q188_clustered_mv" -> q183Sql)
}
