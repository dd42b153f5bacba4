package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** A PERSISTED INDEX FOLDED FROM ITS BASE TABLE'S CHANGE FEED — the
  * machinery [[graft.text.TextIndex]] and [[graft.sim.AnnIndex]] share
  * (the paper's scheduled fold: read upstream state, reshape it,
  * publish). Each index keeps only its def fields, postings DDL,
  * head-snapshot frame, per-key feed delta, MERGE clauses and search.
  *
  * Layout under one index root:
  *   - the definition file `defName`: the base path, the create-time
  *     base version (JSON key `lastVersion`) and the index's own fields.
  *     `create` publishes it LAST and ONCE through the [[CommitStore]]
  *     CAS; nothing rewrites it, so a def on disk means a complete
  *     index and a postings dir without one is a crash orphan.
  *   - `postings/` — a merge-on-read graft-jsondoc table. Its
  *     transaction ledger (app id `<appPrefix>:<absolute root>`) is the
  *     ONLY fold watermark: last folded = the ledger entry, else the
  *     create-time version.
  *
  * `refresh` folds the base feed `(last, head]` in one MERGE that
  * carries the ledger entry `head` in the same commit ([[GraftTxn]]) —
  * exactly-once, and a range whose feed is empty (a base OPTIMIZE)
  * still advances the watermark. */
private[graft] final class FeedIndex(defName: String, appPrefix: String,
    label: String) {

  def postingsPath(root: String): String =
    new java.io.File(root, "postings").getAbsolutePath

  private def appId(root: String): String =
    s"$appPrefix:" + new java.io.File(root).getAbsolutePath

  def readDef(root: String): JsonNode = new ObjectMapper().readTree(
    JsonDocVersions.store.read(root, defName).getOrElse(
      throw new java.io.FileNotFoundException(s"$label $root has no $defName")))

  /** Build the index at the base's head and return that version. Refuses
    * a published def; sweeps a crash orphan; `snapshot` turns the base AS
    * OF head into postings rows before anything is written (so a check it
    * runs eagerly refuses with nothing to sweep); `columns` and
    * `partition` declare the postings table; `fields` adds the index's own
    * def fields. */
  def create(spark: SparkSession, cat: String, root: String, basePath: String,
      columns: String, partition: String, fields: ObjectNode => Unit)(
      snapshot: DataFrame => DataFrame): Int = {
    val exists = s"$label $root already exists — delete the index root to rebuild"
    require(JsonDocVersions.store.read(root, defName).isEmpty, exists)
    val postings = new java.io.File(postingsPath(root))
    if (postings.isDirectory) GraftMv.deleteRecursively(postings)
    val head = JsonDocVersions.latestVersion(basePath).getOrElse(0)
    val rows = if (head > 0) Some(snapshot(
      spark.sql(s"SELECT * FROM $cat.`$basePath` VERSION AS OF $head"))) else None
    // MERGE-ON-READ postings (r17, PERF.md "AnnIndex refresh"): a
    // delta's keys spread across partitions, so a copy-on-write MERGE
    // would rewrite ~every partition's files even for a tiny delta. MOR
    // lands delete vectors + inserts in O(changed rows); DV debt past
    // 32 compacts inline.
    spark.sql(s"CREATE TABLE $cat.`$postings` ($columns) USING `graft-jsondoc` " +
      s"PARTITIONED BY ($partition) " +
      "TBLPROPERTIES ('write.rowlevel.mode' = 'merge-on-read', " +
      "'write.autocompact.dvs' = '32')")
    rows.foreach(_.writeTo(s"$cat.`$postings`").append())
    val d = new ObjectMapper().createObjectNode()
    d.put("basePath", new java.io.File(basePath).getAbsolutePath)
    fields(d)
    d.put("lastVersion", head)
    require(JsonDocVersions.store.putIfAbsent(root, defName, d.toString), exists)
    head
  }

  /** The fold watermark AS OF postings-manifest `version` — what the
    * pinned snapshot holds: the ledger's entry at that version, or
    * (before any refresh committed) the create-time version. */
  def lastFoldedAt(root: String, version: Int): Int =
    JsonDocVersions.readTxns(postingsPath(root), version).get(appId(root))
      .map(_.toInt).getOrElse(readDef(root).get("lastVersion").asInt())

  private def lastFolded(root: String): Int =
    lastFoldedAt(root,
      JsonDocVersions.latestVersion(postingsPath(root)).getOrElse(0))

  /** (base path, last folded version, base head). */
  def stateOf(root: String): (String, Int, Int) = {
    val base = readDef(root).get("basePath").asText()
    (base, lastFolded(root), JsonDocVersions.latestVersion(base).getOrElse(0))
  }

  /** Fold `basePath`'s changes `(last, head]` into the postings:
    * `delta` turns the raw feed into the MERGE source `d`, and `merge`
    * holds the clauses after `MERGE INTO postings t USING d`. Returns
    * the folded (from, to); from > to = already current. Same-JVM
    * refreshes of one root serialize on a per-root lock. */
  def refresh(spark: SparkSession, cat: String, root: String, basePath: String,
      merge: String)(delta: DataFrame => DataFrame): (Int, Int) =
    FeedIndex.lockFor(root).synchronized {
      val postings = postingsPath(root)
      val last = lastFolded(root)
      val head = JsonDocVersions.latestVersion(basePath).getOrElse(0)
      if (head <= last) (last + 1, last)
      else {
        val feed = spark.read.format("graft-jsondoc")
          .option("readChanges", "true")
          .option("startingVersion", (last + 1).toString)
          .option("endingVersion", head.toString)
          .option("path", basePath).load()
        val view = s"graft_index_delta_${FeedIndex.views.incrementAndGet()}"
        delta(feed).createOrReplaceTempView(view)
        GraftTxn.begin(postings, appId(root), head.toLong)
        try spark.sql(s"MERGE INTO $cat.`$postings` t USING $view d $merge")
        finally {
          GraftTxn.clear(postings)
          spark.catalog.dropTempView(view)
          ()
        }
        (last + 1, head)
      }
    }

  /** CONTINUOUS refresh: [[FeedIndex.signals]] on the base drives
    * `refresh`. Returns the started query (caller stops it). */
  def autoRefresh(spark: SparkSession, root: String, checkpoint: String)(
      refresh: => Unit): StreamingQuery =
    FeedIndex.signals(spark, readDef(root).get("basePath").asText(),
      s"$appPrefix-autorefresh-${new java.io.File(root).getName}", checkpoint)(refresh)
}

private[graft] object FeedIndex {
  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(root: String): Object =
    locks.computeIfAbsent(new java.io.File(root).getAbsolutePath, _ => new Object)

  // refreshes of different roots run concurrently: each delta view
  // needs its own session name
  private val views = new java.util.concurrent.atomic.AtomicLong()

  /** One micro-batch stream on `basePath`'s change feed whose batches
    * only SIGNAL a commit: `onCommit` still folds `(last, head]` under
    * its own ledger, so a redelivered batch (crashed or deleted
    * checkpoint) re-folds nothing — exactly-once lives in the fold,
    * never the stream. */
  def signals(spark: SparkSession, basePath: String, queryName: String,
      checkpoint: String)(onCommit: => Unit): StreamingQuery =
    spark.readStream.format("graft-jsondoc")
      .option("readChanges", "true")
      .option("path", basePath).load()
      .writeStream
      .queryName(queryName)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (_: DataFrame, _: Long) => onCommit }
      .start()
}
