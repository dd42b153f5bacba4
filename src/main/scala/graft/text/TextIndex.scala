package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.FeedIndex

/** PERSISTED INVERTED TEXT INDEX maintained from the change feed (r17
  * — the lexical twin of [[graft.sim.AnnIndex]]): q101's BM25 retrieval
  * re-pays corpus tokenization on every query; at 100 TB the postings
  * must live as a TABLE (the Lucene/Elasticsearch deployment shape)
  * and fold per commit. Layout, create, watermark and refresh frame are
  * [[FeedIndex]]'s; this object supplies the postings and the delta.
  *
  * Layout under one index root:
  *   - `_text_index.json` — base table path, bucket count and the
  *     create-time base version, written once at create. The only fold
  *     watermark is the postings table's transaction ledger
  *     (`CALL text_index_state` reports it).
  *   - `postings/` — a graft-jsondoc table `(bucket BIGINT, term
  *     STRING, doc_id BIGINT, tf BIGINT, dl BIGINT)` PARTITIONED BY
  *     bucket, where `bucket = pmod(xxhash64(term), B)`: a query for
  *     |q| terms statically prunes to at most |q| of B partitions —
  *     the whole point of a posting layout at scale. Doc length rides
  *     DENORMALIZED on every posting (classic BM25 postings), and one
  *     SENTINEL row per document (`term = '__doc__'`, tf = dl) makes
  *     the corpus statistics (N, Σdl) a one-partition aggregate —
  *     `__doc__` can never collide with a real token of the `[a-z0-9]+`
  *     tokenizer.
  *
  * REFRESH needs no index diff scan: the change feed's DELETE rows
  * carry before-images, so the OLD term multiset of every changed
  * document re-tokenizes from the feed itself — per doc, the EARLIEST
  * delete in the range is the pre-range text (what the index currently
  * holds) and the q206 replay rule (latest commit wins, insert
  * outranks delete within a commit) yields the final text. Tombstones
  * = old terms minus new terms; puts = the new postings; one MERGE
  * keyed `(doc_id, term)` lands both — exactly-once via the ledger,
  * merge-on-read so the fold writes delete vectors + inserts in
  * O(changed docs' tokens) and rewrites nothing (the ANN index lesson,
  * PERF.md "AnnIndex refresh"). Intermediate states a doc passed through WITHIN the range
  * never existed in the index and never produce postings.
  *
  * SEARCH replays q101's exact BM25 (k1 = 1.2, b = 0.75, the 6-decimal
  * rounded ranking): tf/dl come straight off the pruned postings scan
  * (no corpus pass, no lens join), df and the corpus stats are
  * broadcast-sized aggregates. Byte-identical to the from-scratch
  * computation over the same corpus — q233 pins that against q101's
  * own oracle. */
object TextIndex {
  val DefName = "_text_index.json"
  val DocSentinel = "__doc__"
  private val index = new FeedIndex(DefName, "graft-text", "text index")
  def postingsPath(indexRoot: String): String = index.postingsPath(indexRoot)

  final case class IndexDef(basePath: String, buckets: Int)

  def readDef(indexRoot: String): IndexDef = {
    val root = index.readDef(indexRoot)
    IndexDef(root.get("basePath").asText(), root.get("buckets").asInt())
  }

  /** The write-side bucket of a term, evaluated driver-side for the
    * read-side static partition prune — the SAME xxhash64(seed 42) the
    * stored `bucket` column used, so prune and data can never drift. */
  def bucketOf(term: String, buckets: Int): Long = {
    // seed 42 = the SQL xxhash64 builtin's fixed seed
    val h = org.apache.spark.sql.catalyst.expressions.XxHash64(
      Seq(org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(term),
        org.apache.spark.sql.types.StringType)), 42L).eval(null).asInstanceOf[Long]
    java.lang.Math.floorMod(h, buckets.toLong)
  }

  /** The q101 tokenizer, verbatim: lowercased `[a-z0-9]+` runs. */
  private def tokens(text: Column): Column =
    regexp_extract_all(lower(text), lit("[a-z0-9]+"), lit(0))

  /** Postings (term, doc_id, tf, dl, positions) + the per-doc sentinel
    * row, from any `(doc_id, text)` frame. A zero-token document has no
    * rows and no sentinel — exactly q101's lens-from-tokens behavior.
    * `positions` (r18) = the term's 0-based token offsets, ascending,
    * comma-joined into a STRING (the jsondoc storable encoding of the
    * positional postings a phrase query needs); NULL on the sentinel. */
  private def postingsOf(docs: DataFrame, buckets: Int): DataFrame = {
    val tf = docs.select(col("doc_id"),
        posexplode(tokens(col("text"))).as(Seq("pos", "term")))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"),
        concat_ws(",", transform(sort_array(collect_list(col("pos"))),
          _.cast("string"))).as("positions"))
    // dl attaches via a WINDOW over the same key the sentinel aggregate
    // groups on (guide §2.4: a window partitioned like a neighboring
    // aggregation shares its exchange): the previous groupBy + self-join
    // re-shuffled the full tf table a second time AND paid the join;
    // here both branches hang off ONE doc_id exchange (ReuseExchange
    // dedupes it across the union) and the join disappears. Values are
    // identical — dl = Σtf per doc either way.
    val win = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    tf.withColumn("dl", sum(col("tf")).over(win))
      .select(col("term"), col("doc_id"), col("tf"), col("dl"), col("positions"))
      .unionByName(dl.select(lit(DocSentinel).as("term"), col("doc_id"),
        col("dl").as("tf"), col("dl"), lit(null).cast("string").as("positions")))
      .withColumn("bucket", pmod(xxhash64(col("term")), lit(buckets.toLong)))
      .select(col("bucket"), col("term"), col("doc_id"), col("tf"), col("dl"),
        col("positions"))
  }

  /** Build the index at the base's current head; returns that version.
    * `base` must be a graft-jsondoc table carrying `(doc_id BIGINT, text
    * STRING)` with doc_id UNIQUE — the index is keyed by it (the vec_id
    * contract of the ANN index); duplicates refuse loudly here and at
    * refresh. */
  def create(spark: SparkSession, cat: String, indexRoot: String,
      basePath: String, buckets: Int = 64): Int = {
    val head = index.create(spark, cat, indexRoot, basePath,
      "bucket BIGINT, term STRING, doc_id BIGINT, tf BIGINT, dl BIGINT, " +
        "positions STRING", "bucket", _.put("buckets", buckets)) { base =>
      val dup = base.groupBy(col("doc_id")).count().where(col("count") > 1)
        .limit(1).collect()
      require(dup.isEmpty, s"text index: the base carries duplicate doc_id " +
        s"${dup.headOption.map(_.get(0)).getOrElse("")} — the index is keyed " +
        "by doc_id and requires it unique")
      postingsOf(base.select(col("doc_id"), col("text")), buckets)
    }
    register(spark, indexRoot)
    head
  }

  /** The session's index registry for the transparent rewrite
    * ([[graft.plans.RewriteOntoTextIndex]]): a comma-separated conf of
    * index roots. `create` registers automatically; a fresh session
    * re-registers existing indexes by SETting the conf. */
  val RootsConf = "spark.graft.text.index.roots"

  def register(spark: SparkSession, indexRoot: String): Unit = {
    val abs = new java.io.File(indexRoot).getAbsolutePath
    val cur = spark.conf.getOption(RootsConf).getOrElse("")
    if (!cur.split(',').map(_.trim).contains(abs))
      spark.conf.set(RootsConf, if (cur.isEmpty) abs else s"$cur,$abs")
  }

  def registeredRoots(spark: SparkSession): Seq[String] =
    spark.conf.getOption(RootsConf).getOrElse("")
      .split(',').map(_.trim).filter(_.nonEmpty).toSeq

  /** CONTINUOUS refresh (r18): the base's change-feed signal stream
    * ([[FeedIndex.signals]]) drives [[refresh]] per commit. Returns the
    * started query (caller stops it). */
  def autoRefresh(spark: SparkSession, cat: String, indexRoot: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    index.autoRefresh(spark, indexRoot, checkpoint) {
      refresh(spark, cat, indexRoot)
      ()
    }

  /** The fold watermark AS OF postings-manifest `version`: the ledger's
    * entry at that version, or (before any refresh committed) the
    * create-time version. The stale-serving rewrite's race-free anchor
    * ([[graft.plans.RewriteOntoTextIndex]]). */
  def lastFoldedAt(indexRoot: String, version: Int): Int =
    index.lastFoldedAt(indexRoot, version)

  /** The index's staleness triple: (base path, last folded version,
    * base head). */
  def stateOf(indexRoot: String): (String, Int, Int) = index.stateOf(indexRoot)

  /** Fold base changes `(last, head]` into the postings. Returns the
    * folded (from, to); from > to = already current. */
  def refresh(spark: SparkSession, cat: String, indexRoot: String): (Int, Int) = {
    val d = readDef(indexRoot)
    index.refresh(spark, cat, indexRoot, d.basePath,
      """ON t.doc_id = d.doc_id AND t.term = d.term
        |WHEN MATCHED AND d.act = 'del' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET tf = d.tf, dl = d.dl,
        |  positions = d.positions
        |WHEN NOT MATCHED AND d.act = 'put' THEN
        |  INSERT (bucket, term, doc_id, tf, dl, positions)
        |  VALUES (d.bucket, d.term, d.doc_id, d.tf, d.dl, d.positions)""".stripMargin)(
      delta(_, d.buckets))
  }

  /** The MERGE source of one refresh: puts (`act = 'put'`) for every
    * changed doc's final postings, tombstones (`act = 'del'`) for its
    * pre-range terms the final text dropped. */
  private def delta(changes: DataFrame, buckets: Int): DataFrame = {
    // NOT cached (r19: tried and reverted) — the dup probe, newDocs
    // and oldDocs each re-execute this scan, but the re-executions
    // are CHEAPER than one shared cache: the probe's reference is
    // column-pruned to (doc_id, act, v) and token-skips the heavy
    // text field entirely, while a cache must materialize text into
    // columnar batches (q242 probe: task-s min 21→39 with the cache,
    // jobs +2 on the MV cousins). Guide §5's caveat verbatim: cache
    // only when recompute beats the memory/materialization cost.
    val feed = changes.select(col("doc_id"), col("text"),
      col("_change_type").as("act"), col("_commit_version").as("v"))
    import org.apache.spark.sql.expressions.Window
    // the keyed contract holds per commit too: two surviving inserts
    // of one doc_id in one commit would make "the final text" a
    // coin flip — refuse loudly instead of indexing either. And
    // across commits: a net of 2+ surviving rows for one doc_id
    // means the base now duplicates the key (an append-to-existing
    // without a delete is invisible to the feed and stays the
    // caller's contract to keep). BOTH probes fold into ONE
    // aggregation pass/action (r18: they were two separate feed scans
    // + collects — two fixed job costs per refresh for one answer):
    // per (doc_id, commit) insert counts first, then per doc_id the
    // max per-commit count and the signed net, checked together.
    val dup = feed
      .groupBy(col("doc_id"), col("v"))
      .agg(sum(when(col("act") === "insert", 1L).otherwise(0L)).as("ci"),
        sum(when(col("act") === "insert", 1L).otherwise(-1L)).as("cn"))
      .groupBy(col("doc_id"))
      .agg(max(col("ci")).as("maxci"), sum(col("cn")).as("net"))
      .where(col("maxci") > 1 || col("net") > 1).limit(1).collect()
    dup.headOption.foreach { r =>
      require(r.getLong(1) <= 1, s"text index: the refresh range inserts " +
        s"doc_id ${r.get(0)} more than once in one commit — the index is " +
        "keyed by doc_id and requires it unique")
      require(r.getLong(2) <= 1, s"text index: the refresh range leaves " +
        s"doc_id ${r.get(0)} with multiple live rows — the index is keyed " +
        "by doc_id and requires it unique")
    }
    // final text per doc: latest commit wins, insert outranks delete
    // within one commit (the q206 replay rule)
    val newDocs = feed.withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("v").desc,
          when(col("act") === "insert", 0).otherwise(1))))
      .where(col("rn") === 1 && col("act") === "insert")
      .select(col("doc_id"), col("text"))
    // pre-range text per doc: the EARLIEST delete image (delete
    // outranks insert within its commit — it is the before-image);
    // a doc first seen as an insert was born inside the range and
    // has no postings to tombstone
    val oldDocs = feed.withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("v").asc,
          when(col("act") === "delete", 0).otherwise(1))))
      .where(col("rn") === 1 && col("act") === "delete")
      .select(col("doc_id"), col("text"))
    // NOT cached (r19: tried and reverted with the feed cache above)
    // — the anti-join's second reference is pruned to (doc_id, term)
    // and skips the positions/tf/dl aggregation work; a cache pays
    // the full materialization plus columnar-store overhead
    val puts = postingsOf(newDocs, buckets).withColumn("act", lit("put"))
    val tombstones = postingsOf(oldDocs, buckets)
      .join(puts.select(col("doc_id"), col("term")), Seq("doc_id", "term"),
        "left_anti")
      .select(col("bucket"), col("term"), col("doc_id"),
        lit(null).cast("bigint").as("tf"), lit(null).cast("bigint").as("dl"),
        lit(null).cast("string").as("positions"), lit("del").as("act"))
    puts.unionByName(tombstones)
  }

  /** BM25 top-k over the PERSISTED postings — q101's formula verbatim
    * (k1 = 1.2, b = 0.75, 6-decimal rounded ranking, ties by doc_id),
    * with tokenization already paid at write time. The scan prunes to
    * the query terms' buckets plus the sentinel bucket. */
  def search(spark: SparkSession, cat: String, indexRoot: String,
      terms: Seq[String], k: Int): DataFrame = {
    val (tf, stats) = pruned(spark, cat, indexRoot, terms)
    score(tf, tf, stats, k)
  }

  /** CONJUNCTIVE (AND) BM25 top-k (r18): only documents containing
    * EVERY query term score — the doc sets intersect across the terms'
    * buckets BEFORE any scoring work (the classic AND-query plan: each
    * term's postings arrive from its own pruned partition, and the
    * intersection is |smallest postings list|-bounded, never
    * corpus-bounded). idf keeps the corpus-wide document frequencies —
    * restricting a query must not change a term's rarity. */
  def searchAnd(spark: SparkSession, cat: String, indexRoot: String,
      terms: Seq[String], k: Int): DataFrame = {
    val uniq = terms.distinct
    val (tf, stats) = pruned(spark, cat, indexRoot, uniq)
    val all = tf.groupBy(col("doc_id"))
      .agg(count_distinct(col("term")).as("m"))
      .where(col("m") === uniq.length).select(col("doc_id"))
    score(tf.join(all, "doc_id"), tf, stats, k)
  }

  /** PHRASE BM25 top-k (r18): only documents containing the terms
    * ADJACENT and in order score. The positional postings make this an
    * index-only check: term i's positions shift by −i, and the phrase
    * occurs iff the shifted sets intersect — an m-way doc_id join of
    * bucket-pruned postings plus an array intersection, no text
    * re-scan. Scoring then ranks the matching docs by the phrase
    * terms' BM25 (corpus-wide df). */
  def searchPhrase(spark: SparkSession, cat: String, indexRoot: String,
      terms: Seq[String], k: Int): DataFrame = {
    require(terms.length >= 2, "a phrase needs at least two terms")
    val (tf, stats) = pruned(spark, cat, indexRoot, terms.distinct)
    val withPos = tf.withColumn("parr",
      expr("transform(split(positions, ','), x -> CAST(x AS BIGINT))"))
    val sides = terms.zipWithIndex.map { case (t, i) =>
      withPos.where(col("term") === t)
        .select(col("doc_id"), expr(s"transform(parr, x -> x - $i)").as(s"p$i"))
    }
    val joined = sides.reduce(_.join(_, "doc_id"))
    val inter = (0 until terms.length).map(i => s"p$i")
      .reduce((a, b) => s"array_intersect($a, $b)")
    val matched = joined.where(expr(s"size($inter) > 0")).select(col("doc_id"))
    score(tf.join(matched, "doc_id"), tf, stats, k)
  }

  /** The query terms' bucket-pruned postings plus the corpus stats —
    * the shared front of every search mode. */
  private def pruned(spark: SparkSession, cat: String, indexRoot: String,
      terms: Seq[String]): (DataFrame, DataFrame) = {
    val d = readDef(indexRoot)
    require(terms.nonEmpty && !terms.contains(DocSentinel),
      s"text index: query terms must be non-empty real tokens, got $terms")
    val postings = postingsPath(indexRoot)
    val termBuckets = terms.map(bucketOf(_, d.buckets)).distinct
    val stats = spark.sql(s"SELECT tf FROM $cat.`$postings` " +
        s"WHERE bucket = ${bucketOf(DocSentinel, d.buckets)} AND term = '$DocSentinel'")
      .agg(count(lit(1)).as("n_docs"), sum(col("tf")).as("sum_dl"))
    val tf = spark.sql(s"SELECT term, doc_id, tf, dl, positions " +
        s"FROM $cat.`$postings` " +
        s"WHERE bucket IN (${termBuckets.mkString(", ")})")
      .where(col("term").isin(terms: _*))
    (tf, stats)
  }

  /** q101's BM25 verbatim (k1 = 1.2, b = 0.75, 6-decimal rounded
    * ranking, ties by doc_id) over `scoreTf` rows; `dfTf` supplies the
    * document frequencies (the FULL term postings, so conjunctive and
    * phrase restrictions never change idf). */
  private def score(scoreTf: DataFrame, dfTf: DataFrame, stats: DataFrame,
      k: Int): DataFrame = {
    val (k1, b) = (1.2, 0.75)
    val df = dfTf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val avgdl = col("sum_dl").cast("double") / col("n_docs").cast("double")
    val idf = log((col("n_docs").cast("double") - col("df") + 0.5) /
      (col("df") + 0.5) + 1.0)
    val w = col("tf").cast("double") * lit(k1 + 1.0) /
      (col("tf").cast("double") +
        lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / avgdl))
    scoreTf.join(broadcast(df), "term")
      .crossJoin(broadcast(stats))
      .groupBy(col("doc_id"))
      .agg(round(sum(idf * w), 6).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(k)
  }
}
