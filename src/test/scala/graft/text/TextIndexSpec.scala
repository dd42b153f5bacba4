package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.JsonDocVersions

/** The persisted inverted text index ([[TextIndex]]): create / search /
  * refresh-from-the-change-feed. Pins: search over the postings equals
  * the from-scratch BM25 at every lineage step; an UPDATE that drops
  * terms tombstones exactly those postings (re-tokenized from the
  * feed's before-image — the index is never diff-scanned); a DELETE
  * removes the doc's postings AND its sentinel (corpus stats shrink);
  * a doc updated twice within one range indexes only its final text;
  * refresh is exactly-once (re-CALL is an empty range) and
  * merge-on-read (prior postings files are never rewritten); the
  * stored bucket column always agrees with the driver-side prune
  * hash. */
class TextIndexSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .appName("text-index-spec")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val cat = "graftcat"
  private var root: String = _
  private var tbl: String = _
  private var idx: String = _

  override def beforeAll(): Unit = {
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    root = java.nio.file.Files.createTempDirectory("graft_ti").toString
    tbl = s"$cat.`$root/docs`"
    idx = s"$root/idx"
    spark.sql(s"CREATE TABLE $tbl (doc_id BIGINT, text STRING) " +
      "USING `graft-jsondoc` TBLPROPERTIES ('write.rowlevel.mode' = 'merge-on-read')")
    spark.sql(s"INSERT INTO $tbl VALUES " +
      "(1, 'alpha beta beta gamma'), " +
      "(2, 'beta gamma gamma delta'), " +
      "(3, 'alpha alpha delta'), " +
      "(4, 'epsilon zeta')")
  }

  /** q101's BM25 from scratch over the live base — the ground truth
    * the index must reproduce at every step. */
  private def inline(terms: Seq[String], k: Int): Seq[(Long, Double)] = {
    val toks = spark.sql(s"SELECT doc_id, text FROM $tbl")
      .select(col("doc_id"),
        explode(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)))
          .as("term"))
    val lens = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val tf = toks.where(col("term").isin(terms: _*))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = lens.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val avgdl = col("sum_dl").cast("double") / col("n_docs").cast("double")
    val idf = log((col("n_docs").cast("double") - col("df") + 0.5) /
      (col("df") + 0.5) + 1.0)
    val w = col("tf").cast("double") * lit(2.2) /
      (col("tf").cast("double") +
        lit(1.2) * (lit(0.25) + lit(0.75) * col("dl").cast("double") / avgdl))
    tf.join(broadcast(df), "term").join(lens, "doc_id").crossJoin(broadcast(stats))
      .groupBy(col("doc_id")).agg(round(sum(idf * w), 6).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id")).limit(k)
      .collect().toSeq.map(r => (r.getLong(0), r.getDouble(1)))
  }

  private def searched(terms: Seq[String], k: Int): Seq[(Long, Double)] =
    spark.sql(s"CALL $cat.text_search('$idx', '${terms.mkString(",")}', $k)")
      .collect().toSeq.map(r => (r.getLong(0), r.getDouble(1)))

  private def postings(where: String = "true"): Seq[(String, Long, Long, Long)] =
    spark.sql(s"SELECT term, doc_id, tf, dl FROM $cat.`$idx/postings` WHERE $where")
      .collect().toSeq.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2))

  test("create indexes the head; search equals the from-scratch BM25") {
    spark.sql(s"CALL $cat.create_text_index('$idx', '$root/docs', 8)").collect()
    assert(searched(Seq("beta", "gamma"), 10) === inline(Seq("beta", "gamma"), 10))
    assert(searched(Seq("alpha"), 10) === inline(Seq("alpha"), 10))
    // tf/dl stored exactly; the sentinel carries dl as tf
    assert(postings("term = 'beta'") === Seq(("beta", 1L, 2L, 4L), ("beta", 2L, 1L, 4L)))
    assert(postings(s"term = '${TextIndex.DocSentinel}'").map(p => (p._2, p._3)) ===
      Seq((1L, 4L), (2L, 4L), (3L, 3L), (4L, 2L)))
    // the stored bucket always agrees with the driver-side prune hash
    val bucketRows = spark.sql(s"SELECT DISTINCT term, bucket FROM $cat.`$idx/postings`")
      .collect()
    bucketRows.foreach { r =>
      assert(r.getLong(1) === TextIndex.bucketOf(r.getString(0), 8),
        s"bucket drift for term ${r.getString(0)}")
    }
  }

  test("append folds; an update tombstones vanished terms from the before-image") {
    spark.sql(s"INSERT INTO $tbl VALUES (5, 'beta beta beta eta')")
    // doc 1 loses 'beta' and 'gamma', gains 'theta'; dl shrinks 4 -> 3
    spark.sql(s"UPDATE $tbl SET text = 'alpha alpha theta' WHERE doc_id = 1")
    val keep = JsonDocVersions.latest(s"$idx/postings").get._2
    spark.sql(s"CALL $cat.refresh_text_index('$idx')").collect()
    // merge-on-read: the fold never rewrites a prior postings file
    val after = JsonDocVersions.latest(s"$idx/postings").get._2
    assert(after.intersect(keep) === keep,
      "a MOR fold must keep every prior postings file")
    assert(searched(Seq("beta", "gamma"), 10) === inline(Seq("beta", "gamma"), 10))
    assert(searched(Seq("theta", "eta"), 10) === inline(Seq("theta", "eta"), 10))
    // doc 1's beta posting is GONE (tombstoned), not zeroed
    assert(postings("term = 'beta'").map(_._2) === Seq(2L, 5L))
    assert(postings("term = 'beta' AND doc_id = 1") === Seq.empty)
    // and its sentinel carries the new length
    assert(postings(s"term = '${TextIndex.DocSentinel}' AND doc_id = 1")
      .map(_._3) === Seq(3L))
  }

  test("a delete removes the doc's postings and shrinks the corpus stats") {
    val (_, _, headBefore) = TextIndex.stateOf(idx)
    spark.sql(s"DELETE FROM $tbl WHERE doc_id = 2")
    val (_, last, head) = TextIndex.stateOf(idx)
    assert(head === headBefore + 1 && last === headBefore,
      s"one stale commit expected, got last=$last head=$head")
    spark.sql(s"CALL $cat.refresh_text_index('$idx')").collect()
    assert(postings("doc_id = 2") === Seq.empty,
      "a deleted doc must leave no postings, sentinel included")
    assert(searched(Seq("beta", "gamma", "delta"), 10) ===
      inline(Seq("beta", "gamma", "delta"), 10))
    // re-CALL: empty range, nothing double-folds
    val again = spark.sql(s"CALL $cat.refresh_text_index('$idx')").collect()(0)
    assert(again.getLong(0) > again.getLong(1), s"no-op refresh expected: $again")
    assert(searched(Seq("beta", "gamma", "delta"), 10) ===
      inline(Seq("beta", "gamma", "delta"), 10))
  }

  test("a doc updated twice in one range indexes only its final text") {
    spark.sql(s"UPDATE $tbl SET text = 'iota iota kappa' WHERE doc_id = 3")
    spark.sql(s"UPDATE $tbl SET text = 'kappa lambda' WHERE doc_id = 3")
    spark.sql(s"CALL $cat.refresh_text_index('$idx')").collect()
    // the intermediate 'iota' state never existed in the index
    assert(postings("doc_id = 3").map(_._1).filterNot(_ == TextIndex.DocSentinel)
      .sorted === Seq("kappa", "lambda"))
    assert(searched(Seq("kappa", "lambda", "alpha"), 10) ===
      inline(Seq("kappa", "lambda", "alpha"), 10))
  }

  test("duplicate doc_ids refuse at create and at refresh (r17 review)") {
    val r2 = java.nio.file.Files.createTempDirectory("graft_ti_dup").toString
    val t2 = s"$cat.`$r2/docs`"
    spark.sql(s"CREATE TABLE $t2 (doc_id BIGINT, text STRING) USING `graft-jsondoc`")
    spark.sql(s"INSERT INTO $t2 VALUES (1, 'alpha'), (1, 'beta')")
    val e1 = intercept[Exception] {
      spark.sql(s"CALL $cat.create_text_index('$r2/idx', '$r2/docs', 8)").collect()
    }
    assert(e1.getMessage.contains("duplicate doc_id"), e1.getMessage)
    // a clean base indexes; a dup-introducing range then refuses
    val r3 = java.nio.file.Files.createTempDirectory("graft_ti_dup2").toString
    val t3 = s"$cat.`$r3/docs`"
    spark.sql(s"CREATE TABLE $t3 (doc_id BIGINT, text STRING) USING `graft-jsondoc`")
    spark.sql(s"INSERT INTO $t3 VALUES (1, 'alpha')")
    spark.sql(s"CALL $cat.create_text_index('$r3/idx', '$r3/docs', 8)").collect()
    spark.sql(s"INSERT INTO $t3 VALUES (2, 'beta'), (2, 'gamma')")
    val e2 = intercept[Exception] {
      spark.sql(s"CALL $cat.refresh_text_index('$r3/idx')").collect()
    }
    assert(e2.getMessage.contains("more than once in one commit"), e2.getMessage)
    // cross-commit append-append of one key refuses too
    val r4 = java.nio.file.Files.createTempDirectory("graft_ti_dup3").toString
    val t4 = s"$cat.`$r4/docs`"
    spark.sql(s"CREATE TABLE $t4 (doc_id BIGINT, text STRING) USING `graft-jsondoc`")
    spark.sql(s"INSERT INTO $t4 VALUES (1, 'alpha')")
    spark.sql(s"CALL $cat.create_text_index('$r4/idx', '$r4/docs', 8)").collect()
    spark.sql(s"INSERT INTO $t4 VALUES (3, 'beta')")
    spark.sql(s"INSERT INTO $t4 VALUES (3, 'gamma')")
    val e3 = intercept[Exception] {
      spark.sql(s"CALL $cat.refresh_text_index('$r4/idx')").collect()
    }
    assert(e3.getMessage.contains("multiple live rows"), e3.getMessage)
  }

  test("create sweeps a crash orphan and refuses an existing index (r17 review)") {
    val r2 = java.nio.file.Files.createTempDirectory("graft_ti_orphan").toString
    val t2 = s"$cat.`$r2/docs`"
    spark.sql(s"CREATE TABLE $t2 (doc_id BIGINT, text STRING) USING `graft-jsondoc`")
    spark.sql(s"INSERT INTO $t2 VALUES (1, 'alpha beta')")
    spark.sql(s"CALL $cat.create_text_index('$r2/idx', '$r2/docs', 8)").collect()
    // re-CALL on a live index refuses loudly
    val e = intercept[Exception] {
      spark.sql(s"CALL $cat.create_text_index('$r2/idx', '$r2/docs', 8)").collect()
    }
    assert(e.getMessage.contains("already exists"), e.getMessage)
    // a crash orphan (postings dir, no def file) is swept by re-CREATE
    assert(new java.io.File(s"$r2/idx/${TextIndex.DefName}").delete())
    spark.sql(s"CALL $cat.create_text_index('$r2/idx', '$r2/docs', 8)").collect()
    assert(spark.sql(s"CALL $cat.text_search('$r2/idx', 'alpha', 5)")
      .collect().map(_.getLong(0)).toSeq === Seq(1L))
  }

  test("state reports the fold watermark against the base head") {
    val (base, last, head) = TextIndex.stateOf(idx)
    assert(base === new java.io.File(s"$root/docs").getAbsolutePath)
    assert(last === head, s"the index should be current, got last=$last head=$head")
    val row = spark.sql(s"CALL $cat.text_index_state('$idx')").collect()(0)
    assert(row.getLong(3) === 0L, s"stale_commits must be 0: $row")
    // an OPTIMIZE commit has an empty feed: its refresh folds through
    // the postings ledger alone, and the next refresh is a no-op
    val opt = spark.sql(s"CALL $cat.optimize('$root/docs', ${32 * 1024 * 1024})")
      .collect()(0).getLong(0)
    assert(opt === head + 1L, s"OPTIMIZE must commit one base version: $opt")
    spark.sql(s"CALL $cat.refresh_text_index('$idx')").collect()
    val (_, last2, head2) = TextIndex.stateOf(idx)
    assert(last2 === head2 && head2 === head + 1,
      s"the empty range must advance the watermark: last=$last2 head=$head2")
    val again = spark.sql(s"CALL $cat.refresh_text_index('$idx')").collect()(0)
    assert(again.getLong(0) > again.getLong(1), s"no-op refresh expected: $again")
    assert(searched(Seq("alpha", "kappa"), 10) === inline(Seq("alpha", "kappa"), 10))
  }

  test("lastFoldedAt at a pin taken before the first refresh is the create-time version") {
    val r2 = java.nio.file.Files.createTempDirectory("graft_ti_pin").toString
    val t2 = s"$cat.`$r2/docs`"
    spark.sql(s"CREATE TABLE $t2 (doc_id BIGINT, text STRING) USING `graft-jsondoc`")
    spark.sql(s"INSERT INTO $t2 VALUES (1, 'alpha beta')")
    val created = spark.sql(s"CALL $cat.create_text_index('$r2/idx', '$r2/docs', 8)")
      .collect()(0).getLong(0).toInt
    val postings = TextIndex.postingsPath(s"$r2/idx")
    val pin = JsonDocVersions.latestVersion(postings).get
    spark.sql(s"INSERT INTO $t2 VALUES (2, 'gamma')")
    val (_, to) = TextIndex.refresh(spark, cat, s"$r2/idx")
    assert(to === created + 1)
    // the pinned snapshot holds the create-time postings, whatever the
    // refresh published after the pin
    assert(TextIndex.lastFoldedAt(s"$r2/idx", pin) === created)
    assert(TextIndex.lastFoldedAt(s"$r2/idx",
      JsonDocVersions.latestVersion(postings).get) === to)
  }

  test("continuous refresh follows commits; redelivery never double-folds") {
    val r3 = java.nio.file.Files.createTempDirectory("graft_tiauto").toString
    val t3 = s"$cat.`$r3/docs`"
    val i3 = s"$r3/idx"
    spark.sql(s"CREATE TABLE $t3 (doc_id BIGINT, text STRING) " +
      "USING `graft-jsondoc` TBLPROPERTIES ('write.rowlevel.mode' = 'merge-on-read')")
    spark.sql(s"INSERT INTO $t3 VALUES (1, 'alpha beta'), (2, 'beta gamma')")
    spark.sql(s"CALL $cat.create_text_index('$i3', '$r3/docs', 4)").collect()
    val ck = java.nio.file.Files.createTempDirectory("graft_tiauto_ck").toString
    val q = TextIndex.autoRefresh(spark, cat, i3, ck)
    try {
      spark.sql(s"INSERT INTO $t3 VALUES (3, 'alpha alpha delta')")
      spark.sql(s"DELETE FROM $t3 WHERE doc_id = 2")
      q.processAllAvailable()
      val (_, last, head) = TextIndex.stateOf(i3)
      assert(last === head, s"the stream must fold to current: $last vs $head")
      val got = TextIndex.search(spark, cat, i3, Seq("alpha"), 10)
        .collect().map(_.getLong(0)).toSet
      assert(got === Set(1L, 3L), s"search must reflect the folded DML: $got")
    } finally q.stop()
    // redelivery: a FRESH checkpoint replays the whole feed as signals;
    // the postings ledger makes every replayed fold a no-op
    val before = TextIndex.search(spark, cat, i3, Seq("alpha", "beta"), 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val ck2 = java.nio.file.Files.createTempDirectory("graft_tiauto_ck2").toString
    val q2 = TextIndex.autoRefresh(spark, cat, i3, ck2)
    try {
      q2.processAllAvailable()
      assert(TextIndex.search(spark, cat, i3, Seq("alpha", "beta"), 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq === before,
        "replayed signals must never double-fold")
      spark.sql(s"INSERT INTO $t3 VALUES (4, 'beta beta')")
      q2.processAllAvailable()
      val (_, last2, head2) = TextIndex.stateOf(i3)
      assert(last2 === head2, "the stream keeps following new commits")
    } finally q2.stop()
  }

  test("conjunctive and phrase search; positions stay exact through DML") {
    val r2 = java.nio.file.Files.createTempDirectory("graft_tip").toString
    val t2 = s"$cat.`$r2/docs`"
    val i2 = s"$r2/idx"
    spark.sql(s"CREATE TABLE $t2 (doc_id BIGINT, text STRING) " +
      "USING `graft-jsondoc` TBLPROPERTIES ('write.rowlevel.mode' = 'merge-on-read')")
    spark.sql(s"INSERT INTO $t2 VALUES " +
      "(1, 'hash join beats nested loops'), " +      // phrase 'hash join'
      "(2, 'join hash tables eagerly'), " +          // both terms, wrong order
      "(3, 'hash the keys then join them'), " +      // both terms, not adjacent
      "(4, 'a hash is not a join-free lunch hash join'), " + // phrase at tail
      "(5, 'only hash here'), (6, 'only join here'), " +
      "(7, 'hash hash join join')")                  // phrase via middle pair
    spark.sql(s"CALL $cat.create_text_index('$i2', '$r2/docs', 8)").collect()

    def docsOf(df: DataFrame): Seq[Long] =
      df.collect().toSeq.map(_.getLong(0)).sorted
    // AND: every doc containing BOTH terms, regardless of order
    assert(docsOf(TextIndex.searchAnd(spark, cat, i2, Seq("hash", "join"), 10))
      === Seq(1L, 2L, 3L, 4L, 7L))
    // the OR search (unchanged) also sees 5 and 6
    assert(docsOf(TextIndex.search(spark, cat, i2, Seq("hash", "join"), 10))
      === Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L))
    // PHRASE: adjacency in order only
    assert(docsOf(TextIndex.searchPhrase(spark, cat, i2, Seq("hash", "join"), 10))
      === Seq(1L, 4L, 7L))
    // the CALL surfaces agree with the API
    assert(spark.sql(s"CALL $cat.text_search_and('$i2', 'hash,join', 10)")
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 3L, 4L, 7L))
    assert(spark.sql(s"CALL $cat.text_search_phrase('$i2', 'hash,join', 10)")
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 4L, 7L))
    // scores equal the or-mode scores for the same docs (same BM25,
    // corpus-wide df — the restriction must not change idf)
    val orScores = TextIndex.search(spark, cat, i2, Seq("hash", "join"), 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    TextIndex.searchPhrase(spark, cat, i2, Seq("hash", "join"), 10)
      .collect().foreach(r =>
        assert(r.getDouble(1) === orScores(r.getLong(0)),
          s"phrase scoring drifted for doc ${r.getLong(0)}"))

    // DML: an UPDATE breaks doc 1's phrase and creates one in doc 3;
    // a DELETE removes doc 4; an insert brings a new phrase doc
    spark.sql(s"UPDATE $t2 SET text = 'hash then join beats loops' WHERE doc_id = 1")
    spark.sql(s"UPDATE $t2 SET text = 'keys hash join them' WHERE doc_id = 3")
    spark.sql(s"DELETE FROM $t2 WHERE doc_id = 4")
    spark.sql(s"INSERT INTO $t2 VALUES (8, 'the hash join operator')")
    spark.sql(s"CALL $cat.refresh_text_index('$i2')").collect()
    assert(docsOf(TextIndex.searchPhrase(spark, cat, i2, Seq("hash", "join"), 10))
      === Seq(3L, 7L, 8L),
      "refresh must keep positions exact through update/delete/insert")
    assert(docsOf(TextIndex.searchAnd(spark, cat, i2, Seq("hash", "join"), 10))
      === Seq(1L, 2L, 3L, 7L, 8L))
    // a three-term phrase via the m-way shifted intersection
    assert(docsOf(TextIndex.searchPhrase(spark, cat, i2,
      Seq("hash", "join", "operator"), 10)) === Seq(8L))
    // a repeated-term phrase matches only true repetition
    assert(docsOf(TextIndex.searchPhrase(spark, cat, i2, Seq("hash", "hash"), 10))
      === Seq(7L))
  }
}
