package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.GraftExtensions

/** The injected optimizer rule (SparkSessionExtensions tier): the
  * levenshtein length-difference prefilter must appear in the optimized
  * plan, never change results, and hold at the optimizer's fixed point
  * (a non-idempotent rewrite would loop the batch to max iterations). */
class ExtensionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .withExtensions(new GraftExtensions)
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def words = {
    import spark.implicits._
    Seq("kitten", "sitting", "kitchen", "mitten", "a", "abcdefghij")
      .toDF("w")
  }

  test("length-difference guard appears ahead of levenshtein in the plan") {
    // a file-backed relation: a local Seq would be constant-folded into a
    // LocalRelation before the plan could be inspected
    val df = Tables.part(spark, "/root/testdata/sf0.001")
      .filter(levenshtein(col("p_name"), lit("small ring")) <= 2)
    val p = df.queryExecution.optimizedPlan.toString
    assert(p.contains("abs(") && p.contains("length("), s"guard missing:\n$p")
    // guard precedes the levenshtein conjunct (short-circuit order)
    assert(p.indexOf("abs(") < p.indexOf("levenshtein"), s"guard not first:\n$p")
  }

  test("rewrite preserves results exactly") {
    val got = words.filter(levenshtein(col("w"), lit("kitten")) <= 2)
      .collect().map(_.getString(0)).sorted.toSeq
    // hand-checked: kitten 0, mitten 1, kitchen 2, sitting 3, a 5, abcdefghij >2
    assert(got === Seq("kitchen", "kitten", "mitten"))
  }

  test("every levenshtein predicate in a multi-predicate filter gets its own guard") {
    val df = Tables.part(spark, "/root/testdata/sf0.001")
      .filter(levenshtein(col("p_name"), lit("small ring")) <= 2 &&
        levenshtein(col("p_brand"), lit("BrandX")) <= 1)
    val p = df.queryExecution.optimizedPlan.toString
    val absCount = p.sliding("abs(".length).count(_ == "abs(")
    assert(absCount >= 2, s"expected a guard per predicate, got $absCount:\n$p")
  }

  test("literal-on-LHS forms are rewritten too (k >= lev, k > lev)") {
    val base = Tables.part(spark, "/root/testdata/sf0.001")
    for (pred <- Seq(lit(2) >= levenshtein(col("p_name"), lit("small ring")),
        lit(3) > levenshtein(col("p_name"), lit("small ring")))) {
      val df = base.filter(pred)
      val p = df.queryExecution.optimizedPlan.toString
      assert(p.contains("abs(") && p.indexOf("abs(") < p.indexOf("levenshtein"),
        s"literal-on-LHS form not guarded:\n$p")
      // both forms mean lev <= 2; results must match the canonical form
      assert(df.count() ==
        base.filter(levenshtein(col("p_name"), lit("small ring")) <= 2).count())
    }
  }

  test("a WEAKER hand-written guard does not suppress the tight one") {
    // abs(...) <= 50 is a no-op guard next to lev <= 2: the rule must
    // still add the <= 2 prefilter (and then hold at the fixed point)
    val df = Tables.part(spark, "/root/testdata/sf0.001")
      .filter(abs(length(col("p_name")) - length(lit("small ring"))) <= 50 &&
        levenshtein(col("p_name"), lit("small ring")) <= 2)
    val p = df.queryExecution.optimizedPlan.toString
    val absCount = p.sliding("abs(".length).count(_ == "abs(")
    assert(absCount >= 2, s"tight guard missing beside the weak one ($absCount):\n$p")
  }

  test("injected SQL surface: vec_dot / shingle3 resolve with no register() call") {
    // the whole point of the injection: a pure-SQL deployment
    // (spark.sql.extensions=graft.plans.GraftExtensions) gets the native
    // surface with zero Scala-side register() calls
    val d = spark.sql(
      "SELECT vec_dot(array(1.0D,2.0D,3.0D), array(4.0D,5.0D,6.0D)) AS v")
      .head.getDouble(0)
    assert(d == 32.0)
    val sh = spark.sql(
      "SELECT shingle3(array('a','b','c','d','b','c','d')) AS s")
      .head.getSeq[String](0)
    // distinct 3-grams in first-occurrence order
    assert(sh == Seq("a b c", "b c d", "c d b", "d b c"))
    val ic = spark.sql(
      "SELECT sorted_intersect_count(array(1L,3L,5L,7L), array(3L,4L,5L)) AS n")
      .head.getLong(0)
    assert(ic == 2L)
    // all 12 injected names in one statement: each resolves and evaluates
    val sq = "'{\"type\":\"Polygon\",\"coordinates\":[[[0,0],[2,0],[2,2],[0,2],[0,0]]]}'"
    val all = spark.sql(
      s"""SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS v,
                 hilbert_index(CAST(3 AS BIGINT), CAST(5 AS BIGINT), 4) AS hi,
                 hilbert_xy(CAST(3 AS BIGINT), CAST(5 AS BIGINT), 4) AS hx,
                 shingle3(array('a', 'b', 'c')) AS s3,
                 sorted_intersect_count(array(1L, 2L), array(2L, 3L)) AS ic,
                 geo_envelope($sq).xmax AS ex,
                 geo_contains($sq, 1.0D, 1.0D) AS gc,
                 geo_intersects($sq, '{"type":"Point","coordinates":[1,1]}') AS gi,
                 geo_distance(0.0D, 0.0D, 0.0D, 0.0D) AS gd,
                 minhash_sig(array(named_struct('ha', 1L, 'hb', 2L))) AS ms,
                 minhash_sig_text_md5(array('a b c')) AS m5,
                 minhash_sig_text_xxh(array('a b c')) AS mx""").head
    assert(all.getDouble(0) == 11.0)
    assert(all.getLong(1) == all.getLong(2), "hilbert_index at d=2 must equal hilbert_xy")
    assert(all.getSeq[String](3) == Seq("a b c"))
    assert(all.getLong(4) == 1L)
    assert(all.getDouble(5) == 2.0)
    assert(all.getBoolean(6) && all.getBoolean(7))
    assert(all.getDouble(8) == 0.0)
    for (i <- 9 to 11) {
      val sig = all.getSeq[Any](i)
      assert(sig.size == 64 && sig.forall(_ != null), s"column $i: $sig")
    }
  }

  test("injected SQL surface: hilbert_index at d=2 equals hilbert_xy, both from SQL") {
    // orientation-free cross-pin of the two injected Hilbert functions
    // (the exhaustive d=2 ≡ xy2d law from LayoutSpec, restated in SQL)
    val bad = spark.sql(
      """SELECT count(*) AS n
         FROM (SELECT id % 16 AS x, CAST(id / 16 AS BIGINT) AS y FROM range(256))
         WHERE hilbert_index(x, y, 4) != hilbert_xy(x, y, 4)""").head.getLong(0)
    assert(bad == 0L)
  }

  test("injected SQL surface: the minhash family, production-bound, both hash variants") {
    val row = spark.sql(
      """SELECT minhash_sig_text_xxh(shingle3(array('a','b','c','d'))) AS sx,
                minhash_sig_text_md5(shingle3(array('a','b','c','d'))) AS sm,
                minhash_sig_text_xxh(shingle3(array('a','b'))) AS se""").head
    val sx = row.getSeq[Any](0); val sm = row.getSeq[Any](1); val se = row.getSeq[Any](2)
    assert(sx.size == 64 && sx.forall(_ != null), "real doc must fill all K minima")
    assert(sm.size == 64 && sm.forall(_ != null))
    assert(sx != sm, "md5 and xxh families must hash differently")
    assert(se.size == 64 && se.forall(_ == null), "sub-3-token doc (no shingles) -> K nulls")
    val sig = spark.sql(
      "SELECT minhash_sig(array(struct(1L, 2L), struct(3L, 4L))) AS s")
      .head.getSeq[Any](0)
    assert(sig.size == 64 && sig.forall(_ != null))
  }

  test("injected builders reject malformed arity from SQL, by name") {
    val e = intercept[Exception] {
      spark.sql("SELECT shingle3(array('a','b','c'), 2)").collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("shingle3")), s"unhelpful error: $e")
  }

  test("rule is idempotent at the optimizer fixed point") {
    // a query whose condition already carries a length guard is untouched
    val df = Tables.part(spark, "/root/testdata/sf0.001")
      .filter(abs(length(col("p_name")) - length(lit("small ring"))) <= 2 &&
        levenshtein(col("p_name"), lit("small ring")) <= 2)
    val p = df.queryExecution.optimizedPlan.toString
    val absCount = p.sliding("abs(".length).count(_ == "abs(")
    assert(absCount <= 2, s"guard stacked ($absCount):\n$p")
    assert(df.count() > 0)
  }
}
