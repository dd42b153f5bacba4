package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression tests: at 100 TB the PLAN is the product —
  * correctness with a bad plan (unpruned scan, shuffled dim join, global
  * sort for a top-k) does not survive scale-up. These assertions pin the
  * properties that make the headline queries scale:
  * pushed filters reach the parquet reader, scans read only referenced
  * columns, dimension joins broadcast, and top-k avoids a global sort.
  */
class PlanQualitySpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  override def afterAll(): Unit = spark.stop()

  private def plan(name: String): SparkPlan =
    SparkEntry.queries(name)(spark, dir).queryExecution.sparkPlan

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] =
    p.collect { case f: FileSourceScanExec => f }

  private def pushed(s: FileSourceScanExec): String =
    s.metadata.getOrElse("PushedFilters", "")

  test("q01: shipdate predicate is pushed into the parquet scan; columns pruned") {
    val ss = scans(plan("q01_pricing_summary"))
    assert(ss.size == 1)
    assert(pushed(ss.head).contains("LessThanOrEqual(l_shipdate"))
    val readCols = ss.head.metadata("ReadSchema")
    // 11-column table, 6 referenced — the scan must not read the rest
    assert(!readCols.contains("l_partkey") && !readCols.contains("l_orderkey"))
  }

  test("q02: all three predicates reach the scan") {
    val s = scans(plan("q02_revenue_filter")).head
    val f = pushed(s)
    assert(f.contains("GreaterThanOrEqual(l_shipdate") &&
      f.contains("LessThanOrEqual(l_discount") && f.contains("LessThan(l_quantity"))
  }

  test("q03: both dimension joins are broadcast; top-k is TakeOrderedAndProject") {
    val p = plan("q03_top_revenue")
    assert(p.collect { case b: BroadcastHashJoinExec => b }.size == 2)
    assert(p.collect { case t: TakeOrderedAndProjectExec => t }.nonEmpty)
    // the segment filter must be pushed into the customer scan
    assert(scans(p).exists(s => pushed(s).contains("EqualTo(c_mktsegment,BUILDING)")))
  }

  test("q06: the whole dim chain broadcasts — zero fact-side shuffle joins") {
    val p = plan("q06_region_revenue")
    assert(p.collect { case b: BroadcastHashJoinExec => b }.size == 3)
    // lineitem scan reads only the 3 referenced columns
    val li = scans(p).find(_.metadata("Location").contains("lineitem")).get
    assert(li.metadata("ReadSchema")
      == "struct<l_suppkey:bigint,l_extendedprice:double,l_discount:double>")
  }

  test("q77/q78: the corpus side of the dedup chain scans only needed columns") {
    // the cluster-label side is an RDD-backed (lineage-truncated) cache,
    // so the only parquet scan in the returned plan is the corpus itself
    val s77 = scans(plan("q77_dedup_keeplist"))
    assert(s77.size == 1 && s77.head.metadata("ReadSchema") == "struct<doc_id:bigint>")
    Caches.drain()
    val s78 = scans(plan("q78_dedup_corpus_lsh"))
    assert(s78.size == 1 && s78.head.metadata("ReadSchema") == "struct<doc_id:bigint,text:string>")
    Caches.drain()
  }

  test("q09: global top-k plans TakeOrderedAndProject, not a global sort") {
    val p = plan("q09_global_topk")
    assert(p.collect { case t: TakeOrderedAndProjectExec => t }.nonEmpty)
    assert(!p.toString.contains("SortExec"))
  }

  test("q69 decontamination broadcasts the probe side (corpus never shuffles)") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val p = plan("q69_decontaminate")
    assert(p.collect { case b: BroadcastHashJoinExec => b }.nonEmpty,
      s"probe join not broadcast:\n$p")
  }

  test("q66/q68 text stages plan no exchange before the oracle sort") {
    for (q <- Seq("q66_pii_scrub", "q68_repetition")) {
      // the only allowed exchange implements the deterministic ORDER BY
      // (counted on the executed plan — sparkPlan has no exchanges yet)
      assert(exchangeCount(q) <= 1, s"$q shuffles mid-pipeline:\n${plan(q)}")
    }
  }

  test("q84 LM scoring broadcasts the model back (no second corpus-side shuffle join)") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val p = plan("q84_unigram_lm")
    assert(p.collect { case b: BroadcastHashJoinExec => b }.nonEmpty,
      s"model join not broadcast:\n$p")
    assert(p.collect { case s: SortMergeJoinExec => s }.isEmpty,
      s"corpus side shuffle-joins the model:\n$p")
  }

  test("q86 quantized top-k plans TakeOrderedAndProject over a broadcast query row") {
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    val p = plan("q86_quantized_ann")
    assert(p.collect { case t: TakeOrderedAndProjectExec => t }.nonEmpty, p.toString)
    assert(p.collect { case b: BroadcastNestedLoopJoinExec => b }.nonEmpty, p.toString)
  }

  test("q94 bloom dedup: the block table joins broadcast; corpus scans prune to (doc_id, text)") {
    val p = plan("q94_bloom_dedup")
    // both the probe's block join and the confirm anti-join keep the
    // batch side shuffle-free on the join: blocks and corpus-fps are the
    // small sides
    assert(p.collect { case b: BroadcastHashJoinExec => b }.nonEmpty)
    assert(scans(p).forall(s =>
      s.metadata("ReadSchema") == "struct<doc_id:bigint,text:string>"))
  }

  test("q97 z-order codes: shuffle-free scan->project (one scan, no joins/aggregates)") {
    val p = plan("q97_zorder")
    assert(scans(p).size == 1)
    assert(p.collect { case b: BroadcastHashJoinExec => b }.isEmpty)
    assert(p.collect { case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a }.isEmpty)
    // only the 3 referenced columns reach the scan
    assert(scans(p).head.metadata("ReadSchema")
      == "struct<o_orderkey:bigint,o_custkey:bigint,o_orderdate:timestamp_ntz>")
  }

  // sparkPlan predates EnsureRequirements (no Exchange nodes yet), so
  // exchange-count pins read the executed plan's tree (AQE's initial
  // plan renders them)
  private def exchangeCount(name: String): Int = {
    val s = SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString
    "Exchange (hash|range)partitioning".r.findAllIn(s).size
  }

  test("q100 source quota: scan prunes to (doc_id, source); one window exchange") {
    val p = plan("q100_source_quota")
    assert(scans(p).head.metadata("ReadSchema") == "struct<doc_id:bigint,source:string>")
    // the window's partitionBy(source) hash exchange + the final
    // ORDER BY's range exchange — nothing else
    assert(exchangeCount("q100_source_quota") == 2)
  }

  test("q96 heavy shingles: partial-agg before one exchange, top-50 is TakeOrdered") {
    val p = plan("q96_heavy_shingles")
    assert(p.collect { case t: TakeOrderedAndProjectExec => t }.nonEmpty)
    // one hash exchange for the df aggregation; the top-50 is TakeOrdered
    // (no range exchange)
    assert(exchangeCount("q96_heavy_shingles") == 1)
  }

  private def executed(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("q120 funnel: all three step resolutions ride ONE window exchange") {
    // the 3 running conditional mins share a window spec (partition
    // user, order ts+event_id): Catalyst chains them over a single
    // exchange+sort, the per-user rollup and the 1-row summary reuse
    // the partitioning, and 3 output rows never need a range exchange
    assert(exchangeCount("q120_funnel") == 1, executed("q120_funnel"))
  }

  test("q116 video scenes: one per-doc window exchange + the oracle sort, nothing else") {
    assert(exchangeCount("q116_video_scenes") == 2, executed("q116_video_scenes"))
  }

  test("q117 strip spans: window-hash + per-doc + join — three exchanges; token table cached once") {
    val s = executed("q117_strip_spans")
    assert(exchangeCount("q117_strip_spans") <= 3, s)
    // the tokenized corpus is computed once and served from cache to
    // both the window generation and the final cleaned-text join
    assert("InMemoryTableScan".r.findAllIn(s).size >= 2, s)
  }

  test("q118 gap fill: per-user calendar never cross-joins a global calendar") {
    val s = executed("q118_gap_fill")
    assert(!s.contains("BroadcastNestedLoopJoin") && !s.contains("CartesianProduct"), s)
    assert(exchangeCount("q118_gap_fill") <= 4, s)
  }

  test("q119 pagerank: per-round lineage cut keeps the final plan flat") {
    // without the cache+localCheckpoint cut each round embeds the
    // previous round's tree twice (dangling + contributions) — the
    // round-5 plan measured 910 exchanges; with it the final plan is a
    // checkpoint scan + round + one sort
    assert(exchangeCount("q119_pagerank") <= 1, executed("q119_pagerank"))
  }

  test("q114 NB classifier: model joins broadcast, tf cached once, no sort-merge join") {
    val s = executed("q114_nb_classifier")
    assert(!s.contains("SortMergeJoin"), s)
    // the two 1-row attaches (class totals, doc priors) are BNLJ
    // broadcast crossJoins; the per-term model join is broadcast hash
    assert("BroadcastNestedLoopJoin".r.findAllIn(s).size == 2, s)
    assert(s.contains("BroadcastHashJoin"), s)
    assert("InMemoryTableScan".r.findAllIn(s).size >= 1, s)
  }

  test("q122 collocations: vocab joins broadcast, top-50 is TakeOrdered, no sort-merge join") {
    val s = executed("q122_collocations")
    assert(!s.contains("SortMergeJoin"), s)
    assert(s.contains("TakeOrderedAndProject"), s)
    assert("BroadcastHashJoin".r.findAllIn(s).size >= 2, s)
  }

  test("q123/q126: stats attach back by broadcast — the fact scan never shuffle-joins") {
    for (q <- Seq("q123_mad_outliers", "q126_changepoint")) {
      val s = executed(q)
      assert(!s.contains("SortMergeJoin"), s"$q shuffle-joins its stats:\n$s")
      assert(s.contains("BroadcastHashJoin"), s"$q lost its broadcast attach:\n$s")
    }
  }

  test("q134 DSIR: bucket model joins broadcast, selection is TakeOrdered, no sort-merge join") {
    val s = executed("q134_dsir_sample")
    assert(!s.contains("SortMergeJoin"), s)
    // the <=256-row model (with its 1-row totals attach folded in)
    // joins the cached doc-bucket table by broadcast hash
    assert(s.contains("BroadcastHashJoin"), s)
    assert(s.contains("TakeOrderedAndProject"), s)
    assert("InMemoryTableScan".r.findAllIn(s).size >= 1, s)
  }

  test("q136 bigram LM: models broadcast back, corpus tokenizes once, no sort-merge join") {
    val s = executed("q136_bigram_lm")
    assert(!s.contains("SortMergeJoin"), s)
    assert("BroadcastHashJoin".r.findAllIn(s).size >= 3, s)
    // per-doc token arrays + the distinct-bigram table both serve from
    // cache — the raw corpus text is scanned exactly once
    assert("InMemoryTableScan".r.findAllIn(s).size >= 2, s)
  }

  test("q138 hard negatives: anchors broadcast, one window exchange, label filter before it") {
    val s = executed("q138_hard_negatives")
    // the anchor batch rides a broadcast nested-loop (it scores every
    // corpus row); no sort-merge join anywhere
    assert(s.contains("BroadcastNestedLoopJoin"), s)
    assert(!s.contains("SortMergeJoin"), s)
  }

  test("q139 oversample: lang counts broadcast; the explode is map-side after the rank window") {
    val s = executed("q139_balanced_oversample")
    assert(!s.contains("SortMergeJoin"), s)
    assert(s.contains("BroadcastHashJoin"), s)
    assert(s.contains("Generate"), s) // sequence() explode, no join
  }

  test("q140 grouped top-k: partial+final aggregate, no Window, no corpus sort") {
    val s = executed("q140_grouped_topk")
    // the whole point of the TopK aggregator: the per-group ranking must
    // NOT plan as a window (full shuffle+sort of every row)
    assert(!s.contains("Window"), s)
    // typed-buffer UDAF aggregates plan as ObjectHashAggregate with a
    // partial pass BEFORE the lang exchange — map tasks ship k-bounded
    // buffers, not rows
    assert(s.contains("partial_topk"), s)
    assert(s.contains("ObjectHashAggregate"), s)
    // exactly two exchanges: the lang hash exchange between the partial
    // and final aggregate, and the 100-row oracle output sort
    assert(exchangeCount("q140_grouped_topk") == 2, s)
  }

  test("q141 concurrency sweep: the session chain computes once (cached endpoint table)") {
    val s = executed("q141_concurrency_peak")
    // both the within-day running sum and the carry table must read the
    // cached endpoint table — a union-of-selects shape re-evaluates the
    // whole q23 window chain per branch (4x, measured in the r8 audit)
    assert("InMemoryTableScan".r.findAllIn(s).size >= 2, s)
    // the carry attach is a broadcast, never a shuffle join
    assert(!s.contains("SortMergeJoin"), s)
  }

  test("q143 expectations: scan-family checks share one aggregate; FK check is a broadcast anti-join") {
    val s = executed("q143_expectations")
    assert(s.contains("BroadcastHashJoin") && s.contains("LeftAnti"), s)
    assert(!s.contains("SortMergeJoin"), s)
    // the three scan checks unpivot from ONE aggregate: exactly one
    // lineitem scan beyond the uniqueness groupBy's
    assert("lineitem.parquet".r.findAllIn(s).size == 2, s)
  }

  test("SHUFFLE_HASH hint plans a shuffled hash join (no sort of either side)") {
    import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
    import org.apache.spark.sql.functions.col
    // the hint matters when both sides are too big to broadcast but one
    // still fits a per-partition hash map — skips both sort passes of SMJ
    val j = Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir).hint("shuffle_hash"),
        col("l_orderkey") === col("o_orderkey"))
    val shj = j.queryExecution.sparkPlan.collect { case s: ShuffledHashJoinExec => s }
    assert(shj.nonEmpty, s"expected ShuffledHashJoin:\n${j.queryExecution.sparkPlan}")
  }

  test("scalar udf() fallback matches the builtin it would replace") {
    import org.apache.spark.sql.functions.{col, udf, levenshtein, lit}
    // the escape hatch of the UDF surface (§2B): a Scala udf() is allowed
    // where no builtin/Expression fits — equivalence with a builtin here
    // proves the registration path, not a recommendation to use it
    val lev = udf((a: String, b: String) => {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    })
    val rows = Tables.nation(spark, dir)
      .select(levenshtein(col("n_name"), lit("CANADA")).as("b"),
        lev(col("n_name"), lit("CANADA")).as("u"))
      .collect()
    assert(rows.length == 25 && rows.forall(r => r.getInt(0) == r.getInt(1)))
  }

  test("q48: DSv2 source scan carries its pushed filters in the plan") {
    val df: DataFrame = SparkEntry.queries("q48_dsv2_source")(spark, dir)
    val desc = df.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan.description()
    }
    assert(desc.exists(d => d.contains("GreaterThan(n_chars,500)")))
  }

  test("q151: basket-total attach broadcasts; support joins never cartesian") {
    val p = plan("q151_assoc_rules").toString
    // the 1-row n_baskets frame must attach as a broadcast nested-loop
    // (a CartesianProduct here would shuffle the rule table against it)
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(400))
    assert(!p.contains("CartesianProduct"),
      "q151 plan degraded to a CartesianProduct")
  }

  test("q159: chunking is map-side — no join, no aggregate, no shuffle beyond the presentation sort") {
    val p = plan("q159_rag_chunks").toString
    assert(!p.contains("Join"), s"q159 grew a join: ${p.take(300)}")
    assert(!p.contains("HashAggregate"), s"q159 grew an aggregate: ${p.take(300)}")
    // the only exchange is the orderBy's (rangepartitioning: under
    // GraftExtensions the small-sort rule declines it, because the
    // posexplode's size estimate bounds nothing) — chunking itself
    // (tokenize → posexplode → slice) must stay in the map
    assert(!p.contains("hashpartitioning"),
      s"q159 shuffles on a hash key: ${p.take(400)}")
  }

  test("q160: the Hilbert fold is a scan-side projection — no shuffle beyond the presentation sort") {
    val p = plan("q160_hilbert").toString
    assert(!p.contains("Join") && !p.contains("hashpartitioning"),
      s"q160 should be scan + project + sort: ${p.take(400)}")
  }

  test("q162: the 3-D Hilbert transpose walk is a scan-side projection — no shuffle beyond the presentation sort") {
    val p = plan("q162_hilbert3d").toString
    assert(!p.contains("Join") && !p.contains("hashpartitioning"),
      s"q162 should be scan + project + sort: ${p.take(400)}")
  }

  test("q164: the 3-D Morton interleave is a scan-side projection — no shuffle beyond the presentation sort") {
    val p = plan("q164_zorder3d").toString
    assert(!p.contains("Join") && !p.contains("hashpartitioning"),
      s"q164 should be scan + project + sort: ${p.take(400)}")
  }

  test("q161: two-phase salted collect plans two aggregate layers, no window, no join") {
    val p = plan("q161_salted_collect").toString
    assert(!p.contains("Join") && !p.contains("Window"), p.take(300))
    // phase 1 on (k, salt), phase 2 on k — both present as distinct
    // aggregate keying (ObjectHashAggregate carries collect_list)
    assert(p.contains("ObjectHashAggregate"), s"collect should plan ObjectHashAggregate: ${p.take(300)}")
    assert("keys=\\[k[^,]*, __salt".r.findFirstIn(p).isDefined,
      s"phase-1 (k, salt) grouping missing: ${p.take(400)}")
  }

  test("q155: interval-overlap join is an equi HASH join on bin, never a nested loop") {
    val p = plan("q155_interval_join").toString
    // the whole point of the bin bucketing is that the interval
    // predicate rides an equi key — a BNLJ/CartesianProduct here means
    // the theta join came back and the plan is quadratic at scale
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"q155 degraded to a nested-loop/cartesian join: ${p.take(400)}")
    assert(p.contains("HashJoin [bin") || p.contains("HashJoin[bin") ||
      p.contains("SortMergeJoin [bin"),
      s"q155 join does not key on bin: ${p.take(400)}")
  }

  test("q129: the triangleCloseBloom conf changes routing, never the counts") {
    // the cluster recipe behind a switch: the wedge Bloom prefilter is
    // net-neutral at local[32] (2x xxhash64 per wedge ≈ the local
    // shuffle it saves — PERF.md r11's honest rejection) but wins when
    // the closing join's shuffle is network-bound, so a deployment
    // flips spark.graft.triangleCloseBloom instead of editing code.
    // Bloom filters never false-negative and the closing join re-checks
    // every candidate, so the result row must be IDENTICAL both ways.
    // (The conf lives on the WEDGE plan — the r12 adjacency board plan
    // has no closing join to prefilter.)
    def run(): Seq[Any] =
      ops.Advanced.q129TrianglesWedge(spark, dir).collect().head.toSeq
    val off = run()
    spark.conf.set("spark.graft.triangleCloseBloom", "true")
    val on = try run()
    finally spark.conf.unset("spark.graft.triangleCloseBloom")
    assert(on == off, s"bloom prefilter changed the triangle counts: $on vs $off")
    assert(off.head.asInstanceOf[Long] > 0L, "degenerate graph — the pin is vacuous")
  }

  test("q129: the adjacency edge-iterator plan equals the wedge reference, scalar for scalar") {
    // the r12 counting-strategy swap (native sorted_intersect_count
    // merge walks instead of shuffling every wedge through the closing
    // join) must change ROUTING only: same edges, same wedges, same
    // triangle count, same transitivity — the minhash_sig/shingle3
    // bit-identity protocol applied to a whole plan.
    val adjRow = SparkEntry.queries("q129_triangles")(spark, dir).collect().head.toSeq
    val wedgeRow = ops.Advanced.q129TrianglesWedge(spark, dir).collect().head.toSeq
    assert(adjRow == wedgeRow, s"counting strategies disagree: $adjRow vs $wedgeRow")
    assert(adjRow(2).asInstanceOf[Long] > 0L, "degenerate graph — the pin is vacuous")
  }
}
