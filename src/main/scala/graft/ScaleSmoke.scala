package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-stress smoke for the dedup/pack chains beyond the driver's
  * sf0.1 board — run manually, results recorded in PERF.md:
  *
  *   sbt "runMain graft.ScaleSmoke /root/testdata/sf0.1 /tmp/graft_scale10x"
  *
  * Every 100 TB posture claim on the board is extrapolated from sf0.1,
  * where the protective machinery never actually fires (no shingle
  * exceeds the df cap, no component is deep, no guard trips). This tool
  * builds a DETERMINISTIC ~10× corpus (50k docs, no RNG anywhere —
  * variants derive from doc_id/rep arithmetic) engineered so each
  * protection engages on real data, then asserts:
  *
  *   (a) the hot-shingle df cap ENGAGES (a planted boilerplate tail puts
  *       three shingles in ~25k docs, 2.5× the 10k cap) and the exact
  *       chain STAYS LINEAR: verified pair output scales ~linearly in
  *       corpus size (disjoint per-rep vocab spaces make the expected
  *       ratio ~12×; the assert allows 25×), instead of the df² blowup
  *       an uncapped ubiquitous shingle would cause;
  *   (b) star contraction converges on a DEEP component (3000-edge
  *       path) where min-label propagation needs diameter rounds and
  *       trips its round budget loudly;
  *   (c) `Guards.exactBaseline` fails loudly on q30/q34 when the corpus
  *       exceeds the row cap — the quadratic baselines cannot be run at
  *       scale by accident.
  *
  * Plus wall-clock timings for the headline chains (q31 LSH, q78 dedup
  * corpus, q80 chunk dedup, q81 seq pack, q95 leakage split) at 1× and
  * 10×, printed as one JSON line for PERF.md.
  */
object ScaleSmoke {

  /** 10× corpus: each base doc yields 10 variants. rep 0 keeps the
    * original text and rep 1 is its EXACT copy (one planted near-dup
    * pair per base doc, jaccard 1.0 pre-boilerplate); reps 2..9 prefix
    * every token with v<rep>, giving each rep a disjoint vocab/shingle
    * space (novel docs, no cross-rep pairs — this is what keeps the
    * TRUE pair structure linear so assert (a) can distinguish a df²
    * regression from real growth). Even doc_ids then get a shared
    * 5-token boilerplate tail: its three interior shingles land in
    * ~25k docs — far beyond the 10k cap — while junction shingles stay
    * rare. Deterministic: pure column arithmetic on (doc_id, rep). */
  def corpus10x(base: DataFrame): DataFrame = corpusNx(base, 10, padWidth = 1)

  /** The variant-corpus builder generalized to n reps — ONE copy of the
    * scheme shared by the 10× and 100× tools so their corpus statistics
    * cannot drift apart. `padWidth` fixes the rep-prefix width
    * (`lpad(rep, padWidth, "0")`): fixed-width prefixes keep rep vocab
    * spaces disjoint at any rep count, and width 1 reproduces the
    * original 10× corpus byte-for-byte (lpad of a single digit to width
    * 1 is the identity). Preconditions are enforced, not assumed: reps
    * must fit the prefix width (a truncated 3-digit rep would silently
    * alias two vocab spaces), and n must be even (the boilerplate tail
    * attaches by doc_id parity = rep parity, which is what plants the
    * rep-0-with-tail / rep-1-without near-dup pair per base doc — odd n
    * would break that structure for half the bases). */
  def corpusNx(base: DataFrame, n: Int, padWidth: Int): DataFrame = {
    require(n % 2 == 0, s"corpusNx needs even n (got $n): the planted " +
      "rep0/rep1 near-dup structure relies on doc_id parity == rep parity")
    require(n <= math.pow(10, padWidth).toInt,
      s"corpusNx: $n reps do not fit a width-$padWidth prefix — vocab spaces would alias")
    val reps = base.sparkSession.range(0, n).select(col("id").cast("int").as("rep"))
    base.crossJoin(broadcast(reps))
      .select(
        (col("doc_id") * n + col("rep")).as("doc_id"),
        when(col("rep") <= 1, col("text"))
          .otherwise(regexp_replace(col("text"), lit("([a-z0-9]+)"),
            concat(lit("v"), lpad(col("rep").cast("string"), padWidth, "0"), lit("$1")))).as("text"),
        col("lang"), col("source"))
      .withColumn("text",
        when(pmod(col("doc_id"), lit(2)) === 0,
          concat(col("text"), lit(" legal boilerplate terms apply here")))
          .otherwise(col("text")))
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        length(col("text")).cast("long").as("n_chars"))
  }

  private def timed[A](what: String, out: StringBuilder)(body: => A): A = {
    val t0 = System.nanoTime()
    val r = body
    val s = (System.nanoTime() - t0) / 1e9
    out.append(f""""$what":$s%.2f,""")
    System.err.println(f"[scale-smoke] $what: $s%.2f s")
    r
  }

  def main(args: Array[String]): Unit = {
    val baseDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outRoot = if (args.length > 1) args(1) else "/tmp/graft_scale10x"
    val spark = Harness.session(defaultCpus = 32)
    val json = new StringBuilder("{")
    try {
      val dir10 = s"$outRoot/sf1x10"
      corpus10x(spark.read.parquet(s"$baseDir/documents.parquet"))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$dir10/documents.parquet")
      val docs10 = spark.read.parquet(s"$dir10/documents.parquet")
      val n10 = docs10.count()
      json.append(s""""n_docs_10x":$n10,""")

      // ---- 10× relational tables for the graph family (q119/q129):
      // ten DISJOINT ISOMORPHIC copies of the base purchase graph.
      // Order keys shift decimally (`ok*10+rep`); customer, supplier and
      // part key spaces shift by rep*OFF so no edge ever crosses copies.
      // Disjoint-isomorphic is the instrument that makes linearity
      // ASSERTABLE, not just plausible: true edges/wedges/triangles grow
      // exactly 10×, and each copy's PageRank profile must be bit-equal
      // to every other's — so a superlinear wall-time ratio can only be
      // plan regression, never data structure.
      val OFF = 10000000L
      val reps10 = spark.range(0, 10).select(col("id").as("rep"))
      spark.read.parquet(s"$baseDir/orders.parquet")
        .crossJoin(broadcast(reps10))
        .withColumn("o_orderkey", col("o_orderkey") * 10 + col("rep"))
        .withColumn("o_custkey", col("o_custkey") + col("rep") * OFF)
        .drop("rep")
        .repartition(32)
        .write.mode("overwrite").parquet(s"$dir10/orders.parquet")
      spark.read.parquet(s"$baseDir/lineitem.parquet")
        .crossJoin(broadcast(reps10))
        .withColumn("l_orderkey", col("l_orderkey") * 10 + col("rep"))
        .withColumn("l_partkey", col("l_partkey") + col("rep") * OFF)
        .withColumn("l_suppkey", col("l_suppkey") + col("rep") * OFF)
        .drop("rep")
        .repartition(32)
        .write.mode("overwrite").parquet(s"$dir10/lineitem.parquet")

      // ---- (a) the df cap engages on this corpus ----
      // cache before exploding: a non-outer explode over the uncached
      // transform/array_distinct chain hits the InferFiltersFromGenerate
      // re-evaluation trap documented in PERF.md (the q96 13x)
      val sh10 = dedup.Dedup.shinglesOf(docs10).cache()
      val cap = dedup.Guards.shingleDfCap(spark)
      val hot = sh10.select(explode(col("shingles")).as("s"))
        .groupBy(col("s")).agg(count(lit(1)).as("df"))
        .where(col("df") > cap)
      val hotShingles = hot.collect()
      sh10.unpersist()
      assert(hotShingles.length >= 3,
        s"expected >=3 hot shingles beyond cap=$cap, got ${hotShingles.length}")
      assert(hotShingles.forall(_.getLong(1) > 20000L),
        "planted boilerplate shingles should each hit ~25k docs")
      json.append(s""""hot_shingles":${hotShingles.length},""")

      // ---- (a) the exact chain stays LINEAR with the cap engaged ----
      // q30/q65/q95 all ride jaccardPairs; compare verified pair counts
      // at 1× and 10×. Disjoint rep vocab spaces mean true pairs grow
      // ~12× (4× within the doubled rep0/1 space + 1× in each of reps
      // 2..9 + one planted pair per base doc); an uncapped boilerplate
      // shingle would instead contribute ~(25k)²/2 candidate pairs.
      val pairs1x = timed("q30_pairs_1x", json) {
        dedup.Dedup.q30NgramJaccard(spark, baseDir).count()
      }
      val pairs10x = timed("q30_pairs_10x", json) {
        dedup.Dedup.q30NgramJaccard(spark, dir10).count()
      }
      json.append(s""""pairs_1x":$pairs1x,"pairs_10x":$pairs10x,""")
      val nBase = spark.read.parquet(s"$baseDir/documents.parquet").count()
      assert(pairs10x >= nBase,
        s"planted exact-copy pairs missing: $pairs10x pairs < $nBase base docs")
      assert(pairs10x <= 25L * math.max(pairs1x, nBase),
        s"pair blowup: $pairs10x pairs at 10x vs $pairs1x at 1x — df cap not containing the quadratic term")

      // ---- headline chains at 10×, timed ----
      def mat(df: DataFrame): Long = df.count()
      timed("q31_lsh_10x", json) { mat(dedup.Dedup.q31MinhashLsh(spark, dir10)) }
      timed("q78_dedup_corpus_10x", json) { mat(dedup.Dedup.q78DedupCorpusLsh(spark, dir10)) }
      timed("q80_chunk_dedup_10x", json) { mat(dedup.Dedup.q80ChunkDedup(spark, dir10)) }
      timed("q81_seq_pack_10x", json) { mat(ops.DataPrep.q81SeqPack(spark, dir10)) }
      timed("q95_leakage_split_10x", json) { mat(dedup.Dedup.q95LeakageSplit(spark, dir10)) }
      timed("q117_strip_spans_10x", json) {
        val n = mat(dedup.Dedup.stripSpansOf(docs10))
        assert(n == n10, s"strip spans emitted $n rows for $n10 docs")
        n
      }
      // the r8 text/prep additions — all token-shuffle-bound and
      // expected LINEAR in corpus size (DSIR's model stays 256 rows at
      // any scale; the bigram model grows with VOCABULARY, not corpus;
      // oversampling is a rank window + map-side explode)
      timed("q134_dsir_10x", json) { mat(text.TextAnalysis.q134DsirSample(spark, dir10)) }
      timed("q136_bigram_lm_10x", json) { mat(text.TextAnalysis.q136BigramLm(spark, dir10)) }
      timed("q139_oversample_10x", json) { mat(ops.DataPrep.q139BalancedOversample(spark, dir10)) }
      Caches.drain()

      // ---- q125 prefix join survives the boilerplate corpus UNCAPPED ----
      // This corpus is the df cap's reason to exist: three shingles sit
      // in ~25k docs, and q30 without the cap would generate ~(25k)²/2
      // candidates from them alone. The prefix filter needs NO cap and
      // NO semantic change: ubiquitous shingles sort LAST in the global
      // df order and never enter any doc's rarest-half prefix, so the
      // candidate join never sees them. Linearity shows as the same
      // ~planted-pair output band q30 has (q125 keeps the hot shingles
      // in the sets, so Jaccard values differ from capped-q30 — pair
      // COUNTS are the comparable quantity).
      val pp10 = timed("q125_prefix_join_10x", json) {
        mat(dedup.Dedup.q125PrefixJoin(spark, dir10))
      }
      json.append(s""""q125_pairs_10x":$pp10,""")
      // each base doc plants a rep0/rep1 near-dup pair (J ~ 0.9 with the
      // boilerplate shingles kept) that must qualify at t = 0.5
      assert(pp10 >= nBase,
        s"planted near-dup pairs missing from prefix join: $pp10 pairs < $nBase base docs")
      assert(pp10 <= 25L * math.max(pairs1x, nBase),
        s"prefix-join blowup: $pp10 pairs at 10x — prefix filter not containing the hot shingles")
      Caches.drain()

      // ---- graph + training family at 10×: ~linear wall-time envelopes
      // (r8 measured the dedup chains; these were argued from plan shape
      // only). Envelope: t10 ≤ 25·t1 — a linear plan on 32 cores lands
      // well under (the 1× run is part-latency-bound), a quadratic
      // regression lands ~100×. Structure asserts make each timing a
      // correctness-at-scale check too.
      def linearEnvelope(what: String, t1: Double, t10: Double): Unit =
        assert(t10 <= math.max(25.0 * t1, t1 + 60.0),
          f"$what: $t10%.1f s at 10x vs $t1%.1f s at 1x — superlinear growth")

      // q119 PageRank: cost per round ∝ |edges|; 10 disjoint copies ⇒
      // 10× edges, 10× nodes. Copies are isomorphic and PageRank sees
      // only (structure, global n), so corresponding nodes across all
      // ten copies must carry the SAME rounded rank.
      val t0p = System.nanoTime()
      val nodes1x = ops.Advanced.q119PageRank(spark, baseDir).count()
      val tPr1 = (System.nanoTime() - t0p) / 1e9
      json.append(s""""q119_nodes_1x":$nodes1x,""")
      json.append(f""""q119_pagerank_1x":$tPr1%.2f,""")
      System.err.println(f"[scale-smoke] q119_pagerank_1x: $tPr1%.2f s ($nodes1x nodes)")
      Caches.drain()
      val t1p = System.nanoTime()
      val pr10 = ops.Advanced.q119PageRank(spark, dir10).cache()
      try {
        val n = pr10.count()
        val tPr10 = (System.nanoTime() - t1p) / 1e9
        json.append(f""""q119_pagerank_10x":$tPr10%.2f,""")
        System.err.println(f"[scale-smoke] q119_pagerank_10x: $tPr10%.2f s ($n nodes)")
        assert(n == 10L * nodes1x,
          s"q119: $n nodes at 10x != 10 * $nodes1x — copies not disjoint")
        // Mass check is COARSE by necessity: per-node ranks at 10× sit
        // near 4e-5, so the output's 6-decimal rounding carries up to
        // ~12% relative error per node, and the regular/isomorphic
        // structure rounds many nodes the SAME direction (measured
        // Σ=1.062 — bias, not drift). Conservation at fine granularity
        // is already proven by the 1× oracle hash; here the check only
        // has to catch a broken dangling/teleport term (≫10% shift).
        val mass = pr10.agg(sum(col("pagerank"))).head.getDouble(0)
        assert(math.abs(mass - 1.0) < 0.25,
          f"q119: total rank mass $mass%.4f at 10x strayed from 1")
        val maxDistinct = pr10
          .groupBy(pmod(col("node"), lit(OFF)).as("b"))
          .agg(countDistinct(col("pagerank")).as("k"))
          .agg(max(col("k"))).head.getLong(0)
        assert(maxDistinct == 1L,
          "q119: corresponding nodes across the 10 isomorphic copies diverged in rank")
        linearEnvelope("q119", tPr1, tPr10)
      } finally { pr10.unpersist(); Caches.drain() }

      // q129 triangles: degree-ordered orientation keeps wedge work
      // bounded; 10 disjoint copies ⇒ edges/wedges/triangles all
      // EXACTLY 10×, transitivity identical.
      val t0t = System.nanoTime()
      val tri1 = ops.Advanced.q129Triangles(spark, baseDir).head()
      val tTri1 = (System.nanoTime() - t0t) / 1e9
      json.append(f""""q129_triangles_1x":$tTri1%.2f,""")
      System.err.println(f"[scale-smoke] q129_triangles_1x: $tTri1%.2f s")
      Caches.drain()
      val t1t = System.nanoTime()
      val tri10 = ops.Advanced.q129Triangles(spark, dir10).head()
      val tTri10 = (System.nanoTime() - t1t) / 1e9
      json.append(f""""q129_triangles_10x":$tTri10%.2f,""")
      System.err.println(f"[scale-smoke] q129_triangles_10x: $tTri10%.2f s")
      Seq(("n_edges", 0), ("n_wedges", 1), ("n_triangles", 2)).foreach { case (c, i) =>
        assert(tri10.getLong(i) == 10L * tri1.getLong(i),
          s"q129 $c: ${tri10.getLong(i)} at 10x != 10 * ${tri1.getLong(i)} — disjoint copies must scale exactly")
      }
      assert(tri10.getDouble(3) == tri1.getDouble(3),
        s"q129 transitivity drifted: ${tri10.getDouble(3)} vs ${tri1.getDouble(3)}")
      json.append(s""""q129_tri_10x":${tri10.getLong(2)},""")
      linearEnvelope("q129", tTri1, tTri10)
      Caches.drain()

      // q151 association rules: the q129 edge-build idiom as mining.
      // Ten disjoint copies multiply every support by exactly 10 while
      // confidence = sup_uv/sup_u and lift = sup_uv·nB/(sup_u·sup_v)
      // are RATIOS whose 10s cancel — so the 10x rule table must be
      // the 1x table with supports ×10 and confidence/lift bit-equal.
      val t0a = System.nanoTime()
      val ar1 = ops.Advanced.q151AssocRules(spark, baseDir).collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6))).toMap
      val tAr1 = (System.nanoTime() - t0a) / 1e9
      json.append(f""""q151_assoc_1x":$tAr1%.2f,""")
      System.err.println(f"[scale-smoke] q151_assoc_1x: $tAr1%.2f s (${ar1.size} rules)")
      Caches.drain()
      val t1a = System.nanoTime()
      val ar10 = ops.Advanced.q151AssocRules(spark, dir10).collect()
        .map(r => ((r.getLong(0) % OFF, r.getLong(1) % OFF), r.getLong(0) / OFF) ->
          (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6))).toMap
      val tAr10 = (System.nanoTime() - t1a) / 1e9
      json.append(f""""q151_assoc_10x":$tAr10%.2f,""")
      System.err.println(f"[scale-smoke] q151_assoc_10x: $tAr10%.2f s (${ar10.size} rules)")
      // Disjoint-copy algebra: each copy holds the 1x baskets once, so
      // per-copy supports and CONFIDENCE (a within-copy ratio) equal
      // the 1x values bit-for-bit and the rule count is exactly 10x;
      // LIFT scales by 10 (its n_baskets term is the 10x-global basket
      // count while the supports stay per-copy) — recomputed with the
      // engine's exact op order rather than compared to 10*round(x).
      assert(ar10.size == 10 * ar1.size,
        s"q151: ${ar10.size} rules at 10x != 10 * ${ar1.size}")
      val nB1 = {
        val it1 = spark.read.parquet(s"$baseDir/lineitem.parquet")
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
        it1.groupBy(col("ok")).agg(count(lit(1)).as("bs"))
          .filter(col("bs") <= graft.ops.Advanced.BasketCap).count()
      }
      def r6(x: Double): Double =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      ar10.foreach { case (((u, v), _), (suv, su, sv, conf, lft)) =>
        val base = ar1.getOrElse((u, v),
          sys.error(s"q151: 10x rule ($u,$v) missing at 1x"))
        assert((suv, su, sv) == (base._1, base._2, base._3),
          s"q151 ($u,$v): supports $suv/$su/$sv vs ${base._1}/${base._2}/${base._3}")
        assert(conf == base._4, s"q151 ($u,$v): confidence drifted")
        val expLift = r6(suv.toDouble * (10L * nB1) / (su * sv).toDouble)
        assert(lft == expLift, s"q151 ($u,$v): lift $lft != expected $expLift")
      }
      linearEnvelope("q151", tAr1, tAr10)
      Caches.drain()

      // q132 BPE training: corpus cost is ONE token aggregation; the 8
      // merge rounds run on the vocabulary histogram. 10× corpus ⇒
      // ~10× token scan, vocab grows far slower ⇒ wall time ≤ linear.
      val t0b = System.nanoTime()
      val bpe1 = text.TextAnalysis.q132BpeVocab(spark, baseDir).collect()
      val tBpe1 = (System.nanoTime() - t0b) / 1e9
      json.append(f""""q132_bpe_1x":$tBpe1%.2f,""")
      System.err.println(f"[scale-smoke] q132_bpe_1x: $tBpe1%.2f s")
      Caches.drain()
      val t1b = System.nanoTime()
      val bpe10 = text.TextAnalysis.q132BpeVocab(spark, dir10).collect()
      val tBpe10 = (System.nanoTime() - t1b) / 1e9
      json.append(f""""q132_bpe_10x":$tBpe10%.2f,""")
      System.err.println(f"[scale-smoke] q132_bpe_10x: $tBpe10%.2f s")
      assert(bpe1.length == 8 && bpe10.length == 8,
        s"BPE must learn 8 rules at both scales (got ${bpe1.length}/${bpe10.length})")
      // reps 0..9 each contribute every base word (the v<rep> prefix is
      // digit-split by [a-z]+ tokenization), so the winning pair's count
      // must grow with the corpus
      assert(bpe10.head.getLong(4) >= 2L * bpe1.head.getLong(4),
        s"10x top pair count ${bpe10.head.getLong(4)} should dominate 1x ${bpe1.head.getLong(4)}")
      linearEnvelope("q132", tBpe1, tBpe10)
      Caches.drain()

      // ---- incremental LSH ingest: per-batch cost stays flat while ----
      // ---- the store grows (the O(batch + collisions) claim)       ----
      // batch b = rep b of every base doc (pmod(doc_id,10)): batch 0 =
      // originals, batch 1 = same base text but WITHOUT the boilerplate
      // tail (rep-0 ids are even, rep-1 odd) — ~0.9-Jaccard near-dups of
      // the now-historical batch 0, so they should drop; batches 2..9
      // have disjoint vocab (novel)
      val ingestRoot = s"$outRoot/ingest"
      val fs = new org.apache.hadoop.fs.Path(ingestRoot)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(ingestRoot), true)
      val batchTimes = (0 until 10).map { b =>
        val batchDocs = docs10.where(pmod(col("doc_id"), lit(10)) === b)
          .select(col("doc_id"), col("text"))
        val t0 = System.nanoTime()
        dedup.Dedup.lshIngestBatch(spark, batchDocs, b.toLong,
          s"$ingestRoot/sigs", s"$ingestRoot/bands", s"$ingestRoot/novel")
        (System.nanoTime() - t0) / 1e9
      }
      json.append(s""""lsh_ingest_batches":[${batchTimes.map(t => f"$t%.2f").mkString(",")}],""")
      System.err.println(s"[scale-smoke] lsh ingest per-batch: ${batchTimes.map(t => f"$t%.2f").mkString(", ")} s")
      // flatness: the last batch verifies against a 9x-larger store than
      // batch 1 did; its cost must stay in the same band (collisions,
      // not store size, drive the work). Yardstick = median of ALL
      // steady batches 2..8; 2.5x + fixed slack absorbs the environment
      // band.
      val mid = batchTimes.slice(2, 9).sorted.apply(3)
      assert(batchTimes.last <= math.max(2.5 * mid, mid + 5.0),
        f"last ingest batch ${batchTimes.last}%.2f s vs steady $mid%.2f s — per-batch cost is growing with store size")
      // cross-batch drops actually happened: batch 1 (~0.9-Jaccard
      // near-dups of batch 0) publishes almost nothing; batch 5
      // (disjoint vocab) is almost fully novel
      def novelOf(b: Int): Long =
        spark.read.parquet(s"$ingestRoot/novel/batch=$b").count()
      assert(novelOf(1) < 500L,
        s"batch 1 published ${novelOf(1)} of 5000 near-dup docs — cross-batch near-dup drop not engaging")
      assert(novelOf(5) > 4500L,
        s"batch 5 published only ${novelOf(5)} of its 5000 novel docs")

      // ---- (b) deep component: star converges, min-label trips loudly ----
      val path = spark.range(0, 3000)
        .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
      val labelBudget = 20
      val minLabelTripped =
        try { dedup.Dedup.minLabelClusters(path, maxRounds = labelBudget).count(); false }
        catch { case e: IllegalStateException =>
          assert(e.getMessage.contains("starContractClusters"),
            "min-label round-budget error should point at the star upgrade path")
          true
        }
      assert(minLabelTripped,
        s"min-label converged a 3000-deep path within $labelBudget rounds — diameter bound broken?")
      val starLabels = timed("star_deep_path", json) {
        dedup.Dedup.starContractClusters(path).cache()
      }
      try {
        assert(starLabels.count() == 3001L)
        assert(starLabels.where(col("lbl") =!= 0L).count() == 0L,
          "star contraction mislabeled the deep path component")
      } finally { starLabels.unpersist(); Caches.drain() }

      // ---- (c) the quadratic baselines fail loudly past the row cap ----
      spark.conf.set(dedup.Guards.CapConf, "10000")
      def loudly(what: String)(body: => Any): Unit = {
        val msg =
          try { body; sys.error(s"$what guard did NOT fire") }
          catch { case e: IllegalArgumentException => e.getMessage }
        assert(msg.contains("quadratic") && msg.contains("scale path"),
          s"$what guard message should name the scale path: $msg")
      }
      loudly("q30") { dedup.Dedup.q30NgramJaccard(spark, dir10) }
      // q34 guards on the embeddings row count — cap below sf0.1's 5000
      spark.conf.set(dedup.Guards.CapConf, "100")
      loudly("q34") { sim.Similarity.q34EmbeddingNeardup(spark, baseDir) }
      spark.conf.unset(dedup.Guards.CapConf)
      Caches.drain()

      json.setLength(json.length - 1) // trailing comma
      json.append("}")
      println(json.toString)
      System.err.println("[scale-smoke] ALL ASSERTIONS PASSED")
    } finally spark.stop()
  }
}
