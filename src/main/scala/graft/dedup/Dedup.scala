package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.text.TextAnalysis

/** Deduplication operators for a training-data pipeline (SURVEY.md §2B
  * extensions): exact (hash-groupBy), exact n-gram Jaccard (shuffle on
  * shingle — the verifiable baseline), MinHash+LSH (the 100 TB path:
  * band-bucket join so only near-candidates ever meet), and SimHash.
  *
  * Scale notes: exact-Jaccard's shingle self-join is quadratic in the
  * worst case (hot shingles) — it exists as the oracle-verified baseline
  * and candidate-verifier. The production path is MinHash LSH: signature
  * cost is O(K·|shingles|) per doc map-side, and the only shuffle is on
  * (band, band_hash) buckets, which is how dedup stays feasible at 100 TB.
  */
/** Runtime guard for the intentionally-quadratic exact baselines: they
  * exist to verify the bucketed production paths (LSH/ANN) on samples,
  * and must never silently run all-pairs over a 100 TB corpus. The cap
  * is conservative (1M rows ⇒ ≤10¹² candidate pairs pre-filter) and
  * overridable for deliberate larger verification runs. */
object Guards {
  val CapConf = "spark.graft.exactBaseline.maxRows"
  val DefaultCap = 1000000L

  /** Max docs a shingle may appear in before the exact-Jaccard verifier
    * drops it (stop-shingle cap). The self-join's worst case is quadratic
    * in per-shingle document frequency, so ONE ubiquitous shingle ("terms
    * of service may change") yields df² candidate pairs; capping df keeps
    * the verifier robust even when someone deliberately raises the row
    * guard. Dropping is CONSISTENT — the shingle leaves both the
    * intersection counts and the set sizes — so pair scores remain exact
    * Jaccard over the capped shingle sets. The SQL oracles mirror the cap
    * (at its DEFAULT value — `jaccardCtes` filters shingles with
    * df > DefaultShingleDf), so Spark and DuckDB agree BY CONSTRUCTION
    * even on a corpus where the cap engages; overriding ShingleDfConf
    * away from the default is for specs that pin capped semantics
    * directly, not for oracle runs. At the default (10k) no tested scale
    * factor has a hot shingle, so the filter is identity there. */
  val ShingleDfConf = "spark.graft.jaccard.maxShingleDf"
  val DefaultShingleDf = 10000L

  def shingleDfCap(spark: SparkSession): Long =
    spark.conf.getOption(ShingleDfConf).map(_.toLong).getOrElse(DefaultShingleDf)

  def exactBaseline(spark: SparkSession, n: Long, what: String, scalePath: String): Unit = {
    val cap = spark.conf.getOption(CapConf).map(_.toLong).getOrElse(DefaultCap)
    require(n <= cap,
      s"$what is a quadratic verifier-only baseline: n=$n rows exceeds cap=$cap. " +
        s"Run it on a sample, raise $CapConf deliberately, or use the scale path: $scalePath.")
  }
}

object Dedup {

  /** Word-level 3-gram shingle sets per document: (doc_id, shingles).
    * Tokenization is [a-z0-9]+ over lowercased text, identical to the
    * DuckDB oracle's regexp. Docs with <3 tokens have no shingles and are
    * excluded (can't participate in 3-gram similarity). */
  def shingles(spark: SparkSession, dir: String): DataFrame =
    shinglesOf(documents(spark, dir))

  /** DataFrame-level twin of `shingles` — for incremental ingest and
    * direct spec feeds (same pattern as `chunkDedup(docs)`). */
  /** 3-gram construction runs as ONE native fused pass (r12 — the
    * declarative `array_distinct(transform(sequence(...), concat(...)))`
    * form evaluated |tokens| interpreted lambda trees per doc, the
    * largest chain term after the r11 signature fusion: 3.5 s of the
    * sf0.1 LSH chain; value- and order-identical, spec-pinned against
    * [[shinglesHofReference]]). */
  def shinglesOf(docs: DataFrame): DataFrame = {
    docs
      .select(col("doc_id"),
        regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)).as("ws"))
      .where(size(col("ws")) >= 3)
      .select(col("doc_id"),
        graft.functions.ShingleFunctions.shingle3(col("ws")).as("shingles"))
  }

  /** The pre-r12 declarative 3-gram formula over a `ws` token column —
    * kept as the REFERENCE the spec pins [[shinglesOf]]'s native fused
    * pass against (the minhashSigHofReference pattern). */
  private[graft] def shinglesHofReference: Column =
    array_distinct(transform(sequence(lit(0), size(col("ws")) - 3),
      i => concat(
        element_at(col("ws"), i + 1), lit(" "),
        element_at(col("ws"), i + 2), lit(" "),
        element_at(col("ws"), i + 3))))

  /** Exact dedup: canonical-fingerprint groupBy; keeper = min doc_id.
    * One shuffle on the 64-bit fingerprint — the straight scalable plan. */
  def q29ExactDedup(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select(col("doc_id"), TextAnalysis.fingerprintColumn.as("fp"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("keep_id"))

  val q29Sql: String =
    "SELECT substr(md5(trim(lower(regexp_replace(text, '[^a-zA-Z0-9]+', ' ', 'g')))),1,16) AS fp, " +
      "min(doc_id) AS keep_id, count(*) AS n_copies " +
      "FROM documents GROUP BY fp ORDER BY keep_id"

  /** Exact n-gram Jaccard near-dup pairs (threshold 0.5): explode shingle
    * sets, shuffle on shingle, count per-pair intersections, join back the
    * set sizes. The jaccard division is a single double op on integral
    * inputs so the >= threshold decides identically in both engines. */
  /** Unsorted exact-Jaccard pairs ≥ 0.5 — shared by q30 (which adds the
    * oracle-determinism sort) and q65 (which consumes the pair set). */
  def jaccardPairs(spark: SparkSession, dir: String): DataFrame = {
    // cached: the guard's count, both explode branches, and the sizes
    // projection all read it. Registered for harness-side unpersist
    // (graft.Caches) — the returned plan still reads this cache, so the
    // operator itself must not drop it.
    val sh = graft.Caches.register(shingles(spark, dir).cache())
    val nDocs = sh.count()
    Guards.exactBaseline(spark, nDocs, "exact-Jaccard shingle self-join",
      scalePath = "q31 (MinHash LSH)")
    // join on xxhash64(shingle), not the shingle text: 8-byte shuffle keys
    // instead of ~20-40-byte strings. array_distinct already deduped the
    // shingle set, so per-doc hash multiplicity is 1 (modulo a 2^-64
    // collision) and intersection counts are unchanged.
    val e0 = sh.select(col("doc_id"), explode(col("shingles")).as("s"))
      .select(col("doc_id"), xxhash64(col("s")).as("s"))
    // hot-shingle cap (Guards.ShingleDfConf): shingles in > cap docs are
    // dropped from BOTH intersections and sizes, so scores stay exact
    // Jaccard over the capped sets; a df² blowup from one ubiquitous
    // shingle is impossible. Engaging the cap is not free: it costs one
    // extra aggregation over the exploded shingle set (the df counts —
    // shuffle volume = the distinct-shingle set) plus a shuffled left
    // join for the size subtraction; both are linear, which is the point
    // — the cap trades bounded linear work for an unbounded quadratic
    // term. Only `hot` itself (shingles beyond the cap — tiny by
    // construction) is broadcast.
    val cap = Guards.shingleDfCap(spark)
    // df <= nDocs always, so when the corpus is smaller than the cap the
    // filter is PROVABLY identity — skip its df aggregation entirely.
    // The protection engages automatically once the corpus is large
    // enough for any shingle to possibly exceed the cap.
    val (e, sizes) = if (nDocs <= cap) {
      (e0, sh.select(col("doc_id"), size(col("shingles")).cast("long").as("n")))
    } else {
      val hot = e0.groupBy(col("s")).agg(count(lit(1)).as("df"))
        .where(col("df") > cap).select(col("s"))
      val kept = e0.join(broadcast(hot), Seq("s"), "left_anti")
      // capped set sizes WITHOUT re-shuffling the full explode: the total
      // is map-side (array length); only the hot-matching subset shuffles
      // to be subtracted per doc. hotPerDoc is NOT broadcast: it has one
      // row per document containing any hot shingle, which in the
      // adversarial case the cap exists for (boilerplate in every doc)
      // approaches corpus size — a plain shuffled left join on doc_id is
      // bounded, and sizes shuffles on doc_id for the pair join anyway.
      val hotPerDoc = e0.join(broadcast(hot), Seq("s"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hot"))
      (kept,
        sh.select(col("doc_id"), size(col("shingles")).cast("long").as("n_all"))
          .join(hotPerDoc, Seq("doc_id"), "left")
          .select(col("doc_id"), (col("n_all") - coalesce(col("n_hot"), lit(0L))).as("n")))
    }
    val pairs = e.as("a").join(e.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(sizes.as("sa"), col("id_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("id_b") === col("sb.doc_id"))
      .withColumn("jac", col("inter").cast("double") / (col("sa.n") + col("sb.n") - col("inter")).cast("double"))
      .where(col("jac") >= 0.5)
      // unrounded: integer/integer division is bit-identical in both
      // engines, while round(.,4) can hit decimal ties on binary-exact
      // quotients like 3/32 (see q22)
      .select(col("id_a"), col("id_b"), col("jac").as("jaccard"))
  }

  def q30NgramJaccard(spark: SparkSession, dir: String): DataFrame =
    jaccardPairs(spark, dir).orderBy(col("id_a"), col("id_b"))

  /** The shingle/pair/size CTEs shared verbatim by the q30/q65/q77
    * oracles — one definition so they can never silently diverge on what
    * a duplicate pair is. Mirrors the hot-shingle df cap at its DEFAULT
    * value (`hot`/`e` below): Spark's capped branch and the oracle drop
    * the same shingles by construction. When no shingle exceeds the cap
    * (every tested scale factor) the filter is provably identity — df <=
    * nDocs — exactly matching Spark's skip of the capped branch. Sizes
    * count kept shingles per doc; a doc whose shingles are ALL hot drops
    * from `sizes`, which is harmless: with no kept shingles it cannot
    * appear in `pair` either. */
  /** The shingle-generation CTEs alone (w → sh → e0) — shared by
    * `jaccardCtes` and the q96 heavy-hitter oracle. */
  private[graft] val shingleCtes: String =
    "w AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws FROM documents), " +
      "sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(ws)-1), " +
      "i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingles FROM w WHERE len(ws) >= 3), " +
      "e0 AS (SELECT doc_id, unnest(shingles) AS s FROM sh)"

  private val jaccardCtes: String =
    s"$shingleCtes, " +
      s"hot AS (SELECT s FROM e0 GROUP BY s HAVING count(*) > ${Guards.DefaultShingleDf}), " +
      "e AS (SELECT doc_id, s FROM e0 WHERE s NOT IN (SELECT s FROM hot)), " +
      "pair AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter " +
      "FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2), " +
      "sizes AS (SELECT doc_id, count(*) AS n FROM e GROUP BY doc_id)"

  /** Duplicate-cluster CTEs shared by the q65 and q77 oracles: near-dup
    * pairs → undirected edges → recursive reachability → component-min
    * labels (`clus`: one row per clustered vertex). Declared directly
    * after `jaccardCtes` — vals initialize in declaration order, and a
    * forward reference would silently interpolate null into the SQL. */
  private val clusterCtes: String =
    s"$jaccardCtes, " +
      "dup AS (SELECT id_a, id_b FROM pair " +
      "JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b " +
      "WHERE CAST(inter AS DOUBLE)/CAST(sa.n + sb.n - inter AS DOUBLE) >= 0.5), " +
      "edges AS (SELECT id_a AS u, id_b AS v FROM dup UNION ALL SELECT id_b AS u, id_a AS v FROM dup), " +
      "reach(u, v) AS (SELECT DISTINCT u, u AS v FROM edges " +
      "UNION SELECT e2.u, r.v FROM edges e2 JOIN reach r ON e2.v = r.u), " +
      "clus AS (SELECT u AS doc_id, min(v) AS cluster_id FROM reach GROUP BY u)"

  /** Duplicate CLUSTERS from near-dup pairs: dedup doesn't end at pairs —
    * picking one canonical doc per duplicate *group* requires the
    * connected components of the pair graph (a–b, b–c ⇒ {a,b,c} even when
    * a–c alone misses the threshold). Computed by iterative min-label
    * propagation: each round every vertex takes the min label among
    * itself and its neighbors; converges in O(component diameter) rounds
    * — dup clusters are shallow, so this is 2-4 rounds in practice. The
    * driver coordinates only the loop/convergence test (one count per
    * round), like the IVF k-means fit; all data work is joins/aggregates
    * on (edge, label) tables. At extreme component sizes the same
    * pair-in/labels-out contract is served by `starContractClusters`
    * (O(log n) rounds — wired into q78, property-tested equal to this
    * loop). Cluster id = min doc_id
    * of the component — deterministic, so the DuckDB recursive-CTE
    * oracle hash-matches exactly. */
  def q65DupClusters(spark: SparkSession, dir: String): DataFrame =
    minLabelClusters(jaccardPairs(spark, dir).select(col("id_a"), col("id_b")))
      .toDF("doc_id", "cluster_id")
      .orderBy(col("doc_id"))

  /** Logical-lineage truncation for iterative loops: view a round
    * result as a fresh scan (RDD-backed), so the NEXT round's plan
    * references a constant-size leaf instead of the whole history.
    * Without this the logical plan multiplies every round (each round's
    * dataflow references the previous result 3-8 times), and by round
    * ~10 a single analyze/explain pass is exponential — caching alone
    * truncates physical execution, not the logical tree. On a real
    * cluster the same role is played by `checkpoint()` to reliable
    * storage (survives executor loss); localCheckpoint is the local,
    * zero-infrastructure equivalent.
    *
    * Contract (r19, the r18 wrapper's cache requirement is GONE): the
    * input need NOT be cached — the lazy localCheckpoint persists its
    * own copy on first materialization — but the returned frame MUST be
    * materialized by an action before the next round builds on it, or
    * serialized lineage depth grows past O(1). The checkpoint store is
    * registered with [[graft.Caches]] (unless `register = false`), so
    * the harness's per-query `drain()` frees it deterministically; a
    * loop that can PROVE a superseded round is fully consumed retires
    * it earlier via [[retireCheckpoint]]. */
  private[graft] def truncateLineage(df: DataFrame, register: Boolean = true): DataFrame = {
    val out = truncateLineageImpl(df)
    if (register) graft.Caches.registerCheckpoint(out)
    out
  }

  /** Unpersist the checkpoint store behind a SUPERSEDED round's frame
    * NOW (r19, per-round retirement): bounds the loop's storage
    * high-water mark to ~2 rounds instead of every round until drain.
    * ONLY safe once every consumer of that frame has materialized — a
    * localCheckpoint cannot recompute after its blocks are dropped.
    * No-op for frames that are not checkpoint-backed. */
  private[graft] def retireCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        try { l.rdd.unpersist(blocking = false); () }
        catch { case scala.util.control.NonFatal(_) => () }
      case _ => ()
    }

  private def truncateLineageImpl(df: DataFrame): DataFrame =
    // Dataset.localCheckpoint (lazy) truncates the PHYSICAL lineage too:
    // an RDD-backed wrapper alone would only cut the logical plan, and
    // its serialized object graph still chains every prior round's RDD —
    // fine for shallow dup graphs, but ~18 rounds deep the task
    // closure hits 1 MB and task DESERIALIZATION StackOverflows (found
    // by ScaleSmoke's 3000-edge path, where the maxRounds insurance is
    // supposed to fail loudly, not crash the executor). The checkpoint
    // materializes during the round that first reads it (every round
    // reads its predecessor), so steady-state serialized depth is O(1);
    // partition data is dropped by the ContextCleaner once the round's
    // references die. On a real cluster prefer reliable `checkpoint()`
    // (survives executor loss) — same role, see the Scaladoc above.
    // Dataset.localCheckpoint (r18 optimization) checkpoints the INTERNAL
    // row RDD: the previous `df.rdd` + createDataFrame round-trip paid an
    // InternalRow→Row object conversion on write and a Row→InternalRow
    // conversion on every downstream read (guide §1.4's df.rdd warning) —
    // measured as the hottest stage family of the iterative rows (6.1
    // task-s of q98's 5.2 s wall; q65/q78/q104/q119/q145/q182 all carry
    // it). Same lazy semantics, same O(1) lineage depth, zero conversion.
    df.localCheckpoint(eager = false)

  /** Connected components of an undirected pair graph by min-label
    * propagation: (vertex, component-min-vertex) rows. `maxRounds` is a
    * convergence insurance bound, not a tuning knob: rounds needed =
    * component diameter, so 50 covers any graph a dedup pass plausibly
    * produces (dup clusters are shallow) while a pathological or
    * adversarial edge set fails loudly instead of looping. The final
    * label table stays cached for the returned plan (one row per vertex
    * — small) and is registered with graft.Caches, whose `drain()` the
    * harness calls after materializing each query. */
  def minLabelClusters(pairs: DataFrame, maxRounds: Int = 50): DataFrame = {
    // cache the PAIRS, not just the edges: both union branches and the
    // initial label table read them, and the pair computation (the
    // shingle self-join) is the expensive part
    val p = pairs.cache()
    val edges = p.union(p.select(col("id_b"), col("id_a")))
      .toDF("src", "dst").cache()
    // round 1 fused into initialization: with lbl(v)=v, the first
    // propagation is just least(v, min neighbor) — one aggregation over
    // the edge list, same shuffle the identity-label distinct() would
    // cost, one fewer join round in the loop. (Every vertex appears as
    // src: edges are symmetrized.)
    // per-round persistence is the CHECKPOINT alone (r18 optimization):
    // the loop previously cached each round's frame AND checkpointed it
    // through truncateLineage — two stores and two passes per round for
    // one table; the lazy localCheckpoint already persists the rows it
    // materializes, and every reader (the count, the next round, the
    // final plan) reads that store
    var labels = truncateLineage(
      edges.groupBy(col("src")).agg(min(col("dst")).as("mn"))
        .select(col("src").as("v"), least(col("src"), col("mn")).as("lbl")))
    var changed = 1L
    var round = 0
    // failure path (job error mid-round, maxRounds trip) drops the pair
    // and edge caches before propagating: they are not registered with
    // graft.Caches, so the harness's Caches.drain() could not reach
    // them. Every round's checkpoint IS registered (truncateLineage),
    // so drain() retires those
    try {
      while (changed > 0) {
        if (round >= maxRounds)
          throw new IllegalStateException(
            s"minLabelClusters did not converge within maxRounds=$maxRounds " +
              "rounds (component diameter exceeds the bound); raise maxRounds " +
              "deliberately or switch to starContractClusters (large-star/" +
              "small-star contraction) for graphs this deep")
        round += 1
        val prop = edges.join(labels, col("dst") === col("v"))
          .groupBy(col("src")).agg(min(col("lbl")).as("nbr_min"))
        // change detection rides in the same projection — one job per round
        // (materialize next + count improvements), not a second self-join
        val next = truncateLineage(
          labels.join(prop, col("v") === col("src"), "left")
            .select(col("v"),
              least(col("lbl"), coalesce(col("nbr_min"), col("lbl"))).as("new_lbl"),
              (col("nbr_min") < col("lbl")).as("chg"))
            .select(col("v"), col("new_lbl").as("lbl"), col("chg")))
        changed = next.filter(col("chg")).count()
        // the count materialized `next`, so round N-1's checkpoint has
        // no remaining reader — retire it now (r19) instead of holding
        // every round's store until the harness drain
        retireCheckpoint(labels)
        labels = next
      }
    } catch {
      case t: Throwable =>
        Seq(edges, p).foreach(d =>
          try d.unpersist() catch { case scala.util.control.NonFatal(_) => () })
        throw t
    }
    // everything below the converged label checkpoint is no longer needed
    edges.unpersist()
    p.unpersist()
    labels.select(col("v"), col("lbl"))
  }

  /** Connected components by alternating large-star/small-star
    * contraction — the deep-graph upgrade path `minLabelClusters`
    * promises, behind the same (pairs, maxRounds) → (v, lbl) contract.
    * Public algorithm (Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC 2014): each round every vertex attaches
    * its larger neighbors (large-star) then its smaller neighbors plus
    * itself (small-star) to the minimum of its closed neighborhood.
    * Converges in O(log n) rounds regardless of component DIAMETER —
    * min-label propagation needs O(diameter) rounds, so a path-shaped
    * component of depth 1000 takes 1000 label rounds but ~10 contraction
    * rounds. At the fixpoint every component is a star centered on its
    * minimum vertex, so labels read directly off the edge set. All data
    * work is joins/aggregates on the (shrinking) edge set; the driver
    * holds only the per-round convergence counts. */
  def starContractClusters(pairs: DataFrame, maxRounds: Int = 50): DataFrame = {
    // cache the PAIRS: the vertex union reads them twice and the edge
    // projection once, and upstream pair generation (LSH candidates +
    // verification in the q78 chain) is the expensive part
    val p = pairs.toDF("pa", "pb").cache()
    // verts from the UNFILTERED pairs: a vertex appearing only in a
    // self-pair still gets a (v, v) output row, matching
    // minLabelClusters on the same feed (the shared contract)
    val verts = p.select(col("pa").as("vid")).union(p.select(col("pb").as("vid")))
      .distinct().cache()
    // canonical undirected orientation: u = larger endpoint, v = smaller
    // checkpoint-only persistence per round (r18, the minLabelClusters
    // note): the cache + checkpoint double store collapses to the
    // checkpoint the loop already takes
    var edges = truncateLineage(p.where(col("pa") =!= col("pb"))
      .select(greatest(col("pa"), col("pb")).as("u"),
        least(col("pa"), col("pb")).as("v"))
      .distinct())
    // (count, order-independent content hash) of a distinct edge set —
    // one aggregation job over the cached set. bit_xor (not sum): ANSI
    // mode makes summing 64-bit hashes overflow, and xor of per-row
    // hashes is the standard order-independent set digest (no duplicate
    // cancellation concern — both operands of the equality are distinct
    // edge sets).
    def signature(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)), bit_xor(xxhash64(col("u"), col("v")))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var (nEdges, hEdges) = signature(edges)
    // materialize verts while p is still cached — it is only read again
    // by the final labels join, after p is gone
    verts.count()
    p.unpersist()

    // Both stars need each vertex's closed-neighborhood min attached to
    // every row of that vertex. A WINDOW aggregate (min over partition
    // by u) does it with ONE exchange on u (plus in-partition sort); the
    // groupBy + self-join formulation pays the aggregation exchange AND
    // a join exchange — and every exchange in this loop is a cluster-
    // wide barrier paid once per round. Skew profile is identical (a hot
    // vertex lands in one task either way).
    import org.apache.spark.sql.expressions.Window
    val byU = Window.partitionBy(col("u"))

    // large-star: attach every strictly-larger neighbor of each vertex to
    // the min of its closed neighborhood. The emitted pair (v', m) has
    // v' > u >= m, so the u > v orientation invariant holds with no
    // re-filtering (v' = m is impossible: v' > m strictly).
    def largeStar(e: DataFrame): DataFrame =
      e.union(e.select(col("v").as("u"), col("u").as("v")))
        .select(col("u"), col("v"), least(col("u"), min(col("v")).over(byU)).as("m"))
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()

    // small-star: attach every smaller neighbor (and the vertex itself)
    // to the min of the closed neighborhood. With the u > v orientation,
    // the rows sharing a u ARE exactly its smaller neighbors (so the
    // window min mn < u IS the closed-neighborhood min), and every
    // surviving (x, m) already satisfies x > m (m is the neighborhood
    // min; x = m is filtered) — no re-orientation needed.
    def smallStar(e: DataFrame): DataFrame = {
      val w = e.select(col("u"), col("v"), min(col("v")).over(byU).as("m"))
      w.select(col("v").as("x"), col("m"))
        .union(w.select(col("u").as("x"), col("m")))
        .where(col("x") =!= col("m"))
        .select(col("x").as("u"), col("m").as("v"))
        .distinct()
    }

    // converged ⟺ the edge set is a fixpoint of BOTH operations (then
    // every component is a star centered at its min). Per round the ONLY
    // job is the aggregation that materializes the new edge set and
    // returns its (count, xxhash64-sum) signature: equal sets always
    // have equal signatures, so a signature change proves non-
    // convergence with zero extra jobs — each job is a cluster-wide
    // barrier AND a fresh whole-stage-codegen compile, so steady rounds
    // must stay at one. Only when the signature matches (candidate
    // fixpoint) is exact set equality confirmed: empty difference for
    // the composition, plus the individual large-star fixpoint — needed
    // to rule out a composition that maps e back to itself through two
    // non-trivial steps. A colliding non-fixpoint (2^-64) just fails the
    // confirmation and loops on; a fixpoint can never be missed.
    // on ANY failure (job error mid-round, maxRounds trip) the vertex
    // cache is dropped before propagating: it is registered with
    // graft.Caches only on success, so the harness's drain() could not
    // reach it otherwise. Every round's checkpoint IS registered
    // (truncateLineage), so drain() retires those
    var round = 0
    var converged = false
    try {
      while (!converged) {
        if (round >= maxRounds)
          throw new IllegalStateException(
            s"starContractClusters did not converge within maxRounds=$maxRounds rounds")
        round += 1
        val tRound = System.nanoTime()
        // checkpoint-only persistence (r18): l and next persist through
        // their lazy checkpoints alone — the per-round cache + checkpoint
        // pair was two stores and two passes for each of the two tables
        val l = truncateLineage(largeStar(edges))
        val next = truncateLineage(smallStar(l))
        // one job: materializes next (and l en route) + signature
        val (nNext, hNext) = signature(next)
        // exact confirmation (candidate final round only), one job:
        // |next| = |edges| is known from the signature, so one-way
        // difference decides next = edges; l's cardinality is NOT
        // known, so its check is the symmetric difference. All three
        // differences union into a single isEmpty job.
        converged = nNext == nEdges && hNext == hEdges &&
          next.except(edges)
            .union(l.except(edges))
            .union(edges.except(l))
            .isEmpty
        // both `l` and the superseded edge set are fully consumed: the
        // signature materialized next (and l en route), and the except
        // confirmation — the only other reader — has already run or
        // been short-circuited. Retire their stores now (r19).
        retireCheckpoint(l)
        retireCheckpoint(edges)
        edges = next
        nEdges = nNext
        hEdges = hNext
        if (sys.env.contains("GRAFT_PROFILE_ROUNDS"))
          System.err.println(f"[star] round $round n=$nNext conv=$converged ${(System.nanoTime() - tRound) / 1e9}%.2f s")
      }
    } catch {
      case t: Throwable =>
        try { verts.unpersist(); () }
        catch { case scala.util.control.NonFatal(_) => () }
        throw t
    }
    // star edges are (leaf, center); centers never appear on the u side
    val labels = verts
      .join(edges.select(col("u").as("lv"), col("v").as("lc")),
        col("vid") === col("lv"), "left")
      .select(col("vid").as("v"), coalesce(col("lc"), col("vid")).as("lbl"))
    graft.Caches.register(verts)
    labels
  }

  /** Canonical keep-list — the end of the dedup chain a training-data
    * pipeline actually runs (the reference analogue is the last-wins
    * dedup ending in a kept row set, task.ts:97-100): cluster the
    * near-dup pairs, keeper = cluster min doc_id, every unclustered doc
    * keeps itself. One row per corpus document: (doc_id, keep_id);
    * kept ⟺ doc_id = keep_id. The cluster table is one row per
    * CLUSTERED vertex (usually a small fraction of the corpus), so the
    * left join broadcasts or shuffles on doc_id as AQE sizes it. */
  def keepList(docs: DataFrame, pairs: DataFrame,
      clusterFn: DataFrame => DataFrame = minLabelClusters(_)): DataFrame = {
    val clusters = clusterFn(pairs).toDF("cv", "cluster_id")
    docs.select(col("doc_id"))
      .join(clusters, col("doc_id") === col("cv"), "left")
      .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("keep_id"))
  }

  /** The deduped corpus itself: drop every clustered doc that is not its
    * cluster's keeper. The corpus only anti-joins on doc_id (no wide
    * shuffle); the drop-list side is the clustered subset. */
  def dedupedCorpus(docs: DataFrame, pairs: DataFrame,
      clusterFn: DataFrame => DataFrame = minLabelClusters(_)): DataFrame = {
    val dropped = clusterFn(pairs).toDF("dv", "lbl")
      .where(col("dv") =!= col("lbl")).select(col("dv").as("doc_id"))
    docs.join(dropped, Seq("doc_id"), "left_anti")
  }

  /** Exact-pair-fed keep-list over the full corpus — oracle-checked
    * against the recursive-CTE cluster oracle left-joined to documents. */
  def q77KeepList(spark: SparkSession, dir: String): DataFrame =
    keepList(documents(spark, dir),
        jaccardPairs(spark, dir).select(col("id_a"), col("id_b")))
      .orderBy(col("doc_id"))

  val q77Sql: String =
    s"WITH RECURSIVE $clusterCtes " +
      "SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS keep_id " +
      "FROM documents d LEFT JOIN clus c USING (doc_id) ORDER BY d.doc_id"

  /** The production 100 TB chain end-to-end: MinHash-LSH candidate pairs
    * (q31) → large-star/small-star clustering → anti-join the corpus.
    * Hash-seed specific (LSH) → rows-only at the driver; DedupSimSpec
    * bounds it against the exact-fed chain (dropped-set recall + subset)
    * and pins star-contraction ≡ min-label on the same pairs. The fp
    * column proves WHICH rows survived, not just how many. */
  def q78DedupCorpusLsh(spark: SparkSession, dir: String): DataFrame =
    dedupedCorpus(documents(spark, dir),
        minhashLshPairs(spark, dir).select(col("id_a"), col("id_b")),
        starContractClusters(_))
      .select(col("doc_id"), substring(md5(col("text")), 1, 16).as("fp"))
      .orderBy(col("doc_id"))

  val q65Sql: String =
    s"WITH RECURSIVE $clusterCtes " +
      "SELECT doc_id, cluster_id FROM clus ORDER BY doc_id"

  /** Leakage-safe train/val/test split: assignment is a pure function of
    * the duplicate-CLUSTER id, not the document id, so near-duplicates
    * can never straddle a split boundary. A plain per-doc hash split
    * (q57) leaks: a train doc's near-copy lands in val with probability
    * (1 - 1/|splits|) and the eval set silently overlaps training — the
    * contamination q69 removes across corpora, re-introduced by the
    * splitter itself. Plan shape: the q65/q77 cluster machinery (pair
    * graph → components), a left join of the corpus against the (small)
    * clustered subset, then the same content-hash range trick as q57 on
    * coalesce(cluster_id, doc_id) — deterministic on any cluster, any
    * partitioning, any rerun, and exactly reproducible in ANSI SQL.
    * DedupSimSpec pins the invariant directly: every near-dup pair gets
    * ONE split. */
  def q95LeakageSplit(spark: SparkSession, dir: String): DataFrame = {
    val assigned = keepList(documents(spark, dir),
      jaccardPairs(spark, dir).select(col("id_a"), col("id_b")))
      .select(col("doc_id"), col("keep_id").as("cluster_id"))
    val h = md5(concat(col("cluster_id").cast("string"), lit("|graft-leakfree-1")))
    assigned
      .withColumn("split",
        when(substring(h, 1, 1) < "c", "train")
          .when(substring(h, 1, 1) < "e", "val")
          .otherwise("test"))
      .orderBy(col("doc_id"))
  }

  val q95Sql: String =
    s"WITH RECURSIVE $clusterCtes " +
      "SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id, " +
      "CASE WHEN substr(md5(CAST(coalesce(c.cluster_id, d.doc_id) AS VARCHAR) || '|graft-leakfree-1'),1,1) < 'c' THEN 'train' " +
      "WHEN substr(md5(CAST(coalesce(c.cluster_id, d.doc_id) AS VARCHAR) || '|graft-leakfree-1'),1,1) < 'e' THEN 'val' " +
      "ELSE 'test' END AS split " +
      "FROM documents d LEFT JOIN clus c USING (doc_id) ORDER BY d.doc_id"

  /** q145: leakage-safe k-fold assignment — q95's cluster-hash idiom in
    * the CROSS-VALIDATION form: every document is assigned a fold
    * 0..k-1 derived from its duplicate-CLUSTER id, so near-duplicates
    * can never straddle a fold boundary (train-on-fold-A /
    * validate-on-fold-B with a near-dup pair across them is exactly the
    * leak k-fold exists to measure away). Fold = first 8 md5 hex digits
    * of the cluster id mod k (the q57/q103 hash idiom) — deterministic
    * on any cluster, any rerun, and replayable by the oracle. Same
    * recursive-CTE cluster universe as q95; singleton docs are their
    * own cluster. One pair-chain + map-side arithmetic; no shuffle
    * beyond the cluster machinery. */
  /** Shared fold count for q145 — interpolated into BOTH the Spark plan
    * and q145Sql so an edit cannot desynchronize the oracle. */
  val KfoldK: Int = 5

  def q145KfoldAssign(spark: SparkSession, dir: String): DataFrame = {
    val K = KfoldK
    val assigned = keepList(documents(spark, dir),
      jaccardPairs(spark, dir).select(col("id_a"), col("id_b")))
      .select(col("doc_id"), col("keep_id").as("cluster_id"))
    val fold = pmod(
      conv(substring(md5(concat(col("cluster_id").cast("string"),
        lit("|graft-kfold-1"))), 1, 8), 16, 10).cast("long"), lit(K))
    assigned.withColumn("fold", fold).orderBy(col("doc_id"))
  }

  val q145Sql: String =
    s"WITH RECURSIVE $clusterCtes " +
      "SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id, " +
      s"CAST('0x' || substr(md5(CAST(coalesce(c.cluster_id, d.doc_id) AS VARCHAR) || '|graft-kfold-1'), 1, 8) AS BIGINT) % $KfoldK AS fold " +
      "FROM documents d LEFT JOIN clus c USING (doc_id) ORDER BY d.doc_id"

  /** q104: duplicate-cluster size histogram — the dedup OBSERVABILITY
    * query run before committing a keep-list: how many dup groups exist
    * at each size (a sudden mass of large clusters means boilerplate or
    * a crawler loop, not organic duplication). Two cheap aggregations on
    * top of the cluster machinery; covers clustered docs only
    * (singletons aren't "duplicate groups" — same universe as the q65
    * oracle's `clus`). */
  def q104ClusterSizes(spark: SparkSession, dir: String): DataFrame =
    minLabelClusters(jaccardPairs(spark, dir).select(col("id_a"), col("id_b")))
      .toDF("doc_id", "cluster_id")
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("size"))
      .groupBy(col("size")).agg(count(lit(1)).as("n_clusters"))
      .orderBy(col("size"))

  val q104Sql: String =
    s"WITH RECURSIVE $clusterCtes " +
      "SELECT size, count(*) AS n_clusters FROM " +
      "(SELECT cluster_id, count(*) AS size FROM clus GROUP BY cluster_id) " +
      "GROUP BY size ORDER BY size"

  /** q115: quality-aware keep-list — q77's contract with the keeper
    * CHOSEN, not defaulted: per duplicate cluster keep the member with
    * the highest q26 quality score (ties → min doc_id), so dedup
    * preserves the best-written copy of each duplicated passage instead
    * of whichever crawl happened to get the smallest id. The standard
    * curation refinement once a quality model exists (same motivation
    * as "keep the longest/cleanest version" rules in web-corpus
    * pipelines); composes unchanged with q78's LSH feed or q114's
    * classifier score in place of q26.
    *
    * Plan shape: the q65/q77 cluster machinery unchanged; quality is
    * computed ONLY for clustered docs (the join prunes the corpus scan
    * to doc_id+text before the score projection); the keeper argmax is
    * a struct-max agg on the small cluster table; the corpus-wide
    * output joins on doc_id/cluster_id against BROADCAST keeper rows.
    * Determinism: the quality double is bit-identical cross-engine (per
    * q26 — exact-input IEEE ops, no rounding), so the DESC ordering and
    * the doc_id tiebreak replay exactly in the DuckDB oracle. */
  def q115QualityKeepList(spark: SparkSession, dir: String): DataFrame = {
    val docs = documents(spark, dir)
    val clusters = minLabelClusters(
      jaccardPairs(spark, dir).select(col("id_a"), col("id_b")))
      .toDF("cv", "cluster_id")
    val qual = docs.select(col("doc_id").as("qd"),
      graft.text.TextAnalysis.qualityScoreCol.as("qs"))
    // max(struct(qs, -doc_id)) = highest quality, then smallest doc_id
    val keeper = clusters.join(qual, col("cv") === col("qd"))
      .groupBy(col("cluster_id"))
      .agg(max(struct(col("qs"), (-col("cv")).as("nid"))).as("m"))
      .select(col("cluster_id").as("kc"), (-col("m.nid")).as("keep_id"))
    docs.select(col("doc_id"))
      .join(clusters, col("doc_id") === col("cv"), "left")
      .join(broadcast(keeper), col("cluster_id") === col("kc"), "left")
      .select(col("doc_id"), coalesce(col("keep_id"), col("doc_id")).as("keep_id"))
      .orderBy(col("doc_id"))
  }

  val q115Sql: String =
    s"WITH RECURSIVE $clusterCtes, " +
      s"qual AS (SELECT doc_id, ${graft.text.TextAnalysis.qualityScoreSql} AS qs FROM documents), " +
      "krank AS (SELECT c.cluster_id, c.doc_id, " +
      "row_number() OVER (PARTITION BY c.cluster_id ORDER BY q.qs DESC, c.doc_id) AS rn " +
      "FROM clus c JOIN qual q USING (doc_id)), " +
      "keeper AS (SELECT cluster_id, doc_id AS keep_id FROM krank WHERE rn = 1) " +
      "SELECT d.doc_id, coalesce(k.keep_id, d.doc_id) AS keep_id " +
      "FROM documents d LEFT JOIN clus c USING (doc_id) " +
      "LEFT JOIN keeper k ON c.cluster_id = k.cluster_id " +
      "ORDER BY d.doc_id"

  /** Corpus-wide heavy-hitter shingles: the top-50 word 3-grams by
    * document frequency — the boilerplate detector (cookie banners,
    * license headers, navigation chrome) that feeds stop-shingle lists
    * like the Jaccard df cap (Guards.ShingleDfConf) and Gopher-style
    * repetition rules (q68). EXACT and scalable as-is: explode is
    * map-side, the groupBy partial-aggregates before its one shuffle on
    * the shingle, and the top-50 is a TakeOrdered (no global sort). The
    * bounded-memory alternative at extreme cardinality is a count-min
    * sketch + candidate re-check — not needed: partial aggregation
    * already caps the shuffle at the distinct-shingle set, which parquet
    * corpora fit comfortably. Ties broken by shingle text for a total
    * deterministic order on both engines.
    *
    * explode_OUTER + isNotNull, not plain explode — measured 13× (0.8 s
    * vs 10.3 s at sf0.1): for a non-outer Generate,
    * InferFiltersFromGenerate adds `size(arr) > 0 AND isnotnull(arr)`
    * and pushdown SUBSTITUTES the whole regexp+transform shingle
    * expression into that Filter, re-evaluating the expensive regexp
    * several times per document. The outer variant is exempt from the
    * rule; the null row an empty array would emit is filtered on the
    * generated ATTRIBUTE, which nothing can rewrite into a
    * recomputation. (Same row counts: `shingles` pre-filters empty
    * sets.) */
  def explodedShingles(spark: SparkSession, dir: String): DataFrame =
    shingles(spark, dir)
      .select(explode_outer(col("shingles")).as("s"))
      .where(col("s").isNotNull)

  def q96HeavyShingles(spark: SparkSession, dir: String): DataFrame =
    explodedShingles(spark, dir)
      .groupBy(col("s")).agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("s")).limit(50)

  /** Oracle reuses the shared shingle CTEs (w → sh → e0) so "shingle"
    * can't diverge between engines; df counts per-document presence
    * because sh is already list_distinct per doc. */
  val q96Sql: String =
    s"WITH $shingleCtes " +
      "SELECT s, count(*) AS df FROM e0 GROUP BY s ORDER BY df DESC, s LIMIT 50"

  /** q142: heavy shingles via a Misra–Gries bounded-memory Aggregator
    * (graft.functions.MisraGries) — the DETERMINISTIC-guarantee
    * heavy-hitter path beside q96 (exact, shuffles the distinct-shingle
    * set) and q99 (CMS, randomized hashes): k=200 counters TOTAL,
    * regardless of corpus size or shingle cardinality, with the
    * guarantee that every shingle of frequency > n/200 is present and
    * counts underestimate by at most n/200. The plan is a partial+final
    * ObjectHashAggregate over a SINGLE group — map tasks summarize
    * their partitions into k counters and the exchange moves
    * #partitions·k counters, never the shingle stream; the PODS'12
    * merge keeps the bound through the final combine. This is the
    * operator you run when even the distinct-key set no longer fits a
    * shuffle — the regime past q96.
    *
    * Counter values are arrival/merge-order dependent (only the bound
    * is invariant) → rows-only at the driver; DedupSimSpec pins the
    * guarantee against oracle-green q96: the exact top shingles all
    * surface, every estimate within n/k below truth, never above. */
  def q142MgHeavyShingles(spark: SparkSession, dir: String): DataFrame = {
    val mg = udaf(new graft.functions.MisraGries(200))
    explodedShingles(spark, dir)
      .agg(mg(col("s")).as("counters"))
      .select(explode(col("counters")).as(Seq("s", "est_df")))
      .orderBy(col("est_df").desc, col("s"))
      .limit(50)
  }

  val q30Sql: String =
    s"WITH $jaccardCtes " +
      "SELECT id_a, id_b, CAST(inter AS DOUBLE)/CAST(sa.n + sb.n - inter AS DOUBLE) AS jaccard " +
      "FROM pair JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b " +
      "WHERE CAST(inter AS DOUBLE)/CAST(sa.n + sb.n - inter AS DOUBLE) >= 0.5 ORDER BY id_a, id_b"

  /** Chunk tokens per dedup unit (q80): 10-token windows approximate the
    * line/passage granularity of public corpus pipelines (CCNet-style
    * line dedup; Lee et al., "Deduplicating Training Data Makes Language
    * Models Better", arXiv:2107.06499, whose exact-substring pass this
    * realizes at fixed-chunk granularity — suffix arrays don't
    * distribute, fixed chunks shuffle once). */
  private val ChunkW = 10

  /** Sub-document (chunk-level) exact dedup: split each document's token
    * stream into consecutive 10-token chunks, keep only the GLOBALLY
    * first occurrence of every distinct chunk (ordered by doc_id, then
    * chunk position), and reconstruct each document from its surviving
    * chunks. This is the pass that removes boilerplate and quoted
    * repetition WITHIN documents that whole-doc dedup (q29) can never
    * touch. Scale shape: one exchange — the window aggregate that finds
    * each chunk's first occurrence partitions by the 8-byte chunk hash
    * (same 2^-64 collision policy as the shingle joins; the oracle
    * partitions by chunk text, identical up to that collision) — then
    * one aggregation back to documents; the reconstruction rides in the
    * same aggregation as collect_list + array_sort (per-doc chunk counts
    * are small by construction: tokens/10).
    *
    * The first-occurrence rank is min(struct(doc_id, chunk_idx)) over the
    * chunk window — struct min orders lexicographically with NO magnitude
    * bound on either field. (A packed doc_id*C + chunk_idx rank would
    * silently mis-order any document with >= C chunks: a >= 1M-token doc
    * bleeds into the next doc_id's range, and an identically-packed
    * oracle can never catch it. DedupSimSpec "chunk dedup first-occurrence
    * rank is magnitude-unbounded" pins the >= C case with a 100_002-chunk
    * document fed straight into `chunkDedup`.) */
  def chunkDedup(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val W = ChunkW
    val toks = docs
      .select(col("doc_id"),
        regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)).as("ws"))
      .where(size(col("ws")) > 0)
    val chunked = toks.select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0), ((size(col("ws")) + (W - 1)) / W).cast("int") - 1),
          i => array_join(slice(col("ws"), i * W + 1, lit(W)), " "))))
      .toDF("doc_id", "chunk_idx", "chunk")
    val occ = struct(col("doc_id"), col("chunk_idx"))
    val firstOcc = Window.partitionBy(xxhash64(col("chunk")))
    val kept = chunked.withColumn("keep", occ === min(occ).over(firstOcc))
    val grouped = kept.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_chunks"),
      count(when(col("keep"), 1)).as("n_kept"),
      array_join(transform(
        array_sort(collect_list(when(col("keep"),
          struct(col("chunk_idx"), col("chunk"))))),
        x => x.getField("chunk")), " ").as("text_dedup"))
    docs.select(col("doc_id"))
      .join(grouped, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"))
      .orderBy(col("doc_id"))
  }

  def q80ChunkDedup(spark: SparkSession, dir: String): DataFrame =
    chunkDedup(documents(spark, dir))

  val q80Sql: String =
    "WITH w AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws FROM documents WHERE len(regexp_extract_all(lower(text), '[a-z0-9]+')) > 0), " +
      s"ci AS (SELECT doc_id, ws, unnest(range(0, CAST(ceil(len(ws)/$ChunkW.0) AS BIGINT))) AS chunk_idx FROM w), " +
      s"c AS (SELECT doc_id, chunk_idx, array_to_string(ws[(chunk_idx*$ChunkW+1):((chunk_idx+1)*$ChunkW)], ' ') AS chunk FROM ci), " +
      "k AS (SELECT doc_id, chunk_idx, chunk, " +
      "row_number() OVER (PARTITION BY chunk ORDER BY doc_id, chunk_idx) = 1 AS keep FROM c), " +
      "g AS (SELECT doc_id, count(*) AS n_chunks, count(*) FILTER (keep) AS n_kept, " +
      "coalesce(string_agg(chunk, ' ' ORDER BY chunk_idx) FILTER (keep), '') AS text_dedup " +
      "FROM k GROUP BY doc_id) " +
      "SELECT d.doc_id, coalesce(g.n_chunks, 0) AS n_chunks, coalesce(g.n_kept, 0) AS n_kept, " +
      "coalesce(g.text_dedup, '') AS text_dedup " +
      "FROM documents d LEFT JOIN g USING (doc_id) ORDER BY d.doc_id"

  /** Sliding-window length for unaligned repeated-substring detection. */
  val SpanW = 10

  /** Unaligned repeated-substring spans — the sub-document dedup pass of
    * Lee et al., "Deduplicating Training Data Makes Language Models
    * Better" (ACL 2022; suffix-array formulation there, independently
    * re-expressed here as a sliding-window dataflow): every 10-token
    * window at EVERY stride-1 offset is hashed; a window whose text
    * occurs >= 2 times anywhere in the corpus — any document, any
    * alignment, including within-document repeats — marks its 10 token
    * positions as duplicated; per document, overlapping marked windows
    * merge into maximal spans (classic island detection: a window
    * starting past the running max end opens a new span). Output per doc
    * (all integers, hash-exact cross-engine): token count, merged span
    * count, total duplicated tokens — the strip map that whole-doc
    * (q29/q78) and ALIGNED-chunk (q80) dedup structurally cannot see,
    * because a copied passage rarely lands on a 10-token chunk boundary.
    * Reference analogue: the last-wins dedup (task.ts:97-100) is the
    * document-level ancestor of this sub-document pass.
    *
    * Scale shape: stride-1 windows are LINEAR in corpus tokens, and
    * there is NO pair join anywhere — duplication is decided by a COUNT
    * per window hash, so a boilerplate window shared by a million
    * documents costs one aggregated row, not 10^12 pairs (contrast
    * q30's guarded quadratic verifier). Two exchanges total: one on the
    * 8-byte window hash (a COUNT window over the hash partition marks
    * every duplicated instance in place — the q80 first-occurrence
    * pattern; a groupBy + join-back would re-explode the windows and
    * shuffle them twice, measured ~3x slower), and one per-doc window
    * for the span merge. Spark partitions on xxhash64(window) while the
    * oracle groups by window TEXT — identical up to a 2^-64 collision
    * (the q30/q80 policy). */
  def dupSpansOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = SpanW
    // cached: read twice (window generation + final token-count join);
    // posexplode_outer (not posexplode) keeps InferFiltersFromGenerate
    // from pushing a size() filter that would re-evaluate the window
    // array per row (the q96 trap)
    val toks = graft.Caches.register(docs
      .select(col("doc_id"),
        regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)).as("ws"))
      .where(size(col("ws")) >= k)
      .cache())
    val wins = toks
      .select(col("doc_id"),
        posexplode_outer(transform(sequence(lit(0), size(col("ws")) - k),
          i => concat_ws(" ", slice(col("ws"), i + 1, lit(k))))))
      .where(col("col").isNotNull)
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        xxhash64(col("col")).as("h"))
    val wPrev = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val spans = wins
      .withColumn("c", count(lit(1)).over(Window.partitionBy(col("h"))))
      .where(col("c") >= 2)
      .withColumn("pme", max(col("pos") + k).over(wPrev))
      .withColumn("ns",
        when(col("pme").isNull || col("pos") > col("pme"), 1L).otherwise(0L))
      .withColumn("sid", sum(col("ns")).over(wRun))
      .groupBy(col("doc_id"), col("sid"))
      .agg(min(col("pos")).as("s"), (max(col("pos")) + k).as("e"))
    val perDoc = spans.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_spans"), sum(col("e") - col("s")).as("dup_tokens"))
    toks.select(col("doc_id"), size(col("ws")).cast("long").as("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"))
      .orderBy(col("doc_id"))
  }

  def q110DupSpans(spark: SparkSession, dir: String): DataFrame =
    dupSpansOf(documents(spark, dir))

  val q110Sql: String =
    "WITH t2 AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws, " +
      "len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n FROM documents " +
      s"WHERE len(regexp_extract_all(lower(text), '[a-z0-9]+')) >= $SpanW), " +
      s"idx AS (SELECT doc_id, ws, n, unnest(generate_series(1, n - ${SpanW - 1})) AS i FROM t2), " +
      s"wins AS (SELECT doc_id, i - 1 AS pos, array_to_string(ws[i:i+${SpanW - 1}], ' ') AS w FROM idx), " +
      "dup AS (SELECT w FROM wins GROUP BY w HAVING count(*) >= 2), " +
      "m AS (SELECT doc_id, pos FROM wins JOIN dup USING (w)), " +
      s"sp AS (SELECT doc_id, pos, CASE WHEN max(pos + $SpanW) OVER " +
      "(PARTITION BY doc_id ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL " +
      s"OR pos > max(pos + $SpanW) OVER (PARTITION BY doc_id ORDER BY pos " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) THEN 1 ELSE 0 END AS ns FROM m), " +
      "sp2 AS (SELECT doc_id, pos, sum(ns) OVER (PARTITION BY doc_id ORDER BY pos) AS sid FROM sp), " +
      s"spans AS (SELECT doc_id, sid, min(pos) AS s, max(pos) + $SpanW AS e FROM sp2 GROUP BY doc_id, sid), " +
      "perdoc AS (SELECT doc_id, count(*) AS nds, sum(e - s) AS dt FROM spans GROUP BY doc_id) " +
      "SELECT t2.doc_id, CAST(n AS BIGINT) AS n_tokens, " +
      "CAST(coalesce(nds, 0) AS BIGINT) AS n_dup_spans, " +
      "CAST(coalesce(dt, 0) AS BIGINT) AS dup_tokens " +
      "FROM t2 LEFT JOIN perdoc USING (doc_id) ORDER BY doc_id"

  /** q117: strip duplicated spans — q110's detection turned into the
    * corpus TRANSFORMATION of Lee et al. 2022: a stride-1 10-token
    * window occurrence is removable iff the same window text occurs
    * anywhere EARLIER in the corpus ((doc_id, pos) lexicographic —
    * "globally first occurrence wins", q80's rule at unaligned
    * granularity); per doc the removable windows merge into maximal
    * spans (the q110 island idiom) and the surviving tokens re-join
    * into the cleaned text a training pipeline feeds the tokenizer.
    * The first copy of every duplicated passage survives somewhere;
    * boilerplate repeats everywhere else are cut mid-document. Output
    * is over the normalized token stream (lowercase [a-z0-9]+, the
    * q110 contract), one row per corpus doc.
    *
    * Scale shape: linear like q110 — no pair join; removability is a
    * min-struct window over the hash partition (one exchange on the
    * 8-byte window hash), the span merge is per-doc windows, and the
    * cleaned text is a map-side array filter against the doc's own
    * merged-span array (spans per doc are disjoint and bounded by
    * n_tokens/1, in practice a handful — the per-token exists() scan
    * is O(spans) each). Spark keys on xxhash64(window) while the
    * oracle groups by window TEXT — identical up to a 2^-64 collision
    * (the q30/q80 policy). */
  def stripSpansOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = SpanW
    val toks = graft.Caches.register(docs
      .select(col("doc_id"),
        regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)).as("ws"))
      .cache())
    val wins = toks
      .where(size(col("ws")) >= k)
      .select(col("doc_id"),
        posexplode_outer(transform(sequence(lit(0), size(col("ws")) - k),
          i => concat_ws(" ", slice(col("ws"), i + 1, lit(k))))))
      .where(col("col").isNotNull)
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        xxhash64(col("col")).as("h"))
    // removable = not the lexicographically-first occurrence of its hash
    // (count >= 2 is implied: a unique window IS its own minimum)
    val rm = wins
      .withColumn("mn",
        min(struct(col("doc_id"), col("pos"))).over(Window.partitionBy(col("h"))))
      .where(struct(col("doc_id"), col("pos")) =!= col("mn"))
      .select(col("doc_id"), col("pos"))
    val wPrev = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val spans = rm
      .withColumn("pme", max(col("pos") + k).over(wPrev))
      .withColumn("ns",
        when(col("pme").isNull || col("pos") > col("pme"), 1L).otherwise(0L))
      .withColumn("sid", sum(col("ns")).over(wRun))
      .groupBy(col("doc_id"), col("sid"))
      .agg(min(col("pos")).as("s"), (max(col("pos")) + k).as("e"))
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("s"), col("e"))).as("spans"))
    toks.join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"), col("ws"),
        coalesce(col("spans"),
          array().cast("array<struct<s:bigint,e:bigint>>")).as("spans"))
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n_tokens"),
        filter(col("ws"), (_, i) => !exists(col("spans"), sp =>
          i.cast("long") >= sp.getField("s") && i.cast("long") < sp.getField("e")))
          .as("kept"))
      .select(col("doc_id"), col("n_tokens"),
        size(col("kept")).cast("long").as("kept_tokens"),
        concat_ws(" ", col("kept")).as("cleaned_text"))
      .orderBy(col("doc_id"))
  }

  def q117StripSpans(spark: SparkSession, dir: String): DataFrame =
    stripSpansOf(documents(spark, dir))

  val q117Sql: String =
    "WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws, " +
      "len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n FROM documents), " +
      s"idx AS (SELECT doc_id, ws, n, unnest(generate_series(1, n - ${SpanW - 1})) AS i " +
      s"FROM t WHERE n >= $SpanW), " +
      s"wins AS (SELECT doc_id, i - 1 AS pos, array_to_string(ws[i:i+${SpanW - 1}], ' ') AS w FROM idx), " +
      "rk AS (SELECT doc_id, pos, row_number() OVER (PARTITION BY w ORDER BY doc_id, pos) AS rn FROM wins), " +
      "rm AS (SELECT doc_id, pos FROM rk WHERE rn > 1), " +
      s"sp AS (SELECT doc_id, pos, CASE WHEN max(pos + $SpanW) OVER " +
      "(PARTITION BY doc_id ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL " +
      s"OR pos > max(pos + $SpanW) OVER (PARTITION BY doc_id ORDER BY pos " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) THEN 1 ELSE 0 END AS ns FROM rm), " +
      "sp2 AS (SELECT doc_id, pos, sum(ns) OVER (PARTITION BY doc_id ORDER BY pos) AS sid FROM sp), " +
      s"spans AS (SELECT doc_id, sid, min(pos) AS s, max(pos) + $SpanW AS e FROM sp2 GROUP BY doc_id, sid), " +
      "tok AS (SELECT doc_id, unnest(generate_series(1, n)) AS j FROM t), " +
      "kept AS (SELECT tok.doc_id, j FROM tok LEFT JOIN spans " +
      "ON tok.doc_id = spans.doc_id AND j - 1 >= s AND j - 1 < e WHERE s IS NULL), " +
      "agg AS (SELECT k.doc_id, count(*) AS kc, " +
      "string_agg(t.ws[k.j], ' ' ORDER BY k.j) AS ctext " +
      "FROM kept k JOIN t ON k.doc_id = t.doc_id GROUP BY k.doc_id) " +
      "SELECT t.doc_id, CAST(n AS BIGINT) AS n_tokens, " +
      "CAST(coalesce(kc, 0) AS BIGINT) AS kept_tokens, " +
      "coalesce(ctext, '') AS cleaned_text " +
      "FROM t LEFT JOIN agg USING (doc_id) ORDER BY t.doc_id"

  private val K = 64  // minhash signature length
  private val B = 16  // LSH bands
  private val R = 4   // rows per band (K = B*R)

  /** MinHash signatures: K permutations simulated by seeded xxhash64; the
    * signature is computed map-side in one pass (two nested higher-order
    * functions, no UDF, no shuffle).
    *
    * Two "optimizations" are KNOWN PESSIMIZATIONS here — don't redo them:
    * affine a·h+b permutations were slower through typedLit element_at
    * and, without a mod, monotone ⇒ recall collapse (r1 measurement);
    * and hashing each shingle string once into an `hs` array before the
    * K-permutation loop does NOT materialize — Catalyst's
    * CollapseProject inlines the single-referenced projection back
    * inside the outer lambda (higher-order functions evaluate with no
    * cross-iteration CSE), so the string hash still runs K times plus
    * an extra long hash on top (verified in the optimized plan, r4). */
  def minhashSignatures(spark: SparkSession, dir: String): DataFrame =
    minhashSignaturesOf(shingles(spark, dir))

  /** Per-permutation affine constants for the minhash family, fixed and
    * interpolated into BOTH the Spark expressions and the q31/q78
    * oracle SQL. Range [1, 2^20): products against 32-bit md5 halves
    * stay ≤ 2^52, so the arithmetic can never overflow BIGINT in
    * either engine. */
  private val MinhashPerms: IndexedSeq[(Long, Long, Long)] = {
    val rnd = new scala.util.Random(987654321L)
    def c() = 1L + rnd.nextInt((1 << 20) - 1)
    IndexedSeq.fill(K)((c(), c(), c()))
  }
  private val MinhashMod = 2147483647L // 2^31 - 1

  /** The production minhash permutation family `(a, b, c, mod)` —
    * exposed (read-only copies) so [[graft.plans.GraftExtensions]] can
    * inject the `minhash_sig*` SQL functions bound to the SAME family
    * the dedup chain and the q31/q78 oracles use. Deterministic: the
    * perms derive from a fixed seed. */
  def minhashFamily: (Array[Long], Array[Long], Array[Long], Long) =
    (MinhashPerms.map(_._1).toArray, MinhashPerms.map(_._2).toArray,
      MinhashPerms.map(_._3).toArray, MinhashMod)

  /** One shared copy for the signature helpers: the expressions compare
    * their constant arrays by reference, so two signature columns over
    * this family stay semantically equal (exchange reuse, CSE). */
  private val MinhashFamily = minhashFamily

  /** Signatures from an existing (doc_id, shingles) frame.
    *
    * The K hash family is md5-seeded affine permutations (r9; was
    * per-(i,s) xxhash64): each shingle hashes ONCE to two 32-bit md5
    * halves (ha, hb) and permutation i evaluates
    * (Ai·ha + Bi·hb + Ci) mod 2^31−1 with fixed per-i constants. That
    * makes the ENTIRE LSH chain (signatures → band keys → candidates →
    * exact verify) replayable by the DuckDB oracle, promoting q31 from
    * rows-only to hash-checked. The MODULUS is load-bearing, not
    * hygiene: a first attempt used Kirsch-Mitzenmacher ha + i·hb
    * (no mod) and ScaleSmoke's ingest assertions caught it — without
    * the wrap, a shingle that minimizes BOTH halves wins EVERY
    * permutation, so docs sharing one such shingle (planted boilerplate)
    * agreed on most signature components and batch 5 dropped 64% of
    * its novel docs as false near-dups. The mod scrambles the per-i
    * order, restoring E[agreement] ≈ Jaccard (re-measured: the same
    * assertion passes). The (ha, hb) pair array is projected once per
    * row (CollapseProject keeps non-cheap multiply-referenced aliases
    * materialized), so the md5 cost is one-per-shingle. */
  def minhashSignaturesOf(sh: DataFrame): DataFrame = {
    // FULLY fused since r12: shingle strings → (md5|xxhash64) halves →
    // K affine minima, one native pass per row. The r11 fusion removed
    // the K per-permutation lambdas (3.2 s of q31's 5.7 at sf0.1) but
    // still paid an interpreted `transform` hash projection per shingle
    // plus a materialized struct array; this removes both. The hash-
    // family seam (graft.HashFamilies) picks the variant at plan
    // build: md5 halves (replayable, default — the DuckDB oracle
    // replays them) vs seeded xxhash64 (production). Bit-identical to
    // the two-step route for BOTH families; MinhashExpressionsSpec pins
    // the full ladder (fused-text ≡ struct-input native ≡ the K-lambda
    // HOF reference). */
    val (a, b, c, mod) = MinhashFamily
    sh.select(col("doc_id"), col("shingles"),
      graft.functions.MinhashFunctions.minhashSigText(col("shingles"), a, b, c, mod,
        graft.HashFamilies.replayable(sh.sparkSession)).as("sig"))
  }

  /** The pre-r12 per-shingle hash projection for `family` ("md5" |
    * "xxh") — kept as the REFERENCE the spec pins the fused text pass
    * against, and the input builder for [[minhashSigHofReference]]. */
  private[graft] def minhashHpReference(replayable: Boolean): Column => Column =
    if (replayable)
      s => struct(
        conv(substring(md5(s), 1, 8), 16, 10).cast("long").as("ha"),
        conv(substring(md5(s), 9, 8), 16, 10).cast("long").as("hb"))
    else
      s => struct(
        pmod(xxhash64(s), lit(4294967296L)).as("ha"),
        pmod(xxhash64(s, lit(1)), lit(4294967296L)).as("hb"))

  /** The r11 struct-input route (an `hp` (ha, hb) column through the
    * native `minhash_sig`) — kept as the MIDDLE RUNG of the spec ladder
    * (fused-text ≡ struct-input ≡ K-lambda HOF reference). */
  private[graft] def minhashSignaturesStructRouteForSpec(shWithHp: DataFrame): DataFrame = {
    val (a, b, c, mod) = MinhashFamily
    shWithHp.select(col("doc_id"),
      graft.functions.MinhashFunctions.minhashSig(col("hp"), a, b, c, mod).as("sig"))
  }

  /** The pre-r11 HOF formula for the signatures — kept as the
    * DECLARATIVE REFERENCE the spec pins [[minhashSignaturesOf]]'s
    * native fused pass against (the hilbertValueFold pattern). */
  private[graft] def minhashSigHofReference: Column =
    array((0 until K).map { i =>
      val (a, b, c) = MinhashPerms(i)
      array_min(transform(col("hp"),
        p => pmod(p.getField("ha") * a + p.getField("hb") * b + c,
          lit(MinhashMod))))
    }: _*)

  /** Band rows (doc_id, band, bh) for a signature frame — the LSH
    * bucket keys; B rows per doc, shared by the batch pair path and the
    * incremental ingest's band store. bh is the md5 of the band's
    * comma-joined signature values (equality ≡ slice equality modulo a
    * 2^-60 collision, same policy as the q30 hash join) — replayable,
    * unlike the xxhash64 it replaces. */
  def bandsOf(sig: DataFrame): DataFrame = {
    // hash-family seam: md5-of-joined-values (replayable, default) vs a
    // structural xxhash64 of the band slice (production speed — skips
    // the string join entirely)
    val bh: Column => Column =
      if (graft.HashFamilies.replayable(sig.sparkSession))
        b => conv(substring(md5(concat_ws(",",
          slice(col("sig"), b * R + 1, lit(R)).cast("array<string>"))), 1, 15), 16, 10)
          .cast("long")
      else
        b => xxhash64(slice(col("sig"), b * R + 1, lit(R)))
    sig.select(col("doc_id"),
        explode(transform(sequence(lit(0), lit(B - 1)),
          b => struct(b.as("band"), bh(b).as("bh")))).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
  }

  /** MinHash+LSH near-dup pairs: band the signature, bucket-join on
    * (band, band_hash), then verify candidates with exact Jaccard. The
    * candidate join touches only colliding docs — the property that makes
    * this the 100 TB dedup path. Hash-checked since r9: the md5-seeded
    * signature family replays in DuckDB (q31Sql), so the oracle
    * reproduces the exact candidate set and the exact verified pairs;
    * the ScalaTest spec additionally asserts recall against q30.
    *
    * UNSORTED — shared by q31 (which adds the oracle-determinism sort)
    * and the q78 cluster chain (where a global sort of the pair set
    * would be a dead range-exchange: edges are immediately re-shuffled),
    * mirroring the jaccardPairs/q30 split. */
  def minhashLshPairs(spark: SparkSession, dir: String): DataFrame = {
    val sig = graft.Caches.register(minhashSignatures(spark, dir).cache())
    val banded = bandsOf(sig)
    val cands = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    // Candidate verification WITHOUT re-materializing shingle arrays per
    // pair: the previous form joined the full shingle ARRAY onto both
    // sides of every candidate and ran array_intersect per pair —
    // O(|A|+|B|) array traffic and traversal per candidate, with each
    // doc's array copied into every pair it appears in. Instead restrict
    // the q30 exploded hash-join machinery to the candidate set: explode
    // each doc's shingle hashes once (8-byte keys off the cached
    // signatures), attach side A's hashes to its pairs (join keyed on
    // doc_id), then the equi-join on (id_b, hash) keeps exactly the
    // intersection rows — count per pair, join back the two set SIZES
    // (one scalar per doc, never the arrays). Same exact Jaccard, same
    // 2^-64 hash-collision policy as q30. Measured perf-neutral at
    // sf0.1 (256 candidates — the chain is signature- and round-
    // overhead-bound there, see PERF.md r7); the point is the scale
    // term it removes, not a small-SF speedup.
    val e = sig.select(col("doc_id"), explode(col("shingles")).as("s"))
      .select(col("doc_id"), xxhash64(col("s")).as("s"))
    val sizes = sig.select(col("doc_id"), size(col("shingles")).cast("long").as("n"))
    val inter = cands.join(e.as("ea"), col("id_a") === col("ea.doc_id"))
      .select(col("id_a"), col("id_b"), col("ea.s").as("s")).as("pa")
      .join(e.as("eb"), col("pa.id_b") === col("eb.doc_id") && col("pa.s") === col("eb.s"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.as("sa"), col("id_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("id_b") === col("sb.doc_id"))
      .withColumn("jac", col("inter").cast("double") /
        (col("sa.n") + col("sb.n") - col("inter")).cast("double"))
      .where(col("jac") >= 0.5)
      .select(col("id_a"), col("id_b"), col("jac").as("jaccard"))
  }

  def q31MinhashLsh(spark: SparkSession, dir: String): DataFrame =
    minhashLshPairs(spark, dir).orderBy(col("id_a"), col("id_b"))

  /** Full replay of the q31 chain (r9): per-shingle md5 halves → K
    * double-hash minhash values → band keys (raw comma-joined strings —
    * equality matches Spark's md5-of-the-same-string keys) → distinct
    * candidates → UNCAPPED exact-Jaccard verification (q31 verifies
    * against full shingle sets; the df cap is a q30-chain concern). */
  /** q31's chain as reusable CTEs, ending in `ldup` (the verified LSH
    * pair set) — shared by q31Sql and q78Sql so "what is an LSH-found
    * duplicate pair" has one definition. */
  private val lshPairCtes: String = {
    val ha = "CAST('0x' || substr(md5(s), 1, 8) AS BIGINT)"
    val hb = "CAST('0x' || substr(md5(s), 9, 8) AS BIGINT)"
    val permRows = MinhashPerms.zipWithIndex
      .map { case ((a, b, c), i) => s"($i, $a, $b, $c)" }.mkString(", ")
    s"$shingleCtes, " +
      s"perm(i, pa, pb, pc) AS (SELECT * FROM (VALUES $permRows) v(i, pa, pb, pc)), " +
      s"mh AS (SELECT doc_id, perm.i, min((perm.pa * $ha + perm.pb * $hb + perm.pc) % $MinhashMod) AS mv " +
      "FROM e0, perm GROUP BY doc_id, perm.i), " +
      s"bk AS (SELECT doc_id, i // $R AS band, " +
      "string_agg(CAST(mv AS VARCHAR), ',' ORDER BY i) AS bh " +
      s"FROM mh GROUP BY doc_id, i // $R), " +
      "cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM bk a JOIN bk b " +
      "ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id GROUP BY 1, 2), " +
      "iv AS (SELECT c.id_a, c.id_b, count(*) AS inter FROM cand c " +
      "JOIN e0 a ON a.doc_id = c.id_a JOIN e0 b ON b.doc_id = c.id_b AND b.s = a.s " +
      "GROUP BY 1, 2), " +
      "sz AS (SELECT doc_id, len(shingles) AS n FROM sh), " +
      "ldup AS (SELECT iv.id_a, iv.id_b, " +
      "CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE) AS jaccard " +
      "FROM iv JOIN sz sa ON sa.doc_id = iv.id_a JOIN sz sb ON sb.doc_id = iv.id_b " +
      "WHERE CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE) >= 0.5)"
  }

  val q31Sql: String =
    s"WITH $lshPairCtes " +
      "SELECT id_a, id_b, jaccard FROM ldup ORDER BY id_a, id_b"

  /** q78 oracle (r9 — possible once q31's pair set became replayable):
    * the LSH pairs feed the same recursive-reachability component
    * closure as the q65/q77 oracles, the keeper is the component min,
    * and the deduped corpus is everything not dropped. End-to-end the
    * PRODUCTION dedup chain is now hash-checked, not just
    * recall-bounded. */
  val q78Sql: String =
    s"WITH RECURSIVE $lshPairCtes, " +
      "ledges AS (SELECT id_a AS u, id_b AS v FROM ldup " +
      "UNION ALL SELECT id_b AS u, id_a AS v FROM ldup), " +
      "lreach(u, v) AS (SELECT DISTINCT u, u AS v FROM ledges " +
      "UNION SELECT e2.u, r.v FROM ledges e2 JOIN lreach r ON e2.v = r.u), " +
      "lclus AS (SELECT u AS doc_id, min(v) AS cluster_id FROM lreach GROUP BY u) " +
      "SELECT d.doc_id, substr(md5(d.text), 1, 16) AS fp FROM documents d " +
      "WHERE NOT EXISTS (SELECT 1 FROM lclus c " +
      "WHERE c.doc_id = d.doc_id AND c.doc_id <> c.cluster_id) " +
      "ORDER BY d.doc_id"

  /** q125: EXACT set-similarity self-join by prefix filtering (the
    * PPJoin family — Chaudhuri et al. 2006 SSJoin / Xiao et al. 2008;
    * independently re-expressed as a dataflow): the third point in the
    * near-dup design space. q30 is exact but all-pairs (guarded
    * quadratic); q31 is scalable but approximate (LSH recall < 1);
    * this is BOTH exact and bucketed — identical output to q30,
    * including the Jaccard values, with no row-count guard and no
    * hot-shingle cap, because the quadratic term is bounded
    * algorithmically instead of policed.
    *
    * The bound: order every shingle by (global df ASC, hash) — rarest
    * first — and take each doc's PREFIX of length n − ceil(t·n) + 1
    * (t = 0.5 ⇒ ⌊n/2⌋ + 1). If J(A,B) ≥ t, the intersection has
    * ≥ ceil(t·|A|) elements, too many to hide entirely inside A's
    * suffix of length ceil(t·|A|) − 1 — so the prefixes of ANY
    * qualifying pair must collide (prefix-filter lemma). Candidates =
    * pairs colliding on a PREFIX token: the self-join runs on the
    * rarest half of each set, where df is smallest by construction —
    * boilerplate shingles that would explode q30's join sit at the END
    * of the global order and never enter a prefix (the same skew the
    * df cap handles by dropping, handled here with zero semantic
    * change). The length filter (t·|B| ≤ |A|, symmetric) prunes
    * mismatched sizes before the verify. Verification is per-doc sorted
    * hash arrays + the native sorted_intersect_count merge walk (r12 —
    * measured 2× over the exploded hash-join at this query's candidate
    * volume; see the inline note).
    *
    * Scale shape: one df aggregation (linear), one per-doc rank window
    * (linear), a prefix-token self-join (df²-bounded on rare tokens),
    * exact verify on candidates only. Oracle: q30's SQL verbatim — the
    * outputs are equal BY THEOREM, and the driver hash-checks that
    * equality cross-engine. */
  def q125PrefixJoin(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = graft.Caches.register(shingles(spark, dir).cache())
    val e = graft.Caches.register(
      sh.select(col("doc_id"), explode(col("shingles")).as("s"))
        .select(col("doc_id"), xxhash64(col("s")).as("s")).cache())
    val sizes = sh.select(col("doc_id"), size(col("shingles")).cast("long").as("n"))
    val df = e.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val pref = e.join(df, "s")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("s"))))
      .join(sizes, "doc_id")
      .where(col("rk") <= floor(col("n") / 2) + 1)
      .select(col("doc_id"), col("s"), col("n"))
    val cands = pref.as("a").join(pref.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id") &&
          // length filter: J >= 0.5 forces |A| >= |B|/2 and |B| >= |A|/2
          col("a.n") * 2 >= col("b.n") && col("b.n") * 2 >= col("a.n"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    // Verification (r12): per-doc SORTED hash arrays + the native
    // sorted_intersect_count merge walk (the q129 edge-iterator kernel),
    // instead of the exploded hash-join q31 uses. The two verifies make
    // opposite calls ON MEASUREMENT, not taste: q31's candidate set is
    // tiny (256 at sf0.1) and chain-overhead-bound, so exploding wins
    // there (r7); q125's prefix join yields ~310k candidates at the
    // same SF, where the exploded form pays two joins plus a groupBy
    // over Σ|A| rows — the array walk verify measured 2.20 → 1.04 s
    // (PERF.md "r12: q125's verify stage"). |toks| == |shingles|
    // (collect_list keeps all hashes), so the sizes come free as
    // size(ta)/size(tb) and the two size-attach joins disappear too.
    // Hash-collision policy unchanged from q30/q31 (2^-64 per pair,
    // and the DuckDB oracle would catch one materializing).
    val adj = e.groupBy(col("doc_id")).agg(sort_array(collect_list(col("s"))).as("toks"))
    cands
      .join(adj.select(col("doc_id").as("id_a"), col("toks").as("ta")), Seq("id_a"))
      .join(adj.select(col("doc_id").as("id_b"), col("toks").as("tb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        graft.functions.IntersectFunctions.sortedIntersectCount(col("ta"), col("tb")).as("inter"),
        (size(col("ta")) + size(col("tb"))).cast("long").as("tot"))
      .withColumn("jac", col("inter").cast("double") /
        (col("tot") - col("inter")).cast("double"))
      .where(col("jac") >= 0.5)
      .select(col("id_a"), col("id_b"), col("jac").as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  private val SimBits = 64

  /** 64-bit SimHash per document over word tokens: explode tokens →
    * xxhash64 → one groupBy(doc_id) with 64 builtin per-bit vote sums
    * (partial aggregation makes this a single map-combine shuffle), then
    * fold the bit votes into a long. No UDFs; the whole vote projection
    * stays in codegen. Near-dup candidates use 4x16-bit band blocking +
    * Hamming <= 6 verification (bit_count of xor). */
  def simhashed(spark: SparkSession, dir: String): DataFrame =
    simhashedOf(documents(spark, dir))

  /** SimHash from any (doc_id, text) frame — the planted-corpus seam the
    * hash-family parity spec drives (the minhashSignaturesOf pattern). */
  def simhashedOf(docs: DataFrame): DataFrame = {
    // token bits come from md5, split into two 32-bit halves (a single
    // 64-bit conv would overflow BIGINT under ANSI for values >= 2^63):
    // bit j < 32 reads half A (hex chars 1-8), bit j >= 32 half B
    // (chars 9-16). md5 rather than xxhash64 (r9) so the ENTIRE chain —
    // token bits, votes, fold, bands, Hamming — replays in the DuckDB
    // oracle and q32 is hash-checked, not rows-only; the structure is
    // hash-agnostic, so a deployment preferring raw scan speed swaps
    // this one projection back to xxhash64 (the signature loses its
    // cross-engine replayability, nothing else changes).
    val (ha, hb) =
      if (graft.HashFamilies.replayable(docs.sparkSession))
        (conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long"),
          conv(substring(md5(col("tok")), 9, 8), 16, 10).cast("long"))
      else
        (pmod(xxhash64(col("tok")), lit(4294967296L)),
          pmod(xxhash64(col("tok"), lit(1)), lit(4294967296L)))
    val tok = docs
      .select(col("doc_id"),
        explode(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))).as("tok"))
      .select(col("doc_id"), ha.as("ha"), hb.as("hb"))
    val voteCols = (0 until SimBits).map { j =>
      val src = if (j < 32) shiftright(col("ha"), j) else shiftright(col("hb"), j - 32)
      sum(when(src.bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L)).as(s"v$j")
    }
    val votes = tok.groupBy(col("doc_id")).agg(voteCols.head, voteCols.tail: _*)
    // big-endian fold via shift+or (ANSI-safe: bit 63 would overflow `*2`)
    val sim = (0 until SimBits).foldLeft(lit(0L)) { (acc, j) =>
      shiftleft(acc, 1).bitwiseOR(when(col(s"v$j") > 0, 1L).otherwise(0L))
    }
    votes.select(col("doc_id"), sim.as("simhash"))
  }

  /** Oracle replay of the full q32 chain (r9 — possible since the token
    * bits moved to md5): votes per bit from the same two 32-bit md5
    * halves, band values reconstructed from vote positions (vote j sits
    * at simhash position 63−j after the big-endian fold, so band =
    * (63−j)/16 and in-band position = (63−j)%16 — all <= 2^16, no
    * 64-bit value ever materializes), then the q83-style any-band-match
    * candidate join and per-band XOR bit_count Hamming. */
  val q32Sql: String = {
    val wideCols = (0 until 4).map(b =>
      s"max(CASE WHEN band = $b THEN bval END) AS b$b").mkString(", ")
    val ham = (0 until 4).map(b => s"bit_count(xor(a.b$b, b.b$b))").mkString(" + ")
    val anyBand = (0 until 4).map(b => s"a.b$b = b.b$b").mkString(" OR ")
    "WITH tok AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok FROM documents), " +
      "h AS (SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) AS ha, " +
      "CAST('0x' || substr(md5(tok), 9, 8) AS BIGINT) AS hb FROM tok), " +
      "jx AS (SELECT doc_id, ha, hb, unnest(range(0, 64)) AS j FROM h), " +
      "v AS (SELECT doc_id, j, sum(CASE WHEN " +
      "(CASE WHEN j < 32 THEN ha >> CAST(j AS INTEGER) ELSE hb >> CAST(j - 32 AS INTEGER) END) & 1 = 1 " +
      "THEN 1 ELSE -1 END) AS v FROM jx GROUP BY 1, 2), " +
      "bv AS (SELECT doc_id, (63 - j) // 16 AS band, " +
      "CAST(sum(CASE WHEN v > 0 THEN (1 << CAST((63 - j) % 16 AS INTEGER)) ELSE 0 END) AS BIGINT) AS bval " +
      "FROM v GROUP BY 1, 2), " +
      s"wide AS (SELECT doc_id, $wideCols FROM bv GROUP BY doc_id) " +
      s"SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST($ham AS BIGINT) AS hamming " +
      s"FROM wide a JOIN wide b ON a.doc_id < b.doc_id AND ($anyBand) " +
      s"WHERE $ham <= 6 ORDER BY id_a, id_b"
  }

  def q32Simhash(spark: SparkSession, dir: String): DataFrame = {
    val sh = graft.Caches.register(simhashed(spark, dir).cache())
    // band value b: bits [16b, 16b+16) of the simhash
    val withBands = sh.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("simhash"), 16 * b).bitwiseAND(lit(0xFFFFL)).as("bv"))): _*)).as("x"))
      .select(col("doc_id"), col("simhash"), col("x.band").as("band"), col("x.bv").as("bv"))
    val cands = withBands.as("a").join(withBands.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.simhash").as("sim_a"), col("b.simhash").as("sim_b"))
      .distinct()
    cands
      .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast("long"))
      .where(col("hamming") <= 6)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Minimum fraction of agreeing MinHash components for the ingest's
    * verification step. E[agreement] = true Jaccard, so 0.5 mirrors the
    * batch chain's exact-Jaccard threshold; the estimator's ±1/√K noise
    * is the price of verifying against STORED signatures (K longs/doc)
    * instead of re-materializing historical shingle sets. */
  val IngestEstThreshold = 0.5

  /** One incremental NEAR-dup ingest step — the q78 chain made
    * appendable, and the near-dup complement of `Bloom.ingestBatch`
    * (which only catches canonical-exact copies). Persistent state per
    * corpus: `sigStorePath` (doc_id, sig[K]) and `bandStorePath`
    * (doc_id, band, bh — B rows/doc), both append-only.
    *
    * Per batch: signatures+bands for the batch (one pass); candidates =
    * band-bucket join of batch bands against BOTH the band store and the
    * batch itself — history never rescans, only colliding bucket rows
    * meet, which is what keeps per-batch cost O(|batch| + collisions)
    * while the corpus grows unbounded; verification = MinHash-estimate
    * Jaccard from the stored signatures (zip_with equality fraction, no
    * shingle re-materialization); then connected components over the
    * verified pair graph (the shared min-label machinery): a component
    * containing ANY historical doc keeps nothing (history already has
    * its representative), a batch-only component keeps its min doc_id.
    * Novel rows land under `novelPath/batch=<id>` FIRST; the stores are
    * appended from the landed files (same recacheByPath discipline as
    * Bloom.ingestBatch), and the whole step runs under
    * `IngestStores.replayedStep`, so foreachBatch's at-least-once
    * delivery can replay any stage without data loss. DedupSimSpec pins
    * multi-batch ≡ one-shot parity and the cross-batch drop.
    *
    * Parity semantics: exact set parity with the one-shot chain when
    * ingestion order agrees with doc_id order and each dup group's
    * members arrive connected (the common append-only case —
    * DedupSimSpec's construction). In general the incremental keeper is
    * the FIRST-ARRIVED member (one-shot keeps min doc_id), and a later
    * doc that BRIDGES two previously-independent published groups is
    * dropped while both groups' representatives remain — an incremental
    * system cannot retract already-published rows. Both divergences are
    * inherent to incrementality, not bugs: no near-dup pair ever
    * survives together.
    *
    * Contract notes: near-dup is only DEFINED for docs with ≥ 3 tokens
    * (shorter docs have no 3-gram shingles — the batch chain has the
    * same boundary), so sub-3-token docs always pass; run
    * `Bloom.ingestBatch` alongside to catch their canonical-exact
    * copies. The two ingests together are the incremental form of the
    * full q29+q78 dedup pass. */
  def lshIngestBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      sigStorePath: String, bandStorePath: String,
      novelPath: String): Unit = graft.Caches.scoped {
    import org.apache.spark.sql.types._
    val batchOut = s"$novelPath/batch=$batchId"
    val sigStore = IngestStores.readOr(spark, sigStorePath, StructType(Seq(
      StructField("doc_id", LongType),
      StructField("sig", ArrayType(LongType)))))
    val bandStore = IngestStores.readOr(spark, bandStorePath, StructType(Seq(
      StructField("doc_id", LongType),
      StructField("band", IntegerType), StructField("bh", LongType))))

    // lazy plans throughout — nothing materializes on the replay-skip path
    val sigB = minhashSignaturesOf(shinglesOf(batch))
      .select(col("doc_id"), col("sig")).cache()
    val bandB = bandsOf(sigB)

    // candidate pairs: batch×history (bucket join against the store) and
    // batch×batch (self bucket join, earlier id first)
    val candHist = bandB.as("a").join(bandStore.as("h"),
        col("a.band") === col("h.band") && col("a.bh") === col("h.bh"))
      .select(col("a.doc_id").as("id_b"), col("h.doc_id").as("id_a")).distinct()
    val candBatch = bandB.as("a").join(bandB.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b")).distinct()

    // verification from signatures: agreement fraction >= threshold
    def verified(cands: DataFrame, sigsA: DataFrame, sigsB: DataFrame): DataFrame =
      cands
        .join(sigsA.select(col("doc_id").as("id_a"), col("sig").as("sa")), "id_a")
        .join(sigsB.select(col("doc_id").as("id_b"), col("sig").as("sb")), "id_b")
        .withColumn("est", aggregate(zip_with(col("sa"), col("sb"),
            (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("double") / lit(K))
        .where(col("est") >= IngestEstThreshold)
        .select(col("id_a"), col("id_b"))
    val pairs = verified(candHist, sigStore, sigB)
      .unionByName(verified(candBatch, sigB, sigB))

    try {
      IngestStores.replayedStep(spark, batchOut) {
        // components over batch ∪ matched-history vertices; history
        // members poison their component (it already has a kept
        // representative). The cluster loop is driver-coordinated, so it
        // runs only inside the compute stage (a replay of a committed
        // batch never pays it).
        val histIds = sigStore.select(col("doc_id")).distinct()
        val labels = minLabelClusters(pairs).toDF("v", "lbl")
        val poisoned = labels.join(histIds.withColumnRenamed("doc_id", "v"), Seq("v"))
          .select(col("lbl")).distinct()
        val dropped = labels.join(poisoned, Seq("lbl"))
          .select(col("v").as("doc_id"))
          .unionByName(labels.where(col("v") =!= col("lbl")).select(col("v").as("doc_id")))
          .distinct()
        batch.join(dropped, Seq("doc_id"), "left_anti")
      } { landed =>
        // stores append from the LANDED rows (recompute novel-only sigs:
        // one pass over the kept sliver, no dependency on mutated paths;
        // a replayed append may duplicate store rows, which every
        // consumer tolerates — distinct ids, dup-insensitive joins)
        val landedSig = minhashSignaturesOf(shinglesOf(landed))
          .select(col("doc_id"), col("sig")).cache()
        landedSig.count()
        landedSig.write.mode("append").parquet(sigStorePath)
        bandsOf(landedSig).write.mode("append").parquet(bandStorePath)
        landedSig.unpersist()
      }
    } finally {
      sigB.unpersist()
      // the cluster loop's converged label cache was registered inside
      // this call's Caches.scoped and is unpersisted on scope exit —
      // caches registered by concurrent queries are untouched
    }
  }

  /** q130 declares a match at fused score >= this. On the tested corpus
    * it isolates the edit-distance-1 name pairs ("cold anvil"/"old
    * anvil") from the merely-token-sharing ones (max non-match score
    * 0.56); the full scored candidate table is emitted either way, so
    * the threshold only sets the flag. */
  private val ErMatchThreshold = 0.6

  /** Tokens appearing in more than this many DISTINCT names are purged
    * as block keys in q130 (standard block purging): a stop token
    * ("inc", "the") blocks everything with everything and contributes
    * df² candidate pairs while discriminating nothing. The cap bounds
    * per-block cost at cap² and is mirrored at this default in the SQL
    * oracle (the Guards.ShingleDfConf pattern); specs override via
    * [[ErBlockDfConf]] to pin the purged semantics. No token reaches
    * the default at any tested SF, so the filter is identity there. */
  val ErBlockDfConf = "spark.graft.er.maxBlockDf"
  val DefaultErBlockDf = 10000L

  /** q130: blocked fuzzy entity resolution over the part-name catalog —
    * the STRING-typo member of the near-dup family (q30/q125 match on
    * token SETS, q31/q32 approximate them, q33/q79 match embeddings;
    * none of them can pair "cold anvil" with "old anvil", which shares
    * only a dented token). Classic record-linkage shape (Fellegi &
    * Sunter 1969; token blocking per Papadakis et al.'s surveys):
    * candidates from cheap blocking keys, scored by a fused similarity
    * = 0.5·(1 − lev/maxlen) + 0.5·tokenJaccard, matched at a threshold.
    *
    * The scale design is the DICTIONARY trick production ER pipelines
    * use: resolve DISTINCT names, not records. The one record-scale
    * operation is the name → (name, record_count) aggregation (one
    * partial-agged shuffle); everything fuzzy — tokenize, df, blocking,
    * the self-join, levenshtein — runs on the distinct-name dictionary,
    * whose size tracks the VOCABULARY, not the corpus (64 names over
    * 2k records here; a 100 TB catalog's name dictionary is still tiny
    * next to the fact data). Multiplicities are carried through so
    * downstream merge steps know each side's record mass.
    *
    * Blocking: every (name, token) is a block assignment — NOT
    * rarest-token-only, which would isolate exactly the typo'd names
    * the operator exists to pair (a dented token has df 1 and becomes
    * a singleton block; q125's prefix trick is sound for SET overlap
    * but not for edit distance). Quadratic blowup is bounded from the
    * other end: tokens with df > [[DefaultErBlockDf]] are PURGED as
    * block keys (cap² bounds any block's pair count), and a pair
    * colliding in several blocks is emitted once via distinct — the
    * recall contract is "shares at least one non-stop token", the
    * standard token-blocking guarantee. Determinism: lev and length
    * are exact ints, jaccard and the fused score are single-rounded
    * divisions of small ints (denominators 2·len·3 — no 6-decimal
    * half-tie is representable, see the round-tie trap), so the oracle
    * matches hash-for-hash. */
  def q130FuzzyEr(spark: SparkSession, dir: String): DataFrame = {
    val cap = spark.conf.getOption(ErBlockDfConf).map(_.toLong).getOrElse(DefaultErBlockDf)
    val dict = graft.Caches.register(part(spark, dir)
      .groupBy(col("p_name").as("name")).agg(count(lit(1)).as("recs"))
      .cache())
    val tok = dict.select(col("name"),
      explode(array_distinct(split(col("name"), " "))).as("t"))
    val df = tok.groupBy(col("t")).agg(count(lit(1)).as("df"))
    val blk = tok.join(df, "t").where(col("df") <= cap)
      .select(col("name"), col("t").as("b"))
    val side = blk.join(dict, "name")
      .select(col("b"), col("name"), col("recs"),
        array_distinct(split(col("name"), " ")).as("toks"))
    val pairs = side.as("a").join(side.as("b"),
        col("a.b") === col("b.b") && col("a.name") < col("b.name"))
      .select(
        col("a.name").as("name_a"), col("b.name").as("name_b"),
        col("a.recs").as("rec_a"), col("b.recs").as("rec_b"),
        levenshtein(col("a.name"), col("b.name")).as("lev"),
        size(array_intersect(col("a.toks"), col("b.toks"))).as("s"),
        (size(col("a.toks")) + size(col("b.toks"))).as("tot"),
        greatest(length(col("a.name")), length(col("b.name"))).as("ml"))
      .distinct()
    val jac = col("s").cast("double") / (col("tot") - col("s")).cast("double")
    val score = round(
      lit(0.5) * (lit(1.0) - col("lev").cast("double") / col("ml").cast("double")) +
        lit(0.5) * jac, 6)
    pairs.select(col("name_a"), col("name_b"), col("rec_a"), col("rec_b"),
        col("lev"), round(jac, 6).as("jaccard"), score.as("score"),
        (score >= ErMatchThreshold).cast("int").as("matched"))
      .orderBy(col("score").desc, col("name_a"), col("name_b"))
  }

  val q130Sql: String =
    "WITH dict AS (SELECT p_name AS name, count(*) AS recs FROM part GROUP BY 1), " +
      "tok AS (SELECT name, unnest(list_distinct(string_split(name, ' '))) AS t FROM dict), " +
      "df AS (SELECT t, count(*) AS df FROM tok GROUP BY 1), " +
      "blk AS (SELECT name, t AS b FROM tok JOIN df USING (t) WHERE df <= 10000), " +
      "side AS (SELECT blk.b, dict.name, dict.recs, " +
      "list_distinct(string_split(dict.name, ' ')) AS toks FROM blk JOIN dict USING (name)), " +
      "pairs AS (SELECT DISTINCT a.name AS name_a, b.name AS name_b, " +
      "a.recs AS rec_a, b.recs AS rec_b, " +
      "levenshtein(a.name, b.name) AS lev, " +
      "len(list_filter(a.toks, x -> list_contains(b.toks, x))) AS s, " +
      "len(a.toks) + len(b.toks) AS tot, " +
      "greatest(length(a.name), length(b.name)) AS ml " +
      "FROM side a JOIN side b ON a.b = b.b AND a.name < b.name) " +
      "SELECT name_a, name_b, rec_a, rec_b, lev, " +
      "round(CAST(s AS DOUBLE) / (tot - s), 6) AS jaccard, " +
      "round(CAST(0.5 AS DOUBLE) * (1 - CAST(lev AS DOUBLE) / ml) + " +
      "CAST(0.5 AS DOUBLE) * (CAST(s AS DOUBLE) / (tot - s)), 6) AS score, " +
      "CAST(round(CAST(0.5 AS DOUBLE) * (1 - CAST(lev AS DOUBLE) / ml) + " +
      "CAST(0.5 AS DOUBLE) * (CAST(s AS DOUBLE) / (tot - s)), 6) >= 0.6 AS INTEGER) AS matched " +
      "FROM pairs ORDER BY score DESC, name_a, name_b"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q130_fuzzy_er" -> q130FuzzyEr _,
    "q29_exact_dedup" -> q29ExactDedup _,
    "q30_ngram_jaccard" -> q30NgramJaccard _,
    "q125_prefix_join" -> q125PrefixJoin _,
    "q65_dup_clusters" -> q65DupClusters _,
    "q31_minhash_lsh" -> q31MinhashLsh _,
    "q32_simhash" -> q32Simhash _,
    "q77_dedup_keeplist" -> q77KeepList _,
    "q78_dedup_corpus_lsh" -> q78DedupCorpusLsh _,
    "q80_chunk_dedup" -> q80ChunkDedup _,
    "q110_dup_spans" -> q110DupSpans _,
    "q117_strip_spans" -> q117StripSpans _,
    "q115_quality_keeplist" -> q115QualityKeepList _,
    "q95_leakage_split" -> q95LeakageSplit _,
    "q145_kfold_assign" -> q145KfoldAssign _,
    "q96_heavy_shingles" -> q96HeavyShingles _,
    "q142_mg_heavy_shingles" -> q142MgHeavyShingles _,
    "q104_cluster_sizes" -> q104ClusterSizes _
  )

  val oracle: Map[String, String] = Map(
    "q31_minhash_lsh" -> q31Sql,
    "q78_dedup_corpus_lsh" -> q78Sql,
    "q32_simhash" -> q32Sql,
    "q130_fuzzy_er" -> q130Sql,
    "q29_exact_dedup" -> q29Sql,
    "q30_ngram_jaccard" -> q30Sql,
    // equal to q30 by the prefix-filter theorem; the driver hash-checks it
    "q125_prefix_join" -> q30Sql,
    "q65_dup_clusters" -> q65Sql,
    "q77_dedup_keeplist" -> q77Sql,
    "q80_chunk_dedup" -> q80Sql,
    "q110_dup_spans" -> q110Sql,
    "q117_strip_spans" -> q117Sql,
    "q115_quality_keeplist" -> q115Sql,
    "q95_leakage_split" -> q95Sql,
    "q145_kfold_assign" -> q145Sql,
    "q96_heavy_shingles" -> q96Sql,
    "q104_cluster_sizes" -> q104Sql
  )
}
