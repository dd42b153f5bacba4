package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.dedup.Guards

/** Similarity search over the embeddings table (SURVEY.md §2B extensions):
  * brute-force cosine (exact, oracle-verified) and a random-hyperplane-LSH
  * bucketed variant (the approximate scale path).
  *
  * Cosine arithmetic is written as an explicit elementwise formula —
  * products left-to-right, fold-summed from 0.0, dot/(sqrt(na)*sqrt(nb)) —
  * and the DuckDB oracle mirrors the exact same op order, so the doubles
  * are bit-identical in both engines and threshold/ordering comparisons
  * are stable (no list_cosine_similarity, whose internal op order is
  * unspecified).
  */
object Similarity {

  /** (vec_id, v: array<double>, norm) — float→double upcast is exact.
    * norm = sqrt(v·v) via the native expression: x*x accumulated
    * left-to-right from 0.0, the same op order as
    * `aggregate(v, 0.0, (a,x) => a + x*x)`. */
  def vectors(spark: SparkSession, dir: String): DataFrame = {
    embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))
  }

  /** Native codegen'd dot product (graft.functions.DotProduct) —
    * bit-identical to `aggregate(zip_with(a,b,_*_), 0.0, _+_)` but with no
    * per-pair array allocation, which is what makes the O(n²) all-pairs
    * query (q34) feasible. */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.vecDot(a, b)

  def cosine(av: Column, bv: Column, an: Column, bn: Column): Column =
    dot(av, bv) / (an * bn)

  // DuckDB mirror of the same op order (1-based list indexing).
  private def sqlDot(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, 65), i -> $a[i] * $b[i]), (x, y) -> x + y)"
  private def sqlNorm(a: String): String =
    s"sqrt(list_reduce(list_transform($a, x -> x * x), (x, y) -> x + y))"

  /** Exact top-k neighbors of a query vector (vec_id 0): the query row is
    * broadcast so this is a single scan + TakeOrdered — the correct plan
    * for "one query vs the corpus" at any scale. */
  def q33CosineTopk(spark: SparkSession, dir: String): DataFrame = {
    val vs = vectors(spark, dir)
    val q = vs.filter(col("vec_id") === 0)
      .select(col("v").as("qv"), col("norm").as("qn"))
    vs.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(cosine(col("v"), col("qv"), col("norm"), col("qn")), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(10)
  }

  val q33Sql: String =
    "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
      "q AS (SELECT v AS qv FROM e WHERE vec_id = 0) " +
      s"SELECT e.vec_id, round(${sqlDot("e.v", "qv")} / (${sqlNorm("e.v")} * ${sqlNorm("qv")}), 6) AS sim " +
      "FROM e, q WHERE e.vec_id <> 0 ORDER BY sim DESC, e.vec_id LIMIT 10"

  /** Exact all-pairs near-duplicates by cosine >= 0.45 (embedding-space
    * near-dup dedup). Brute force is O(n²) — correct-baseline only; the
    * LSH variant below is the scale path. The threshold compares the raw
    * (bit-identical) double, rounding only the reported value. */
  def q34EmbeddingNeardup(spark: SparkSession, dir: String): DataFrame = {
    // cached so both self-join branches share one materialization;
    // registered for harness-side unpersist (graft.Caches) since the
    // returned plan still reads it
    val vs = graft.Caches.register(vectors(spark, dir).cache())
    // one vector per embeddings row, so the footer rows decide the guard
    val n = Guards.rowsFor(rowsUpperBound(spark, dir, "embeddings"),
      Guards.baselineCap(spark))(vs.count())
    Guards.exactBaseline(spark, n, "q34 all-pairs cosine",
      scalePath = "q79 (canopy-blocked all-pairs); q35/q55 for top-k")
    vs.as("a").join(vs.as("b"), col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos", cosine(col("a.v"), col("b.v"), col("a.norm"), col("b.norm")))
      .where(col("cos") >= 0.45)
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        round(col("cos"), 6).as("sim"))
      .orderBy(col("id_a"), col("id_b"))
  }

  val q34Sql: String =
    "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings) " +
      s"SELECT a.vec_id AS id_a, b.vec_id AS id_b, round(${sqlDot("a.v", "b.v")} / (${sqlNorm("a.v")} * ${sqlNorm("b.v")}), 6) AS sim " +
      "FROM e a JOIN e b ON a.vec_id < b.vec_id " +
      s"WHERE ${sqlDot("a.v", "b.v")} / (${sqlNorm("a.v")} * ${sqlNorm("b.v")}) >= 0.45 " +
      "ORDER BY id_a, id_b"

  private val NumPlanes = 4

  /** Deterministic random hyperplanes (fixed seed; generated driver-side
    * once, shipped as literals — no per-row RNG). */
  private lazy val planes: Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(12345L)
    Seq.fill(NumPlanes)(Seq.fill(64)(rnd.nextGaussian()))
  }

  def bucketOf(v: Column): Column =
    planes.foldLeft(lit(0L)) { (acc, p) =>
      acc * 2 + when(dot(v, typedLit(p)) > 0.0, 1L).otherwise(0L)
    }

  /** ANN via multi-probe sign-random-projection LSH: 2^4 buckets, probing
    * the query's bucket plus all buckets at Hamming distance 1 (5 of 16 —
    * a ~70% scan reduction). Multi-probe is the standard recall fix for
    * SRP-LSH: a true neighbor at angle θ flips each plane's sign with
    * probability θ/π, so requiring an exact bucket match loses
    * 1-(1-θ/π)^P of neighbors, while Hamming≤1 probing recovers the
    * single-flip mass. At 100 TB the bucket id is the partition key and a
    * query reads P+1 partitions instead of the corpus. Approximate by
    * design → rows-only driver check; DedupSimSpec bounds overlap against
    * q33's exact top-k. */
  def q35AnnLsh(spark: SparkSession, dir: String): DataFrame = {
    val vs = vectors(spark, dir).withColumn("bucket", bucketOf(col("v")))
    val q = vs.filter(col("vec_id") === 0)
      .select(col("v").as("qv"), col("norm").as("qn"), col("bucket").as("qb"))
    vs.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .where(bit_count(col("bucket").bitwiseXOR(col("qb"))) <= 1)
      .select(col("vec_id"),
        round(cosine(col("v"), col("qv"), col("norm"), col("qn")), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(10)
  }

  /** q35 oracle (r9): the four hyperplanes are FIXED seeded doubles, so
    * they interpolate into the SQL as literal lists (shortest-roundtrip
    * decimal strings parse to the identical doubles under correctly-
    * rounded strtod) and DuckDB replays the whole chain — sign buckets,
    * the Hamming<=1 multi-probe, and the exact cosine ranking. Promotes
    * q35 from rows-only to hash-checked. */
  lazy val q35Sql: String = {
    def planeList(p: Seq[Double]): String =
      p.map(_.toString).mkString("([", ", ", "]::DOUBLE[])")
    val bucket = (vcol: String) => planes.zipWithIndex.map { case (p, i) =>
      val w = 1 << (NumPlanes - 1 - i)
      s"(CASE WHEN ${sqlDot(vcol, planeList(p))} > 0.0 THEN $w ELSE 0 END)"
    }.mkString(" + ")
    "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
      s"bu AS (SELECT vec_id, v, ${bucket("v")} AS bucket FROM e), " +
      "q AS (SELECT v AS qv, bucket AS qb FROM bu WHERE vec_id = 0) " +
      s"SELECT vec_id, round(${sqlDot("bu.v", "qv")} / (${sqlNorm("bu.v")} * ${sqlNorm("qv")}), 6) AS sim " +
      "FROM bu, q WHERE vec_id <> 0 AND bit_count(xor(bucket, qb)) <= 1 " +
      "ORDER BY sim DESC, vec_id LIMIT 10"
  }

  /** Shared IVF/canopy coarse quantizer for q55/q79/q98 — a PINNED
    * k-means fit (the r9 verdict's q137-codebook recipe applied to the
    * cell structure): the training sample is the first [[IvfFitSample]]
    * vectors in content-hash-priority order (the q57/q100/q137 idiom —
    * deterministic on any cluster, any partitioning, any rerun), the fit
    * is [[IvfFitRounds]] FIXED rounds of driver-side Lloyd's seeded from
    * the sample's first K points (sequential left-to-right accumulation
    * in sample order — the centroids are a pure function of the data).
    * Because the fit is pinned, the centroids interpolate into the DuckDB
    * oracle as literal double lists (the q35 hyperplane idiom), which
    * promotes all three cell-structured queries from rows-only to
    * hash-checked: the oracle replays assignment, probing, pairing and
    * ranking with IDENTICAL doubles (shortest-roundtrip decimal strings
    * parse back to the same IEEE values under correctly-rounded strtod).
    *
    * At 100 TB the fit cost is unchanged from any production IVF index:
    * one bounded TakeOrdered sample (Faiss trains coarse quantizers on
    * min(n, 256·k) points regardless of corpus size), milliseconds of
    * driver arithmetic, then assignment/search stay fully distributed
    * with the centroid table a broadcast literal. Memoized per dir —
    * the three queries share one fit, like one index serving many
    * queries; q112/q137 fit per-call because nothing else shares them. */
  private val IvfK = 8
  private val IvfProbe = 3      // q55: cells scanned per query
  private val IvfAssign = 3     // q79/q98: cells each vector joins
  private val IvfFitSample = 2048
  private val IvfFitRounds = 20
  private val ivfFits =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Seq[Double]]]()

  /** Fit-interpolated oracle SQL, captured AT QUERY-BUILD TIME keyed by
    * query NAME: when q55 builds over dir D it computes D's fit and
    * immediately binds q55's oracle string to D's centroids. Each
    * query's oracle therefore always describes that query's own LAST
    * build — exactly the result Verify dumped — with no shared
    * last-fit-wins global: interleaving q55(sfA), q98(sfB) can no
    * longer cross-wire q55's oracle to B's fit (the r10 advice/verdict
    * residual). Unbuilt queries yield a deliberately INVALID sentinel
    * (see [[fitOracle]]) so a missing fit fails the driver's DuckDB
    * parse loudly instead of passing as a vacuous 0-row comparison. */
  private val fitOracles =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def fitOracle(name: String): String =
    Option(fitOracles.get(name)).getOrElse(
      s"GRAFT_UNFITTED_ORACLE $name -- the fit-interpolated oracle exists " +
        "only after the query builds in this process; emitting a parse " +
        "error, not a vacuous 0-row query")

  private def ivfCentroids(spark: SparkSession, dir: String): Seq[Seq[Double]] = {
    val fit = ivfFits.computeIfAbsent(dir, _ => {
      val sample: Array[Array[Double]] = vectors(spark, dir)
        .orderBy(md5(concat(col("vec_id").cast("string"), lit("|graft-ivf-1"))).asc,
          col("vec_id").asc)
        .limit(IvfFitSample)
        .select(col("v")).collect().map(_.getSeq[Double](0).toArray)
      require(sample.length >= IvfK, s"corpus smaller than IvfK=$IvfK")
      val dim = sample.head.length
      // deterministic farthest-point init (Gonzalez): the first sample
      // point seeds; each next centroid is the sample point maximizing
      // its distance to the nearest chosen one (ties → first in sample
      // order). Spreads the seeds like k-means++ without RNG — first-K
      // init measured 2/10 q55 overlap vs exact; this init + 6 rounds
      // restores the ML-fit-level cells.
      def d2(a: Array[Double], b: Array[Double]): Double = {
        var d = 0.0; var i = 0
        while (i < dim) { val t = a(i) - b(i); d += t * t; i += 1 }
        d
      }
      val C = new Array[Array[Double]](IvfK)
      C(0) = sample(0).clone
      val minD = sample.map(p => d2(p, C(0)))
      for (j <- 1 until IvfK) {
        var best = 0; var bd = -1.0; var i = 0
        while (i < sample.length) {
          if (minD(i) > bd) { bd = minD(i); best = i }
          i += 1
        }
        C(j) = sample(best).clone
        i = 0
        while (i < sample.length) {
          val d = d2(sample(i), C(j))
          if (d < minD(i)) minD(i) = d
          i += 1
        }
      }
      for (_ <- 1 to IvfFitRounds) {
        val sums = Array.fill(IvfK)(new Array[Double](dim))
        val cnt = new Array[Long](IvfK)
        sample.foreach { p =>
          var best = 0; var bd = Double.MaxValue; var j = 0
          while (j < IvfK) {
            var d = 0.0; var i = 0
            while (i < dim) { val t = p(i) - C(j)(i); d += t * t; i += 1 }
            if (d < bd) { bd = d; best = j }
            j += 1
          }
          cnt(best) += 1
          val acc = sums(best); var i = 0
          while (i < dim) { acc(i) += p(i); i += 1 }
        }
        var j = 0
        while (j < IvfK) {
          if (cnt(j) > 0) {
            var i = 0
            while (i < dim) { C(j)(i) = sums(j)(i) / cnt(j); i += 1 }
          }
          j += 1
        }
      }
      C.map(_.toIndexedSeq).toIndexedSeq
    })
    fit
  }

  /** (d, c)-sorted centroid ranking array: |v−c|² ranks by c²−2·v·c since
    * |v|² is row-constant (the q79/q137 cellRank trick). `[0].c` is the
    * cell assignment; `slice(1, n)` the probe/multi-assign set. Ties in d
    * break toward the smaller cell index on both engines (struct compare
    * is field-order lexicographic in Spark AND DuckDB). */
  private def cellRankCol(cents: Seq[Seq[Double]]): Column =
    array_sort(array(cents.zipWithIndex.map { case (ca, i) =>
      val c2 = ca.map(x => x * x).sum
      struct((lit(c2) - lit(2.0) * dot(col("v"), typedLit(ca))).as("d"),
        lit(i).as("c"))
    }: _*))

  /** DuckDB mirror of [[cellRankCol]] over column `vcol`. */
  private def sqlCellRank(cents: Seq[Seq[Double]], vcol: String): String =
    cents.zipWithIndex.map { case (ca, i) =>
      val c2 = ca.map(x => x * x).sum
      val cl = ca.map(_.toString).mkString("([", ", ", "]::DOUBLE[])")
      s"{'d': $c2 - 2.0 * ${sqlDot(vcol, cl)}, 'c': $i}"
    }.mkString("list_sort([", ", ", "])")

  /** ANN via IVF (inverted-file) search: the pinned k-means fit above
    * partitions the corpus into [[IvfK]] cells; a query scans only its
    * [[IvfProbe]] nearest cells. At 100 TB the cell id becomes the
    * storage partition key, queries read nProbe/K of the data, and the
    * centroid table (K×dim doubles) is a broadcast literal. Hash-checked:
    * the oracle replays assignment + probing + ranking with the centroids
    * as literal lists; DedupSimSpec additionally bounds overlap vs q33's
    * exact top-k. */
  def q55AnnIvf(spark: SparkSession, dir: String): DataFrame = {
    val cents = ivfCentroids(spark, dir)
    fitOracles.put("q55_ann_ivf", q55SqlOf(cents))
    val ranked = vectors(spark, dir).withColumn("rk", cellRankCol(cents))
    val corpus = ranked.select(col("vec_id"), col("v"), col("norm"),
      col("rk").getItem(0).getField("c").as("cell"))
    val q = ranked.filter(col("vec_id") === 0)
      .select(col("v").as("qv"), col("norm").as("qn"),
        transform(slice(col("rk"), 1, IvfProbe), s => s.getField("c")).as("qcells"))
    corpus.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .where(array_contains(col("qcells"), col("cell")))
      .select(col("vec_id"),
        round(cosine(col("v"), col("qv"), col("norm"), col("qn")), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(10)
  }

  def q55Sql: String = fitOracle("q55_ann_ivf")

  /** q227: q55's IVF search over a PERSISTED, change-feed-maintained
    * index ([[AnnIndex]] — r17 verdict item 2). The corpus stages as a
    * merge-on-read graft table whose v1 is missing one slice and
    * carries decoys; the index builds at v1, then a DELETE (decoys)
    * and an append (the missing slice) fold through `refresh` — so the
    * final postings equal the full embeddings corpus and the SAME
    * pinned-fit oracle as q55 replays against the persisted index,
    * byte-identically. Probing reads only the query's nProbe cells'
    * PARTITIONS (the postings table is partitioned by cell);
    * AnnIndexSpec pins delta-proportional refresh and search-equals-
    * q55; recall vs exact is q55's own DedupSimSpec bound, inherited
    * because the two results hash to the same oracle. */
  def q227AnnPersisted(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.RunTag.scratchFresh("q227")
    spark.conf.set("spark.sql.catalog.graftcat",
      classOf[graft.sources.GraftCatalog].getName)
    val cat = "graftcat"
    val base = s"$root/base"
    spark.sql(s"CREATE TABLE $cat.`$base` (vec_id BIGINT, vec STRING) " +
      "USING `graft-jsondoc` TBLPROPERTIES ('write.rowlevel.mode' = 'merge-on-read')")
    val full = vectors(spark, dir).select(col("vec_id"),
      concat_ws(",", transform(col("v"), x => x.cast("string"))).as("vec"))
    full.filter(pmod(col("vec_id"), lit(7)) =!= 3)
      .unionByName(full.filter(pmod(col("vec_id"), lit(11)) === 5)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("vec")))
      .writeTo(s"$cat.`$base`").append() // v1: slice missing, decoys present
    val cents = ivfCentroids(spark, dir)
    AnnIndex.create(spark, cat, s"$root/idx", base, cents)
    spark.sql(s"DELETE FROM $cat.`$base` WHERE vec_id >= 1000000") // v2
    full.filter(pmod(col("vec_id"), lit(7)) === 3)
      .writeTo(s"$cat.`$base`").append() // v3
    AnnIndex.refresh(spark, cat, s"$root/idx")
    fitOracles.put("q227_ann_persisted", q55SqlOf(cents))
    AnnIndex.search(spark, cat, s"$root/idx", queryVecId = 0L,
      nProbe = IvfProbe, k = 10)
  }

  def q227Sql: String = fitOracle("q227_ann_persisted")

  /** q228: q137's PQ chain over PERSISTED codes (r17, [[AnnIndex]] with
    * `pq` codebooks): same staged delete+insert lineage as q227, codes
    * encoded at create/refresh with the FROZEN q137 codebook fit, ADC +
    * shortlist + exact refine over the stored codes — the encode cost
    * is paid at write, never per query. Oracle: q137's, verbatim
    * (the final corpus equals the embeddings table and every fold
    * order matches bit-for-bit through the string roundtrip). */
  def q228AnnPqPersisted(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.RunTag.scratchFresh("q228")
    spark.conf.set("spark.sql.catalog.graftcat",
      classOf[graft.sources.GraftCatalog].getName)
    val cat = "graftcat"
    val base = s"$root/base"
    spark.sql(s"CREATE TABLE $cat.`$base` (vec_id BIGINT, vec STRING) " +
      "USING `graft-jsondoc` TBLPROPERTIES ('write.rowlevel.mode' = 'merge-on-read')")
    val full = vectors(spark, dir).select(col("vec_id"),
      concat_ws(",", transform(col("v"), x => x.cast("string"))).as("vec"))
    full.filter(pmod(col("vec_id"), lit(7)) =!= 3)
      .unionByName(full.filter(pmod(col("vec_id"), lit(11)) === 5)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("vec")))
      .writeTo(s"$cat.`$base`").append() // v1
    val books = pqCodebooks(spark, dir)
    AnnIndex.create(spark, cat, s"$root/idx", base,
      ivfCentroids(spark, dir), pq = Some(books))
    spark.sql(s"DELETE FROM $cat.`$base` WHERE vec_id >= 1000000") // v2
    full.filter(pmod(col("vec_id"), lit(7)) === 3)
      .writeTo(s"$cat.`$base`").append() // v3
    AnnIndex.refresh(spark, cat, s"$root/idx")
    fitOracles.put("q228_ann_pq_persisted", q137SqlOf(books))
    AnnIndex.searchPq(spark, cat, s"$root/idx", queryVecId = 0L,
      shortlist = PqShortlist, k = 10)
  }

  def q228Sql: String = fitOracle("q228_ann_pq_persisted")

  /** q245: ANN SEARCH FOR AN EXTERNAL QUERY VECTOR (r18, verdict item
    * 6 — [[AnnIndex.searchVec]] / `CALL ann_search`): a fresh embedding
    * with NO corpus vec_id searches the persisted IVF index through
    * pure SQL — the vector rides the CALL as comma-separated doubles
    * (Double.toString round-trips exactly through the parse), its
    * nProbe nearest cells resolve driver-side, and the postings scan
    * prunes statically to those cells' partitions. The query vector
    * here is the element-wise mean of corpus vectors 0 and 1 (a
    * deterministic out-of-corpus point); the oracle re-derives the
    * cell ranking AND the cosine top-k from the same literal vector
    * over the raw embeddings — the pinned-fit idiom with the query
    * literal pinned too. */
  def q245AnnSearchVec(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.RunTag.scratchFresh("q245")
    spark.conf.set("spark.sql.catalog.graftcat",
      classOf[graft.sources.GraftCatalog].getName)
    val cat = "graftcat"
    val base = s"$root/base"
    spark.sql(s"CREATE TABLE $cat.`$base` (vec_id BIGINT, vec STRING) " +
      "USING `graft-jsondoc` TBLPROPERTIES ('write.rowlevel.mode' = 'merge-on-read')")
    vectors(spark, dir).select(col("vec_id"),
      concat_ws(",", transform(col("v"), x => x.cast("string"))).as("vec"))
      .writeTo(s"$cat.`$base`").append()
    val cents = ivfCentroids(spark, dir)
    AnnIndex.create(spark, cat, s"$root/idx", base, cents)
    val seeds = vectors(spark, dir).filter(col("vec_id") < 2)
      .orderBy(col("vec_id")).select(col("v")).collect()
      .map(_.getSeq[Double](0).toArray)
    val qv = seeds(0).zip(seeds(1)).map { case (a, b) => (a + b) / 2.0 }
    fitOracles.put("q245_ann_search_vec", q245SqlOf(cents, qv.toSeq))
    spark.sql(s"CALL $cat.ann_search('$root/idx', " +
      s"'${qv.map(_.toString).mkString(",")}', $IvfProbe, 10)")
  }

  def q245Sql: String = fitOracle("q245_ann_search_vec")

  private def q245SqlOf(cents: Seq[Seq[Double]], qv: Seq[Double]): String = {
    val qvLit = qv.map(_.toString).mkString("([", ", ", "]::DOUBLE[])")
    "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
      s"r AS (SELECT vec_id, v, ${sqlCellRank(cents, "v")} AS rk FROM e), " +
      "a AS (SELECT vec_id, v, rk[1].c AS cell FROM r), " +
      s"q AS (SELECT $qvLit AS qv), " +
      s"qr AS (SELECT qv, list_transform(${sqlCellRank(cents, "qv")}[1:$IvfProbe], " +
      "s -> s.c) AS qcells FROM q) " +
      s"SELECT a.vec_id, round(${sqlDot("a.v", "qv")} / " +
      s"(${sqlNorm("a.v")} * ${sqlNorm("qv")}), 6) AS sim " +
      "FROM a, qr WHERE list_contains(qcells, a.cell) " +
      "ORDER BY sim DESC, a.vec_id LIMIT 10"
  }

  private def q55SqlOf(cents: Seq[Seq[Double]]): String =
      "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
        s"r AS (SELECT vec_id, v, ${sqlCellRank(cents, "v")} AS rk FROM e), " +
        "a AS (SELECT vec_id, v, rk[1].c AS cell FROM r), " +
        s"q AS (SELECT v AS qv, list_transform(rk[1:$IvfProbe], s -> s.c) AS qcells " +
        "FROM r WHERE vec_id = 0) " +
        s"SELECT a.vec_id, round(${sqlDot("a.v", "qv")} / (${sqlNorm("a.v")} * ${sqlNorm("qv")}), 6) AS sim " +
        "FROM a, q WHERE a.vec_id <> 0 AND list_contains(qcells, a.cell) " +
        "ORDER BY sim DESC, a.vec_id LIMIT 10"

  /** All-pairs embedding near-dup at SCALE — the bucketed replacement
    * for q34's guarded O(n²) self-join, the same role q31 plays for
    * q30 on the text side. Canopy blocking (McCallum/Nigam/Ungar 2000,
    * the classic distributed-dedup pre-clustering) realized as k-means
    * cells with MULTI-ASSIGNMENT (IVF-style): every vector joins its
    * `nAssign` nearest cells, candidate pairs form only inside a shared
    * cell, and every candidate is re-verified with the same
    * bit-identical cosine as q34 — precision is exact by construction,
    * recall is bounded in DedupSimSpec. Multi-assignment closes the
    * boundary hole of single-cell blocking (a near-dup pair straddling
    * a cell border still shares its second-nearest cell).
    *
    * Why not SRP banding here: at this operating threshold (0.45 ≈ 63°)
    * the angle gap to random pairs (~90°) is too narrow for sign-LSH
    * amplification to prune without losing recall; cell blocking keys
    * on the data's own cluster structure instead. Scale shape: expected
    * candidate work is n²·nAssign²/K, cells are the storage partition
    * key at 100 TB (the candidate join is cell-local), the centroid
    * table (K×dim doubles) is a broadcast literal, and K grows with the
    * corpus. The pinned fit (see [[ivfCentroids]]) makes the whole chain
    * oracle-replayable: q79 is hash-checked, not merely recall-bounded.
    *
    * UNSORTED — shared by q79 (which adds the oracle-determinism sort)
    * and any cluster chain over embedding pairs (where a global pair
    * sort would be a dead range-exchange), mirroring the
    * jaccardPairs/q30 and minhashLshPairs/q31 splits. */
  def embedNeardupPairs(spark: SparkSession, dir: String): DataFrame = {
    // IvfAssign = 3 of 8 cells per vector: measured pair recall vs q34
    // at sf0.1 is 0.82 at nAssign=2 and >= 0.99 at 3 — boundary pairs in
    // this corpus need the third cell; candidate work stays ~(3/8)²·n²
    val cents = ivfCentroids(spark, dir)
    val vs = graft.Caches.register(vectors(spark, dir).cache())
    val cellsOf = transform(slice(cellRankCol(cents), 1, IvfAssign), s => s.getField("c"))
    val e = vs.select(col("vec_id"), explode(cellsOf).as("cell"))
    val cands = e.as("a").join(e.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .distinct()
    val side = vs.select(col("vec_id"), col("v"), col("norm"))
    cands
      .join(side.select(col("vec_id").as("id_a"), col("v").as("va"), col("norm").as("na")), "id_a")
      .join(side.select(col("vec_id").as("id_b"), col("v").as("vb"), col("norm").as("nb")), "id_b")
      .withColumn("cos", cosine(col("va"), col("vb"), col("na"), col("nb")))
      .where(col("cos") >= 0.45)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("sim"))
  }

  def q79EmbedNeardupBlocked(spark: SparkSession, dir: String): DataFrame = {
    // re-resolving the memoized per-dir fit here (free) binds q79's
    // oracle to ITS OWN dir at build time — see [[fitOracles]]
    fitOracles.put("q79_embed_neardup_blocked", q79SqlOf(ivfCentroids(spark, dir)))
    embedNeardupPairs(spark, dir).orderBy(col("id_a"), col("id_b"))
  }

  /** Shared oracle CTE chain for q79/q98: multi-assign cells from the
    * pinned centroids, candidate pairs inside shared cells, exact-cosine
    * verification — the literal replay of [[embedNeardupPairs]]. Ends at
    * `dup(id_a, id_b)`. */
  private def sqlEmbedPairCtes(cents: Seq[Seq[Double]]): String =
    "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
      s"r AS (SELECT vec_id, v, ${sqlCellRank(cents, "v")} AS rk FROM e), " +
      s"asg AS (SELECT vec_id, unnest(list_transform(rk[1:$IvfAssign], s -> s.c)) AS cell FROM r), " +
      "cand AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b " +
      "FROM asg x JOIN asg y ON x.cell = y.cell AND x.vec_id < y.vec_id), " +
      s"n AS (SELECT vec_id, v, ${sqlNorm("v")} AS nrm FROM e), " +
      "scored AS (SELECT id_a, id_b, " +
      s"${sqlDot("va.v", "vb.v")} / (va.nrm * vb.nrm) AS cos " +
      "FROM cand JOIN n va ON cand.id_a = va.vec_id JOIN n vb ON cand.id_b = vb.vec_id), " +
      "dup AS (SELECT id_a, id_b, cos FROM scored WHERE cos >= 0.45)"

  def q79Sql: String = fitOracle("q79_embed_neardup_blocked")

  private def q79SqlOf(cents: Seq[Seq[Double]]): String =
    s"WITH ${sqlEmbedPairCtes(cents)} " +
      "SELECT id_a, id_b, round(cos, 6) AS sim FROM dup ORDER BY id_a, id_b"

  /** q98 oracle: the q79 pair chain feeding the q65-style recursive-CTE
    * connected components (min-label canonicalization — identical to what
    * starContractClusters converges to), then the anti-join survivor set. */
  def q98Sql: String = fitOracle("q98_semantic_prune")

  private def q98SqlOf(cents: Seq[Seq[Double]]): String =
      s"WITH RECURSIVE ${sqlEmbedPairCtes(cents)}, " +
        "edges AS (SELECT id_a AS u, id_b AS v FROM dup " +
        "UNION ALL SELECT id_b AS u, id_a AS v FROM dup), " +
        "reach(u, v) AS (SELECT DISTINCT u, u AS v FROM edges " +
        "UNION SELECT e2.u, rr.v FROM edges e2 JOIN reach rr ON e2.v = rr.u), " +
        "clus AS (SELECT u AS vid, min(v) AS cluster_id FROM reach GROUP BY u) " +
        "SELECT em.vec_id FROM embeddings em WHERE NOT EXISTS " +
        "(SELECT 1 FROM clus c WHERE c.vid = em.vec_id AND c.vid <> c.cluster_id) " +
        "ORDER BY em.vec_id"

  /** Blocked fuzzy string matching (entity resolution): probe names —
    * each a deterministic transposition of a sampled part name — are
    * matched back against the catalog by edit distance. The scale
    * pattern is block-then-verify: candidates must share a cheap
    * blocking key (first char + length, both invariant under the
    * perturbation), so levenshtein runs on block-mates only, never all
    * n×m pairs; the tiny probe side broadcasts. Same shape at 100 TB
    * with phonetic/q-gram blocking keys. */
  def q71FuzzyMatch(spark: SparkSession, dir: String): DataFrame = {
    val p = part(spark, dir).select(col("p_partkey"), col("p_name"))
    val probes = p.filter(pmod(col("p_partkey"), lit(97)) === 0)
      .select(col("p_partkey").as("probe_key"),
        concat(substring(col("p_name"), 1, 1), substring(col("p_name"), 3, 1),
          substring(col("p_name"), 2, 1), substring(col("p_name"), 4, 1000)).as("q_name"))
    def blk(c: Column): Column = concat(substring(c, 1, 1), length(c).cast("string"))
    val bp = p.withColumn("blk", blk(col("p_name")))
    val bq = probes.withColumn("blk", blk(col("q_name")))
    broadcast(bq).join(bp, "blk")
      .where(levenshtein(col("q_name"), col("p_name")) <= 2)
      .select(col("probe_key"), col("p_partkey").as("match_key"),
        levenshtein(col("q_name"), col("p_name")).cast("long").as("dist"))
      .orderBy(col("probe_key"), col("match_key"))
  }

  val q71Sql: String =
    "WITH probes AS (SELECT p_partkey AS probe_key, " +
      "substr(p_name,1,1) || substr(p_name,3,1) || substr(p_name,2,1) || substr(p_name,4,1000) AS q_name " +
      "FROM part WHERE p_partkey % 97 = 0), " +
      "bp AS (SELECT p_partkey, p_name, substr(p_name,1,1) || CAST(length(p_name) AS VARCHAR) AS blk FROM part), " +
      "bq AS (SELECT probe_key, q_name, substr(q_name,1,1) || CAST(length(q_name) AS VARCHAR) AS blk FROM probes) " +
      "SELECT probe_key, p_partkey AS match_key, CAST(levenshtein(q_name, p_name) AS BIGINT) AS dist " +
      "FROM bq JOIN bp USING (blk) WHERE levenshtein(q_name, p_name) <= 2 " +
      "ORDER BY probe_key, match_key"

  /** Int8-quantized similarity search: per-vector symmetric quantization
    * (scale = 127/max|x|, round-to-nearest) and an all-INTEGER dot
    * product, dequantized back to an approximate cosine only for the
    * final ranking. This is the memory/bandwidth scale path for ANN at
    * 100 TB: int8 vectors are 4× smaller than float32 (so 4× more corpus
    * per executor-RAM byte), the hot inner loop is integer multiply-add,
    * and the per-vector `amax` is the only float carried alongside.
    * Composes with q35/q55: quantize WITHIN buckets/cells and the probe
    * set shrinks 4× again.
    *
    * Everything here is oracle-EXACT, not just bounded: round-to-nearest
    * on the same IEEE product agrees between engines (both round doubles
    * half-away-from-zero), and the integer dot has no float path at all,
    * so the driver hash-checks the quantized scores — the accuracy-vs-q33
    * bound lives in DedupSimSpec on top. */
  def q86QuantizedAnn(spark: SparkSession, dir: String): DataFrame = {
    val vs = vectors(spark, dir)
      // max over |x| is order-independent (no NaN in the corpus), so
      // array_max is safe where a float SUM would not be. Zero vectors
      // would make scale undefined — excluded up front on both engines
      // (none exist in this corpus; the filter is the guard, not a fixup).
      .withColumn("amax", array_max(transform(col("v"), x => abs(x))))
      .where(col("amax") > 0.0)
      .withColumn("qv", transform(col("v"),
        x => round(x * lit(127.0) / col("amax")).cast("int")))
    val q = vs.filter(col("vec_id") === 0)
      .select(col("qv").as("qq"), col("amax").as("qamax"), col("norm").as("qnorm"))
    vs.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .withColumn("qdot", aggregate(zip_with(col("qv"), col("qq"), (a, b) => a * b),
        lit(0L), (acc, x) => acc + x))
      // dequantize: qdot·(amax_a/127)·(amax_q/127), then /norms → approx
      // cosine; multiplication order mirrored exactly in the oracle
      .withColumn("sim_q", round(col("qdot").cast("double") * col("amax") * col("qamax") /
        (lit(16129.0) * col("norm") * col("qnorm")), 6))
      .select(col("vec_id"), col("qdot"), col("sim_q"))
      .orderBy(col("sim_q").desc, col("vec_id"))
      .limit(10)
  }

  val q86Sql: String = {
    val qvec = "list_transform(v, x -> CAST(round(x * 127.0 / amax) AS INTEGER))"
    "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
      "m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS amax FROM e), " +
      s"qz AS (SELECT vec_id, v, amax, $qvec AS qv FROM m WHERE amax > 0.0), " +
      s"q AS (SELECT qv AS qq, amax AS qamax, ${sqlNorm("v")} AS qnorm FROM qz WHERE vec_id = 0) " +
      "SELECT vec_id, CAST(list_reduce(list_transform(range(1, 65), i -> CAST(qv[i] AS BIGINT) * qq[i]), (x, y) -> x + y) AS BIGINT) AS qdot, " +
      "round(CAST(list_reduce(list_transform(range(1, 65), i -> CAST(qv[i] AS BIGINT) * qq[i]), (x, y) -> x + y) AS DOUBLE) " +
      s"* amax * qamax / (16129.0 * ${sqlNorm("v")} * qnorm), 6) AS sim_q " +
      "FROM qz, q WHERE vec_id <> 0 ORDER BY sim_q DESC, vec_id LIMIT 10"
  }

  private val PqM = 8         // subspaces
  private val PqSubDim = 8    // dims per subspace (8 x 8 = 64)
  private val PqK = 16        // centroids per subspace codebook
  // ADC candidates kept for exact re-rank. Sized by measurement, not
  // guess (PERF.md "r9: PQ recall measured"): a FIXED 50-candidate shortlist held
  // recall@10 at 8/10 on 500-5k vectors but collapsed to 3/10 at 50k —
  // a growing corpus packs more quantization-noise impostors above the
  // true neighbors, so the shortlist must grow to keep the impostor
  // head covered. 256 measures 10/10 at 500 and 5k vectors and 9/10 at
  // 50k (PERF.md "PQ recall"); the refine pass stays a broadcast of R
  // rows either way, so the extra candidates cost nothing material next
  // to the ADC scan.
  private val PqShortlist = 256

  /** q137: product-quantization ANN with exact re-rank (Jégou/Douze/
    * Schmid 2011; the shortlist-then-refine shape production PQ indexes
    * ship): split each L2-normalized embedding into [[PqM]] subvectors,
    * vector-quantize each against a per-subspace [[PqK]]-centroid
    * codebook, score the corpus by asymmetric distance computation (ADC
    * — the query stays exact, a corpus vector is M table lookups),
    * shortlist the top-[[PqShortlist]], then re-rank the shortlist with
    * the exact cosine. Completes the ANN family's resource ladder: q35
    * SRP-LSH prunes CANDIDATES, q55 IVF prunes PARTITIONS, q86 int8
    * cuts bandwidth 4×, PQ cuts corpus memory 32× (8 byte-codes vs 256
    * bytes of floats) — the regime where the index must fit in RAM at
    * 100 TB; the full vectors are touched only for the shortlist-row
    * shortlist.
    *
    * Plan shape: codebook TRAINING runs on a bounded deterministic
    * sample (content-hash-priority TakeOrdered, 2048 vectors — exactly
    * how production PQ indexes train: Faiss fits codebooks in memory on
    * ~min(n, 256·k) points regardless of corpus size) with M seeded
    * local Lloyd's fits on the driver — milliseconds, corpus-size-
    * independent, and replacing what was 8 sequential distributed
    * KMeans jobs (measured 19 s → ~3 s at sf0.1 for identical recall).
    * Everything CORPUS-scale stays distributed: encoding is MAP-SIDE —
    * codebooks ride in as literals, argmin is array_min over a
    * 16-struct ranking array (the q79 cellRank idiom; struct (d, c) min
    * breaks distance ties toward the smaller code), no shuffle; ADC is
    * element_at per subspace into the broadcast query's lookup arrays,
    * again map-side; the shortlist is a TakeOrdered(PqShortlist) whose result
    * BROADCASTS back onto the cached vector table for the exact re-rank
    * — so the full-precision data is read corpus-wide exactly once (to
    * encode) and the refine join moves [[PqShortlist]] rows. The pinned
    * fit makes the chain oracle-replayable: [[q137Sql]] interpolates the
    * codebooks as literals and replays encode + ADC + shortlist +
    * re-rank, so the row is hash-checked; DedupSimSpec additionally
    * bounds top-k overlap vs exact q33, pins that re-ranked scores
    * equal the exact cosine, and pins rerun determinism. */
  private val pqFits =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Seq[Seq[Double]]]]()

  /** The q137 PQ codebook fit, memoized per dir (r17: the persisted
    * index q228 shares one fit with q137, like one index serving many
    * queries — the ivfFits recipe). Deterministic: content-hash-priority
    * sample, seeded shuffled init, 20 fixed Lloyd's rounds. */
  private[sim] def pqCodebooks(spark: SparkSession,
      dir: String): Seq[Seq[Seq[Double]]] =
    pqFits.computeIfAbsent(dir, _ => {
      // training sample: first 2048 unit vectors in content-hash order
      // (the q57/q100 priority idiom) — deterministic on any cluster,
      // any partitioning, any rerun; ~1 MB on the driver
      val sample: Array[Array[Double]] = vectors(spark, dir)
        .select(col("vec_id"), transform(col("v"), x => x / col("norm")).as("u"))
        .orderBy(md5(concat(col("vec_id").cast("string"), lit("|graft-pq-1"))).asc,
          col("vec_id").asc)
        .limit(2048).collect().map(_.getSeq[Double](1).toArray)
      def fitCodebook(s: Int): Seq[Seq[Double]] = {
        val pts = sample.map(_.slice(s * PqSubDim, (s + 1) * PqSubDim))
        val rnd = new scala.util.Random(42L + s)
        val init = rnd.shuffle(pts.indices.toList).take(PqK)
        val C = init.map(i => pts(i).clone).toArray
        for (_ <- 1 to 20) {
          val sums = Array.fill(PqK)(new Array[Double](PqSubDim))
          val cnt = new Array[Long](PqK)
          pts.foreach { p =>
            var best = 0; var bd = Double.MaxValue
            var j = 0
            while (j < PqK) {
              var d = 0.0; var i = 0
              while (i < PqSubDim) { val t = p(i) - C(j)(i); d += t * t; i += 1 }
              if (d < bd) { bd = d; best = j }
              j += 1
            }
            cnt(best) += 1
            val acc = sums(best); var i = 0
            while (i < PqSubDim) { acc(i) += p(i); i += 1 }
          }
          var j = 0
          while (j < PqK) {
            if (cnt(j) > 0) {
              var i = 0
              while (i < PqSubDim) { C(j)(i) = sums(j)(i) / cnt(j); i += 1 }
            }
            j += 1
          }
        }
        C.map(_.toIndexedSeq).toIndexedSeq
      }
      (0 until PqM).map(fitCodebook)
    })

  def q137AnnPq(spark: SparkSession, dir: String): DataFrame = {
    val vs = graft.Caches.register(vectors(spark, dir)
      .select(col("vec_id"), transform(col("v"), x => x / col("norm")).as("u"))
      .cache())
    def sub(c: Column, s: Int): Column = slice(c, s * PqSubDim + 1, PqSubDim)
    val codebooks: Seq[Seq[Seq[Double]]] = pqCodebooks(spark, dir)
    fitOracles.put("q137_ann_pq", q137SqlOf(codebooks))
    // encode: argmin_c |u_s - c|² ranks by (|c|² - 2·u_s·c) since |u_s|²
    // is row-constant (the q79 cellRank trick)
    def codeCol(s: Int): Column = {
      val rank = array(codebooks(s).zipWithIndex.map { case (c, i) =>
        val c2 = c.map(x => x * x).sum
        struct((lit(c2) - lit(2.0) * dot(sub(col("u"), s), typedLit(c))).as("d"),
          lit(i).as("c"))
      }: _*)
      array_min(rank).getField("c")
    }
    val codes = vs.select(
      col("vec_id") +: (0 until PqM).map(s => codeCol(s).as(s"c$s")): _*)
    val q = vs.filter(col("vec_id") === 0).select(col("u").as("qu"))
    // ADC: per subspace, the query-vs-codebook dot products form a
    // 16-entry lookup array; a corpus vector's approximate cosine is the
    // sum of its codes' entries
    def lut(s: Int): Column = array(codebooks(s).map(c =>
      dot(sub(col("qu"), s), typedLit(c))): _*)
    val adc = (0 until PqM).map(s => element_at(lut(s), col(s"c$s") + 1)).reduce(_ + _)
    val shortlist = codes.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), round(adc, 6).as("sim_adc"))
      .orderBy(col("sim_adc").desc, col("vec_id"))
      .limit(PqShortlist)
    // refine: exact cosine on the shortlist rows only (u are unit
    // vectors, so the dot IS the cosine)
    vs.join(broadcast(shortlist), "vec_id")
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("sim_adc"),
        round(dot(col("u"), col("qu")), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(10)
  }

  /** DuckDB replay of the q137 PQ chain with the fitted codebooks as
    * literal double lists (the q55 centroid idiom lifted to M codebooks):
    * unit-normalize, encode each subvector by struct-sorted argmin
    * against its literal codebook (the cellRank trick per subspace),
    * ADC-score by LUT indexing, shortlist top-[[PqShortlist]] by
    * (rounded ADC, vec_id), exact-cosine re-rank. Every fold order
    * mirrors the Spark plan (range-indexed list_reduce = vec_dot's
    * left-to-right accumulation; `+`-chained ADC = the left-assoc
    * `reduce(_ + _)`), so both engines compare identical IEEE doubles. */
  def q137Sql: String = fitOracle("q137_ann_pq")

  private def q137SqlOf(cbs: Seq[Seq[Seq[Double]]]): String = {
      def dot8(a: String, b: String): String =
        s"list_reduce(list_transform(range(1, ${PqSubDim + 1}), i -> $a[i] * $b[i]), (x, y) -> x + y)"
      def cl(c: Seq[Double]): String = c.map(_.toString).mkString("([", ", ", "]::DOUBLE[])")
      val subDefs = (0 until PqM)
        .map(s => s"u[${s * PqSubDim + 1}:${(s + 1) * PqSubDim}] AS s$s").mkString(", ")
      def rank(s: Int): String = cbs(s).zipWithIndex.map { case (c, j) =>
        val c2 = c.map(x => x * x).sum
        s"{'d': $c2 - 2.0 * ${dot8(s"s$s", cl(c))}, 'c': $j}"
      }.mkString("list_sort([", ", ", s"])[1].c AS c$s")
      val codeDefs = (0 until PqM).map(rank).mkString(", ")
      val lutDefs = (0 until PqM)
        .map(s => cbs(s).map(c => dot8(s"s$s", cl(c))).mkString("[", ", ", s"] AS lut$s"))
        .mkString(", ")
      val adc = (0 until PqM).map(s => s"lut$s[c$s + 1]").mkString(" + ")
      "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
        s"nn AS (SELECT vec_id, v, ${sqlNorm("v")} AS nrm FROM e), " +
        "uu AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS u FROM nn), " +
        s"su AS (SELECT vec_id, u, $subDefs FROM uu), " +
        s"co AS (SELECT vec_id, $codeDefs FROM su), " +
        s"q AS (SELECT u AS qu, $lutDefs FROM su WHERE vec_id = 0), " +
        s"sh AS (SELECT co.vec_id, round($adc, 6) AS sim_adc FROM co, q " +
        s"WHERE co.vec_id <> 0 ORDER BY sim_adc DESC, co.vec_id LIMIT $PqShortlist) " +
        s"SELECT sh.vec_id, sim_adc, round(${sqlDot("uu.u", "qu")}, 6) AS sim " +
        "FROM sh JOIN uu ON uu.vec_id = sh.vec_id CROSS JOIN q " +
        "ORDER BY sim DESC, sh.vec_id LIMIT 10"
  }

  /** q98: SemDeDup-style semantic corpus prune (public method — Abbas et
    * al., "SemDeDup: Data-efficient learning at web-scale through
    * semantic deduplication", arXiv:2303.09540): embeddings whose cosine
    * clears the near-dup threshold are redundant training signal; keep
    * one representative per semantic-duplicate GROUP. Composition of two
    * proven pieces — the cell-blocked pair generator above (k-means
    * cells = SemDeDup's clusters; pairs never cross cells except via
    * multi-assignment, so candidate work is cell-local) and the
    * modality-agnostic keep-list chain (dedup/Dedup.dedupedCorpus:
    * components → min-id keeper → anti-join). Emits the surviving
    * embedding ids (one `vec_id` column — callers needing the keeper
    * mapping use `keepList` directly). The pinned fit makes the chain
    * oracle-replayable end-to-end (pair CTEs + recursive-CTE components
    * + NOT EXISTS anti-join); DedupSimSpec additionally bounds it
    * against the exact-pair-fed twin. */
  def q98SemanticPrune(spark: SparkSession, dir: String): DataFrame = {
    fitOracles.put("q98_semantic_prune", q98SqlOf(ivfCentroids(spark, dir)))
    val kept = graft.dedup.Dedup.dedupedCorpus(
      vectors(spark, dir).select(col("vec_id").as("doc_id")),
      embedNeardupPairs(spark, dir).select(col("id_a"), col("id_b")),
      graft.dedup.Dedup.starContractClusters(_))
    kept.select(col("doc_id").as("vec_id")).orderBy(col("vec_id"))
  }

  /** q112: greedy farthest-point (k-center) diversity selection — the
    * coreset-style curation op that picks the K most mutually-distant
    * embeddings (Gonzalez 1985 2-approximation of the k-center
    * objective; the "maximize coverage, minimize redundancy" subset a
    * data-curation pass wants where SemDeDup only REMOVES redundancy).
    * Deterministic: seed = min vec_id, then K-1 rounds of
    * argmax-of-min-cosine-distance with (distance DESC, vec_id) total
    * order; no RNG anywhere, so the DuckDB recursive-CTE oracle replays
    * the exact selection.
    *
    * Scale shape: each round is ONE map-only pass — the selected
    * centers ride into the plan as broadcast-sized array literals, the
    * per-row work is `least()` over native codegen'd vec_dot terms, and
    * the argmax is a TakeOrdered(1). K driver-coordinated rounds total
    * (like any sequential greedy fit — the q98 k-means precedent), zero
    * shuffles, O(K²·n) dot products. Distances round(.,6) per the
    * round-tie policy so the argmax compares identical values on both
    * engines (cosine values are irrational-ish; the fold order of
    * vec_dot is mirrored by the oracle's list_reduce). */
  def q112DiversityKCenter(spark: SparkSession, dir: String): DataFrame = {
    val K = 16
    val vs = vectors(spark, dir).cache()
    try {
      val seed = vs.orderBy(col("vec_id")).limit(1)
        .select(col("vec_id"), col("v"), col("norm")).head()
      // (vec_id, vector literal, norm, radius-at-selection)
      var centers = Vector[(Long, Seq[Double], Double, Option[Double])](
        (seed.getLong(0), seed.getSeq[Double](1), seed.getDouble(2), None))
      var exhausted = false
      while (centers.size < K && !exhausted) {
        val mindist = centers
          .map { case (_, cv, cn, _) =>
            round(lit(1.0) - cosine(col("v"), typedLit(cv), col("norm"), lit(cn)), 6) }
          .reduce(least(_, _))
        val next = vs
          .where(!col("vec_id").isInCollection(centers.map(_._1)))
          .select(col("vec_id"), col("v"), col("norm"), mindist.as("md"))
          .orderBy(col("md").desc, col("vec_id").asc)
          .limit(1).collect()
        // corpus smaller than K: stop with n picks, as the oracle's
        // recursive CTE does when its LATERAL argmax finds no candidate
        if (next.isEmpty) exhausted = true
        else {
          val n = next.head
          centers = centers :+
            ((n.getLong(0), n.getSeq[Double](1), n.getDouble(2), Some(n.getDouble(3))))
        }
      }
      import org.apache.spark.sql.types._
      val rows = centers.zipWithIndex.map { case ((id, _, _, r), i) =>
        org.apache.spark.sql.Row(i + 1L, id, r.map(Double.box).orNull)
      }
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1),
        StructType(Seq(
          StructField("rank", LongType, nullable = false),
          StructField("vec_id", LongType, nullable = false),
          StructField("radius", DoubleType, nullable = true))))
        .orderBy(col("rank"))
    } finally { vs.unpersist(); () }
  }

  val q112Sql: String = {
    val dxc = sqlDot("x.v", "c.v")
    "WITH RECURSIVE en AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, " +
      s"${sqlNorm("CAST(embedding AS DOUBLE[])")} AS nrm FROM embeddings), " +
      "sel(rank, ids, radius) AS (" +
      "SELECT 1, [(SELECT min(vec_id) FROM en)], CAST(NULL AS DOUBLE) " +
      "UNION ALL " +
      "SELECT sel.rank + 1, list_append(sel.ids, nxt.nv), nxt.nd " +
      "FROM sel, LATERAL (" +
      s"SELECT x.vec_id AS nv, min(round(1.0 - $dxc / (x.nrm * c.nrm), 6)) AS nd " +
      "FROM en x, en c " +
      "WHERE list_contains(sel.ids, c.vec_id) AND NOT list_contains(sel.ids, x.vec_id) " +
      "GROUP BY x.vec_id ORDER BY nd DESC, x.vec_id LIMIT 1) nxt " +
      "WHERE sel.rank < 16) " +
      "SELECT CAST(rank AS BIGINT) AS rank, ids[rank] AS vec_id, radius " +
      "FROM sel ORDER BY rank"
  }

  /** q138: hard-negative mining for contrastive/embedding training
    * (Karpukhin et al. 2020 DPR-style): for each anchor in a query
    * batch, the top-k most-similar corpus vectors that carry a
    * DIFFERENT label — the near-misses a contrastive loss learns most
    * from (random negatives are trivially separable; same-label hits
    * are positives, not negatives). Anchors = vec_id 0-4, k = 5.
    *
    * Plan shape: the 5-anchor batch BROADCASTS (a real mining pass
    * batches thousands of anchors — still a broadcast next to the
    * corpus); the corpus side is ONE scan scoring each vector against
    * every anchor map-side (BroadcastNestedLoopJoin + codegen'd
    * vec_dot), the label-mismatch filter cuts before any shuffle, and
    * per-anchor top-5 is one window partitioned by anchor (parallelism
    * = |anchors|, exactly how a mining job scales out). Deterministic:
    * ranking sorts the 6-decimal-rounded sim then vec_id (q101
    * policy), so the DuckDB oracle replays the selection exactly. */
  def q138HardNegatives(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // one scan carrying the label along — joining a second embeddings
    // read back by vec_id would shuffle the corpus for a column the
    // scan already has
    val vs = graft.Caches.register(embeddings(spark, dir)
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))
      .cache())
    val anchors = vs.filter(col("vec_id") <= 4)
      .select(col("vec_id").as("anchor_id"), col("v").as("av"),
        col("norm").as("an"), col("label").as("alabel"))
    val w = Window.partitionBy(col("anchor_id"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    vs.crossJoin(broadcast(anchors))
      .where(col("label") =!= col("alabel"))
      .select(col("anchor_id"), col("vec_id"), col("label"),
        round(cosine(col("v"), col("av"), col("norm"), col("an")), 6).as("sim"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= 5)
      .orderBy(col("anchor_id"), col("rk"))
  }

  val q138Sql: String =
    "WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v, " +
      s"${sqlNorm("CAST(embedding AS DOUBLE[])")} AS nrm FROM embeddings), " +
      "a AS (SELECT vec_id AS anchor_id, label AS alabel, v AS av, nrm AS an " +
      "FROM e WHERE vec_id <= 4), " +
      "scored AS (SELECT anchor_id, e.vec_id, e.label, " +
      s"round(${sqlDot("e.v", "av")} / (e.nrm * an), 6) AS sim " +
      "FROM e CROSS JOIN a WHERE e.label <> alabel) " +
      "SELECT anchor_id, vec_id, label, sim, rk FROM (" +
      "SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id ORDER BY sim DESC, vec_id) AS rk " +
      "FROM scored) WHERE rk <= 5 ORDER BY anchor_id, rk"

  /** q144: embedding-cluster QA profile — per label: size, centroid
    * norm, mean cosine of members to their centroid (cohesion), and the
    * nearest OTHER label's centroid with its cosine (separation margin).
    * The cluster-structure audit a curation pipeline runs before
    * trusting label- or cluster-keyed ops (q98 SemDeDup cells, q112
    * coverage, q138 negatives): low cohesion or a high nearest-other
    * cosine means the "clusters" won't carry the downstream assumption.
    *
    * Scale shape: centroids via DIMENSION-WISE aggregation — posexplode
    * to (label, dim, value), one partial-agged groupBy(label, dim), and
    * per-label reassembly by sort_array(collect_list) of 64 structs —
    * the standard distributed mean-vector plan (never a driver-side
    * vector sum); the |labels|-row centroid table then broadcasts back
    * for the cohesion pass (one corpus scan) and self-cross-joins
    * (|labels|² = 100 rows) for margins. Determinism: per-dim avg and
    * the cohesion mean accumulate in engine-specific order → every
    * emitted float rounds to 6 decimals and the margin argmax compares
    * ROUNDED cosines with a label tiebreak (the q126 policy), so the
    * DuckDB oracle replays it exactly. */
  def q144LabelCentroids(spark: SparkSession, dir: String): DataFrame = {
    val vs = graft.Caches.register(embeddings(spark, dir)
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("v"))
      .cache())
    val cent = vs
      .select(col("label"), posexplode(col("v")).as(Seq("i", "x")))
      .groupBy(col("label"), col("i")).agg(avg(col("x")).as("c"))
      .groupBy(col("label"))
      .agg(transform(sort_array(collect_list(struct(col("i"), col("c")))),
        s => s.getField("c")).as("cv"))
    val cnorm = sqrt(dot(col("cv"), col("cv")))
    val cohesion = vs.join(broadcast(cent), "label")
      .select(col("label"),
        (dot(col("v"), col("cv")) / (sqrt(dot(col("v"), col("v"))) * cnorm)).as("cos"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"), round(avg(col("cos")), 6).as("mean_cos"))
    val a = cent.select(col("label"), col("cv"))
    val b = cent.select(col("label").as("olabel"), col("cv").as("ov"))
    val ccos = round(dot(col("cv"), col("ov")) /
      (cnorm * sqrt(dot(col("ov"), col("ov")))), 6)
    val margins = a.crossJoin(broadcast(b))
      .where(col("label") =!= col("olabel"))
      .select(col("label"), col("olabel"), ccos.as("ccos"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("label"))
          .orderBy(col("ccos").desc, col("olabel").asc)))
      .where(col("rk") === 1)
      .select(col("label"), col("olabel").as("nearest_label"), col("ccos").as("nearest_cos"))
    cohesion
      .join(broadcast(cent.select(col("label"), round(cnorm, 6).as("centroid_norm"))), "label")
      .join(broadcast(margins), "label")
      .select(col("label"), col("n_vecs"), col("centroid_norm"),
        col("mean_cos"), col("nearest_label"), col("nearest_cos"))
      .orderBy(col("label"))
  }

  val q144Sql: String =
    "WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
      "d AS (SELECT label, (p).i AS i, (p).x AS x FROM " +
      "(SELECT label, unnest(list_transform(range(1, 65), i -> {'i': i, 'x': v[i]})) AS p FROM e)), " +
      "c AS (SELECT label, list(c ORDER BY i) AS cv FROM " +
      "(SELECT label, i, avg(x) AS c FROM d GROUP BY 1, 2) GROUP BY label), " +
      s"coh AS (SELECT e.label, count(*) AS n_vecs, round(avg(${sqlDot("e.v", "cv")} / " +
      s"(${sqlNorm("e.v")} * ${sqlNorm("cv")})), 6) AS mean_cos " +
      "FROM e JOIN c USING (label) GROUP BY e.label), " +
      s"m AS (SELECT label, nearest_label, nearest_cos FROM (" +
      "SELECT a.label, b.label AS nearest_label, " +
      s"round(${sqlDot("a.cv", "b.cv")} / (${sqlNorm("a.cv")} * ${sqlNorm("b.cv")}), 6) AS nearest_cos, " +
      s"ROW_NUMBER() OVER (PARTITION BY a.label ORDER BY round(${sqlDot("a.cv", "b.cv")} / " +
      s"(${sqlNorm("a.cv")} * ${sqlNorm("b.cv")}), 6) DESC, b.label) AS rk " +
      "FROM c a JOIN c b ON a.label <> b.label) WHERE rk = 1) " +
      s"SELECT label, n_vecs, round(${sqlNorm("cv")}, 6) AS centroid_norm, mean_cos, " +
      "nearest_label, nearest_cos " +
      "FROM coh JOIN c USING (label) JOIN m USING (label) ORDER BY label"

  /** q149: MMR (maximal marginal relevance, Carbonell & Goldstein 1998)
    * diversified re-ranking — the standard diversity pass a RAG/search
    * stack runs AFTER retrieval: from the top-20 exact-cosine
    * candidates of query vec 0, greedily pick 5 where pick k maximizes
    * λ·sim(q,d) − (1−λ)·max_{s∈picked} sim(d,s) at λ = 0.5 (rank 1 is
    * pure relevance). Completes the retrieval family: q33/q35/q55/q86/
    * q137 rank by RELEVANCE alone and return near-duplicates of each
    * other when the corpus has them; MMR is the query-time counterpart
    * of the corpus-side SemDeDup/k-center passes (q98/q112).
    *
    * Plan shape: candidate generation is the q33 scan + TakeOrdered —
    * distributed, corpus-scale; the greedy loop then runs DRIVER-SIDE
    * on the retrieved shortlist, which is driver-sized BY CONSTRUCTION
    * (a reranker's input is the retrieved page, the q137-codebook-fit
    * precedent). Determinism: unit vectors and all dots use the
    * project's bit-identical left-to-right fold, selection compares
    * 6-decimal-rounded scores with a vec_id tie-break, so the DuckDB
    * recursive-CTE oracle (the q112 idiom) replays every pick
    * exactly. */
  def q149MmrRerank(spark: SparkSession, dir: String): DataFrame = {
    val MmrLambda = 0.5
    val vs = vectors(spark, dir)
    val uq = vs.filter(col("vec_id") === 0)
      .select(transform(col("v"), x => x / col("norm")).as("qu"))
    val cands: Array[(Long, Array[Double], Double)] =
      vs.filter(col("vec_id") =!= 0)
        .select(col("vec_id"), transform(col("v"), x => x / col("norm")).as("u"))
        .crossJoin(broadcast(uq))
        .withColumn("simq", dot(col("u"), col("qu")))
        .select(col("vec_id"), col("u"), col("simq"))
        .orderBy(round(col("simq"), 6).desc, col("vec_id").asc)
        .limit(20)
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
    // driver-side mirrors of the engine arithmetic: fold-from-0.0 dot
    // (sqlDot/vecDot op order) and HALF_UP 6-decimal rounding (round())
    def ddot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val first = cands.minBy { case (id, _, simq) => (-r6(simq), id) }
    var picked = Vector((first._1, first._2, r6(first._3), r6(first._3)))
    for (_ <- 2 to 5) {
      val ids = picked.map(_._1).toSet
      val next = cands.filter(c => !ids.contains(c._1))
        .map { case (id, u, simq) =>
          val maxSim = picked.map(p => ddot(u, p._2)).max
          (id, u, r6(simq), r6(MmrLambda * simq - (1.0 - MmrLambda) * maxSim))
        }
        .minBy { case (id, _, _, score) => (-score, id) }
      picked :+= next
    }
    val spark2 = spark
    import spark2.implicits._
    picked.zipWithIndex
      .map { case ((id, _, sim, score), i) => (i + 1L, id, sim, score) }
      .toDF("rank", "vec_id", "sim", "score")
      .orderBy(col("rank"))
  }

  val q149Sql: String = {
    val dq = sqlDot("cu.uv", "qu")
    // pairwise sims land in their own CTE: DuckDB lambdas (inside
    // sqlDot) cannot capture columns correlated from an OUTER query, so
    // the max-over-picked lookup must join a materialized pair table
    // rather than compute the dot in a correlated subquery
    val dab = sqlDot("a.uv", "b.uv")
    "WITH RECURSIVE en AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
      s"un AS (SELECT vec_id, list_transform(v, el -> el / ${sqlNorm("v")}) AS uv FROM en), " +
      "qv AS (SELECT uv AS qu FROM un WHERE vec_id = 0), " +
      s"c AS (SELECT cu.vec_id, cu.uv, $dq AS simq FROM un cu, qv WHERE cu.vec_id <> 0 " +
      s"ORDER BY round($dq, 6) DESC, cu.vec_id LIMIT 20), " +
      s"p AS (SELECT a.vec_id AS ia, b.vec_id AS ib, $dab AS s " +
      "FROM c a, c b WHERE a.vec_id <> b.vec_id), " +
      "sel(rank, ids, vid, sim, score) AS (" +
      "SELECT 1, [f.vec_id], f.vec_id, round(f.simq, 6), round(f.simq, 6) FROM " +
      "(SELECT vec_id, simq FROM c ORDER BY round(simq, 6) DESC, vec_id LIMIT 1) f " +
      "UNION ALL " +
      "SELECT sel.rank + 1, list_append(sel.ids, nxt.nv), nxt.nv, nxt.s6, nxt.sc " +
      "FROM sel, LATERAL (" +
      "SELECT cx.vec_id AS nv, round(cx.simq, 6) AS s6, " +
      "round(0.5 * cx.simq - 0.5 * (SELECT max(p.s) FROM p " +
      "WHERE p.ia = cx.vec_id AND list_contains(sel.ids, p.ib)), 6) AS sc " +
      "FROM c cx WHERE NOT list_contains(sel.ids, cx.vec_id) " +
      "ORDER BY sc DESC, cx.vec_id LIMIT 1) nxt " +
      "WHERE sel.rank < 5) " +
      "SELECT CAST(rank AS BIGINT) AS rank, vid AS vec_id, sim, score " +
      "FROM sel ORDER BY rank"
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q149_mmr_rerank" -> q149MmrRerank _,
    "q144_label_centroids" -> q144LabelCentroids _,
    "q138_hard_negatives" -> q138HardNegatives _,
    "q98_semantic_prune" -> q98SemanticPrune _,
    "q112_diversity_kcenter" -> q112DiversityKCenter _,
    "q33_cosine_topk" -> q33CosineTopk _,
    "q34_embedding_neardup" -> q34EmbeddingNeardup _,
    "q35_ann_lsh" -> q35AnnLsh _,
    "q55_ann_ivf" -> q55AnnIvf _,
    "q227_ann_persisted" -> q227AnnPersisted _,
    "q228_ann_pq_persisted" -> q228AnnPqPersisted _,
    "q245_ann_search_vec" -> q245AnnSearchVec _,
    "q71_fuzzy_match" -> q71FuzzyMatch _,
    "q79_embed_neardup_blocked" -> q79EmbedNeardupBlocked _,
    "q86_quantized_ann" -> q86QuantizedAnn _,
    "q137_ann_pq" -> q137AnnPq _
  )

  /** A `def`, not a `val`: the q55/q79/q98/q137 oracles interpolate the
    * pinned fits, which exist only after the corresponding query has
    * BUILT (Verify dumps oracle SQL after running the board, so they're
    * always bound by then). Each entry reads the [[fitOracles]]
    * per-name capture — the oracle always matches that query's own
    * last build, independent of what other fit queries ran since; an
    * unbuilt query emits a parse-error sentinel, never a vacuous
    * 0-row query. */
  def oracle: Map[String, String] = Map(
    "q55_ann_ivf" -> q55Sql,
    "q227_ann_persisted" -> q227Sql,
    "q228_ann_pq_persisted" -> q228Sql,
    "q245_ann_search_vec" -> q245Sql,
    "q137_ann_pq" -> q137Sql,
    "q79_embed_neardup_blocked" -> q79Sql,
    "q98_semantic_prune" -> q98Sql,
    "q35_ann_lsh" -> q35Sql,
    "q149_mmr_rerank" -> q149Sql,
    "q144_label_centroids" -> q144Sql,
    "q138_hard_negatives" -> q138Sql,
    "q112_diversity_kcenter" -> q112Sql,
    "q33_cosine_topk" -> q33Sql,
    "q34_embedding_neardup" -> q34Sql,
    "q71_fuzzy_match" -> q71Sql,
    "q86_quantized_ann" -> q86Sql
  )
}
