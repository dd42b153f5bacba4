package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.FeedIndex

import scala.jdk.CollectionConverters._

/** PERSISTED ANN INDEX maintained from the change feed (r17, verdict
  * item 2): q55's IVF postings as a TABLE instead of a per-query fit —
  * the Faiss/Milvus deployment shape, where the index outlives any one
  * query and a repeated probe never re-pays assignment of the corpus.
  * Layout, create, watermark and refresh frame are [[FeedIndex]]'s;
  * this object supplies the postings and the delta.
  *
  * Layout under one index root:
  *   - `_ann_index.json` — the pinned coarse-quantizer centroids
  *     (literal doubles, the q55 oracle-interpolation contract), the
  *     optional PQ codebooks, the base table path and the create-time
  *     base version, written once at create. The only fold watermark is
  *     the postings table's transaction ledger.
  *   - `postings/` — a graft-jsondoc table `(cell BIGINT, vec_id
  *     BIGINT, vec STRING)` PARTITIONED BY cell: probing nProbe of K
  *     cells plans only those partitions' files, which is the entire
  *     point of IVF at 100 TB. Vectors ride as comma-joined doubles —
  *     `Double.toString` is shortest-roundtrip and string→double casts
  *     are correctly rounded on both engines, so the round trip is
  *     BIT-EXACT and the q55 oracle replays against the indexed corpus
  *     unchanged.
  *
  * `refresh` folds the base's feed `(last, head]`: per vec_id the
  * LATEST action wins (insert outranks delete within one commit — a
  * MERGE's DV-delete + re-insert is a net upsert, the q206 replay
  * rule), cells re-assign with the FROZEN centroids, and one MERGE
  * applies deletes/upserts — cost O(|delta|), never O(index). The
  * centroids deliberately never refit on refresh: Faiss' contract too
  * (a drifted corpus wants a rebuilt index, not a silently morphing
  * one; `CALL ann_state` reports the base head against the fold
  * watermark). A merge-on-read base keeps the delta row-level; a
  * copy-on-write base's rewrites surface untouched rows as
  * delete+insert pairs that fold as no-op upserts (correct, just more
  * rows — the same trade the MV layer documents). */
object AnnIndex {
  val DefName = "_ann_index.json"
  private val index = new FeedIndex(DefName, "graft-ann", "ann index")
  def postingsPath(indexRoot: String): String = index.postingsPath(indexRoot)

  /** `pq`: optional product-quantization codebooks (M subspaces × K
    * centroids × subDim doubles, the q137 fit) — when present, every
    * posting also carries its M comma-joined byte codes, encoded with
    * these FROZEN codebooks at create and at every refresh, and
    * [[searchPq]] runs the ADC + shortlist + exact-refine chain over
    * the persisted codes. */
  final case class IndexDef(basePath: String, centroids: Seq[Seq[Double]],
      pq: Option[Seq[Seq[Seq[Double]]]] = None)

  def readDef(indexRoot: String): IndexDef = {
    val root = index.readDef(indexRoot)
    def doubles(n: com.fasterxml.jackson.databind.JsonNode) =
      n.elements().asScala.map(_.asDouble()).toIndexedSeq
    IndexDef(
      basePath = root.get("basePath").asText(),
      centroids = root.get("centroids").elements().asScala.map(doubles).toIndexedSeq,
      pq = Option(root.get("pq")).map(_.elements().asScala.map(b =>
        b.elements().asScala.map(doubles).toIndexedSeq).toIndexedSeq))
  }

  /** Stage the parsed (and, with PQ, unit-normalized) vector as REAL
    * columns before the cell/code expressions reference them: the
    * ranking arrays reference the vector 100+ times, and CollapseProject
    * would otherwise inline the 64-element parse (and a per-element
    * norm recompute) into every use — measured as the difference
    * between a 2 s and a 50 s index build at sf0.1. Materialization
    * preserves bit-identity: same expressions, evaluated once. */
  private def withParsed(df: DataFrame, needUnit: Boolean): DataFrame = {
    val parsed = df.withColumn("__v",
      transform(split(col("vec"), ","), x => x.cast("double")))
    if (!needUnit) parsed
    else parsed
      .withColumn("__n",
        sqrt(graft.functions.VectorFunctions.vecDot(col("__v"), col("__v"))))
      .withColumn("__u", transform(col("__v"), x => x / col("__n")))
  }

  /** The q55 cell ranking over the staged `__v` column. */
  private def cellOf(cents: Seq[Seq[Double]]): org.apache.spark.sql.Column =
    array_sort(array(cents.zipWithIndex.map { case (ca, i) =>
      val c2 = ca.map(x => x * x).sum
      struct((lit(c2) - lit(2.0) * graft.functions.VectorFunctions
        .vecDot(col("__v"), typedLit(ca))).as("d"), lit(i).as("c"))
    }: _*)).getItem(0).getField("c").cast("long")

  /** Comma-joined PQ codes over the staged `__u` column — the q137
    * encode (per-subspace argmin via struct-min ranking, ties toward
    * the smaller code). Each subspace ranks its codebook with one
    * `transform` over a literal array of `(|c|², c)`, with `|c|²`
    * summed on the driver exactly as q137 sums it: the same doubles as
    * one unrolled struct per code, in a projection small enough for
    * whole-stage codegen to compile (8 × 16 unrolled `vec_dot` structs
    * grew its method past the JVM's 64 KB limit). */
  private def codeOf(books: Seq[Seq[Seq[Double]]]): org.apache.spark.sql.Column = {
    val subDim = books.head.head.length
    val codes = books.zipWithIndex.map { case (book, s) =>
      val us = slice(col("__u"), s * subDim + 1, subDim)
      val ranked = typedLit(book.map(c => (c.map(x => x * x).sum, c)))
      array_min(transform(ranked, (c, j) =>
        struct((c("_1") - lit(2.0) * graft.functions.VectorFunctions
          .vecDot(us, c("_2"))).as("d"), j.as("c")))).getField("c").cast("string")
    }
    concat_ws(",", codes: _*)
  }

  /** Fit a coarse quantizer from the BASE TABLE itself (r17 — the SQL
    * surface's entry: `CALL create_ann(root, base, k)` has no Scala
    * centroids to hand in): the q55 recipe verbatim — a
    * content-hash-priority sample of 2048 vectors (deterministic on any
    * cluster/partitioning/rerun), Gonzalez farthest-point seeding, 20
    * fixed Lloyd's rounds on the driver. Corpus-size-independent, like
    * every production IVF train step. */
  def fit(spark: SparkSession, cat: String, basePath: String,
      k: Int): Seq[Seq[Double]] = {
    val sample: Array[Array[Double]] = withParsed(
      spark.sql(s"SELECT vec_id, vec FROM $cat.`$basePath`"), needUnit = false)
      .orderBy(md5(concat(col("vec_id").cast("string"), lit("|graft-ann-fit-1"))).asc,
        col("vec_id").asc)
      .limit(2048)
      .select(col("__v")).collect().map(_.getSeq[Double](0).toArray)
    require(sample.length >= k,
      s"ann index: the base holds ${sample.length} vectors — fewer than k = $k cells")
    val dim = sample.head.length
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var i = 0
      while (i < dim) { val t = a(i) - b(i); d += t * t; i += 1 }
      d
    }
    val C = new Array[Array[Double]](k)
    C(0) = sample(0).clone
    val minD = sample.map(p => d2(p, C(0)))
    for (j <- 1 until k) {
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
    for (_ <- 1 to 20) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val cnt = new Array[Long](k)
      sample.foreach { p =>
        var best = 0; var bd = Double.MaxValue; var j = 0
        while (j < k) {
          val d = d2(p, C(j))
          if (d < bd) { bd = d; best = j }
          j += 1
        }
        cnt(best) += 1
        val acc = sums(best); var i = 0
        while (i < dim) { acc(i) += p(i); i += 1 }
      }
      var j = 0
      while (j < k) {
        if (cnt(j) > 0) {
          var i = 0
          while (i < dim) { C(j)(i) = sums(j)(i) / cnt(j); i += 1 }
        }
        j += 1
      }
    }
    C.map(_.toIndexedSeq).toIndexedSeq
  }

  /** Build the index at the base's current head (pinned read — racing
    * commits fold on the next refresh) and return that version. `base`
    * must be a graft-jsondoc table `(vec_id BIGINT, vec STRING)`. */
  def create(spark: SparkSession, cat: String, indexRoot: String,
      basePath: String, centroids: Seq[Seq[Double]],
      pq: Option[Seq[Seq[Seq[Double]]]] = None): Int = {
    def fields(root: com.fasterxml.jackson.databind.node.ObjectNode): Unit = {
      val cs = root.putArray("centroids")
      centroids.foreach { c => val a = cs.addArray(); c.foreach(a.add); () }
      pq.foreach { books =>
        val ps = root.putArray("pq")
        books.foreach { book =>
          val b = ps.addArray()
          book.foreach { c => val a = b.addArray(); c.foreach(a.add); () }
        }
      }
    }
    index.create(spark, cat, indexRoot, basePath,
      "cell BIGINT, vec_id BIGINT, vec STRING, code STRING", "cell", fields) { base =>
      withParsed(base.select(col("vec_id"), col("vec")), needUnit = pq.isDefined)
        .withColumn("cell", cellOf(centroids))
        .withColumn("code", pq.map(codeOf).getOrElse(lit("")))
        .select(col("cell"), col("vec_id"), col("vec"), col("code"))
    }
  }

  /** CONTINUOUS refresh (r18): the base's change-feed signal stream
    * ([[FeedIndex.signals]]) drives [[refresh]] per commit. Returns the
    * started query (caller stops it). */
  def autoRefresh(spark: SparkSession, cat: String, indexRoot: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    index.autoRefresh(spark, indexRoot, checkpoint) {
      refresh(spark, cat, indexRoot)
      ()
    }

  /** The index's staleness triple: (base path, last folded version,
    * base head). */
  def stateOf(indexRoot: String): (String, Int, Int) = index.stateOf(indexRoot)

  /** Fold base changes `(last, head]` into the postings. Returns the
    * folded (from, to); from > to = already current. */
  def refresh(spark: SparkSession, cat: String, indexRoot: String): (Int, Int) = {
    val d = readDef(indexRoot)
    index.refresh(spark, cat, indexRoot, d.basePath,
      """ON t.vec_id = d.vec_id
        |WHEN MATCHED AND d.act = 'delete' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET cell = d.cell, vec = d.vec, code = d.code
        |WHEN NOT MATCHED AND d.act = 'insert' THEN
        |  INSERT (cell, vec_id, vec, code) VALUES (d.cell, d.vec_id, d.vec, d.code)""".stripMargin) {
      // net action per key: latest commit wins; insert outranks delete
      // within a commit (a DV-delete + re-insert is an upsert)
      _.withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("vec_id"))
            .orderBy(col("_commit_version").desc,
              when(col("_change_type") === "insert", 0).otherwise(1))))
        .where(col("rn") === 1)
        .select(col("vec_id"), col("vec"), col("_change_type").as("act"))
        .transform(withParsed(_, needUnit = d.pq.isDefined))
        .withColumn("cell", when(col("act") === "insert", cellOf(d.centroids)))
        .withColumn("code", when(col("act") === "insert",
          d.pq.map(codeOf).getOrElse(lit(""))))
        .select(col("vec_id"), col("vec"), col("act"), col("cell"), col("code"))
    }
  }

  /** PQ search over the PERSISTED codes (the q137 ADC chain with the
    * encode already paid at write time — the whole point of storing
    * codes): driver-side LUTs from the query's unit vector against the
    * frozen codebooks (M×K dot products), ADC = M lookups per posting
    * (the full vectors stay untouched), shortlist top-`shortlist` by
    * (rounded ADC, vec_id), exact-cosine refine on the shortlist rows
    * only, top-`k`. */
  def searchPq(spark: SparkSession, cat: String, indexRoot: String,
      queryVecId: Long, shortlist: Int, k: Int): DataFrame = {
    val d = readDef(indexRoot)
    val books = d.pq.getOrElse(throw new IllegalStateException(
      s"ann index $indexRoot carries no PQ codebooks — create(pq = Some(...))"))
    val subDim = books.head.head.length
    val postings = postingsPath(indexRoot)
    val qRow = spark.sql(
      s"SELECT vec FROM $cat.`$postings` WHERE vec_id = $queryVecId").collect()
    require(qRow.nonEmpty, s"ann index: no vector with vec_id = $queryVecId")
    val qv = qRow(0).getString(0).split(',').map(_.toDouble)
    // left-to-right accumulation everywhere: bit-identical to vec_dot
    var qn2 = 0.0
    qv.foreach(x => qn2 += x * x)
    val qn = math.sqrt(qn2)
    val qu = qv.map(_ / qn)
    val luts: Seq[Seq[Double]] = books.zipWithIndex.map { case (book, s) =>
      book.map { c =>
        var acc = 0.0; var i = 0
        while (i < subDim) { acc += qu(s * subDim + i) * c(i); i += 1 }
        acc
      }
    }
    val rows = spark.sql(s"SELECT vec_id, vec, code FROM $cat.`$postings`")
      .where(col("vec_id") =!= queryVecId)
      .withColumn("codes", transform(split(col("code"), ","), x => x.cast("int")))
    val adc = luts.zipWithIndex.map { case (lut, s) =>
      element_at(typedLit(lut), element_at(col("codes"), s + 1) + 1)
    }.reduce(_ + _)
    val short = rows.select(col("vec_id"), round(adc, 6).as("sim_adc"))
      .orderBy(col("sim_adc").desc, col("vec_id"))
      .limit(shortlist)
    withParsed(rows.join(broadcast(short), "vec_id"), needUnit = true)
      .select(col("vec_id"), col("sim_adc"),
        round(graft.functions.VectorFunctions.vecDot(col("__u"), typedLit(qu.toSeq)), 6)
          .as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Top-k cosine search over the PERSISTED index: the query vector's
    * nProbe nearest cells are computed driver-side (K×dim arithmetic on
    * one row), then the postings scan filters `cell IN (...)` — a
    * STATIC partition prune, reading nProbe/K of the index. */
  def search(spark: SparkSession, cat: String, indexRoot: String,
      queryVecId: Long, nProbe: Int, k: Int): DataFrame = {
    val postings = postingsPath(indexRoot)
    val qRow = spark.sql(s"SELECT vec FROM $cat.`$postings` WHERE vec_id = $queryVecId")
      .collect()
    require(qRow.nonEmpty, s"ann index: no vector with vec_id = $queryVecId")
    val qv = qRow(0).getString(0).split(',').map(_.toDouble)
    searchVec0(spark, cat, indexRoot, qv.toSeq, nProbe, k,
      exclude = Some(queryVecId))
  }

  /** The EXTERNAL-vector form (r18, verdict item 6): search a fresh
    * embedding that has no corpus vec_id — the SQL surface is
    * `CALL ann_search('<root>', 'x1,x2,...', nProbe, k)`. Same
    * driver-side cell ranking and static partition prune; no
    * self-exclusion (the query is not a corpus row). */
  def searchVec(spark: SparkSession, cat: String, indexRoot: String,
      qv: Seq[Double], nProbe: Int, k: Int): DataFrame =
    searchVec0(spark, cat, indexRoot, qv, nProbe, k, exclude = None)

  private def searchVec0(spark: SparkSession, cat: String, indexRoot: String,
      qv: Seq[Double], nProbe: Int, k: Int, exclude: Option[Long]): DataFrame = {
    val d = readDef(indexRoot)
    require(qv.nonEmpty && d.centroids.head.length == qv.length,
      s"ann index: the query vector has ${qv.length} dims, the index " +
        s"${d.centroids.head.length}")
    val postings = postingsPath(indexRoot)
    val parse = (c: org.apache.spark.sql.Column) =>
      transform(split(c, ","), x => x.cast("double"))
    val qn = math.sqrt(qv.map(x => x * x).sum)
    // the same c²−2·v·c ranking, driver-side on the single query row
    val qcells = d.centroids.zipWithIndex.map { case (ca, i) =>
      val c2 = ca.map(x => x * x).sum
      val dd = c2 - 2.0 * ca.zip(qv).map { case (a, b) => a * b }.sum
      (dd, i)
    }.sorted.take(nProbe).map(_._2.toLong)
    val scan = spark.sql(s"SELECT cell, vec_id, vec FROM $cat.`$postings`")
      .where(col("cell").isin(qcells: _*))
    exclude.map(id => scan.where(col("vec_id") =!= id)).getOrElse(scan)
      .withColumn("v", parse(col("vec")))
      .withColumn("norm", sqrt(graft.functions.VectorFunctions.vecDot(col("v"), col("v"))))
      .select(col("vec_id"),
        round(graft.functions.VectorFunctions.vecDot(col("v"), typedLit(qv)) /
          (col("norm") * lit(qn)), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
  }
}
