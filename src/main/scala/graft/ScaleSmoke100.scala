package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Second-decade scale stress: the provably-LINEAR chains at 100×
  * (500k docs), run manually, results recorded in PERF.md:
  *
  *   sbt "runMain graft.ScaleSmoke100 /root/testdata/sf0.1 /tmp/graft_scale100x"
  *
  * [[ScaleSmoke]] pushes one decade (10×) with the protective machinery
  * engaged; one decade is where n·log n drifts HIDE — a log₂ factor
  * grows only ~1.2× across it, indistinguishable from noise inside a
  * 25× envelope. Two decades is where they show: a chain that is
  * secretly n·√n costs 31.6× per decade and escapes any linear
  * envelope by the second one. So this tool times the chains whose
  * 100 TB posture rests on "provably linear, one token/window shuffle"
  * — q80 chunk dedup, q110 dup spans, q117 strip spans, q135 Gopher
  * gates, q139 balanced oversample — at BOTH 10× and 100× of the same
  * padded corpus scheme, asserting the second decade's growth ratio
  * stays inside the same generous envelope as the first, plus one LSH
  * ingest sweep at 10× the batch size (50k docs/batch: per-batch cost
  * must stay flat while the store grows to 500k docs).
  *
  * The corpus generalizes [[ScaleSmoke.corpus10x]] to n reps with a
  * ZERO-PADDED rep prefix (`v07token`): fixed-width prefixes keep rep
  * vocab spaces disjoint at any rep count (single-digit prefixes would
  * alias rep 2 + digit-led tokens with rep 2x: "v2"+"3abc" = "v23"+
  * "abc"). Structure: rep 0 originals, rep 1 exact copies (one planted
  * near-dup pair per base doc), reps 2..n−1 disjoint-vocab novels;
  * even doc_ids get the shared boilerplate tail, so the hot-shingle
  * protections see ~n/2·5000 occurrences — 25× past the cap at 100×. */
object ScaleSmoke100 {

  /** Shared builder — see [[ScaleSmoke.corpusNx]] (one copy of the
    * scheme; width-2 prefixes cover up to 100 reps). */
  def corpusNx(base: DataFrame, n: Int): DataFrame =
    ScaleSmoke.corpusNx(base, n, padWidth = 2)

  def main(args: Array[String]): Unit = {
    val baseDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outRoot = if (args.length > 1) args(1) else "/tmp/graft_scale100x"
    val spark = Harness.session(defaultCpus = 32)
    val json = new StringBuilder("{")
    try {
      val base = spark.read.parquet(s"$baseDir/documents.parquet")
      val nBase = base.count()
      // both decades from the SAME padded scheme so the 10×→100× ratio
      // compares like with like (ScaleSmoke's single-digit 10× corpus
      // has slightly different shingle statistics)
      val dir10 = s"$outRoot/p10"
      val dir100 = s"$outRoot/p100"
      corpusNx(base, 10).repartition(32)
        .write.mode("overwrite").parquet(s"$dir10/documents.parquet")
      corpusNx(base, 100).repartition(64)
        .write.mode("overwrite").parquet(s"$dir100/documents.parquet")
      val n10 = spark.read.parquet(s"$dir10/documents.parquet").count()
      val n100 = spark.read.parquet(s"$dir100/documents.parquet").count()
      assert(n10 == 10 * nBase && n100 == 100 * nBase,
        s"corpus build broken: $n10 / $n100 docs from $nBase base")
      json.append(s""""n_docs_10x":$n10,"n_docs_100x":$n100,""")

      // one decade of growth inside the same generous envelope the 10×
      // tool uses: linear lands near 10×, n·√n at ~31.6×, n² at ~100×
      def decadeEnvelope(what: String, t10: Double, t100: Double): Unit =
        assert(t100 <= math.max(25.0 * t10, t10 + 120.0),
          f"$what: $t100%.1f s at 100x vs $t10%.1f s at 10x — superlinear growth across the second decade")

      def decade(what: String, q: (SparkSession, String) => DataFrame)
          (structure: (Long, Long) => Unit): Unit = {
        // run the 10x leg once untimed first: JIT/codegen/footer-cache
        // costs land on the warmup, so the ratio columns compare
        // steady-state to steady-state (r10 tables occasionally showed
        // 100x FASTER than 10x purely from warmup order)
        q(spark, dir10).count(); Caches.drain()
        val t0a = System.nanoTime()
        val c10 = q(spark, dir10).count()
        val t10 = (System.nanoTime() - t0a) / 1e9
        json.append(f""""${what}_10x":$t10%.2f,""")
        System.err.println(f"[scale-100x] ${what}_10x: $t10%.2f s")
        Caches.drain()
        val t0 = System.nanoTime()
        val c100 = q(spark, dir100).count()
        val t100 = (System.nanoTime() - t0) / 1e9
        json.append(f""""${what}_100x":$t100%.2f,""")
        json.append(s""""${what}_rows_10x":$c10,"${what}_rows_100x":$c100,""")
        System.err.println(f"[scale-100x] ${what}_100x: $t100%.2f s ($c10 -> $c100 rows)")
        structure(c10, c100)
        decadeEnvelope(what, t10, t100)
        Caches.drain()
      }

      // q80 chunk dedup: one row per doc at any scale; the keep-list
      // actually engages (rep-1 exact copies lose their chunks)
      decade("q80_chunk_dedup", dedup.Dedup.q80ChunkDedup) { (c10, c100) =>
        assert(c10 == n10 && c100 == n100,
          s"q80 must emit one row per doc: $c10/$n10, $c100/$n100")
      }
      // q110 dup spans: rep0/rep1 planted duplicates guarantee spans at
      // every scale; window-hash COUNT + interval merge keeps output
      // linear in the planted structure (not candidate-pair quadratic)
      decade("q110_dup_spans", dedup.Dedup.q110DupSpans) { (c10, c100) =>
        assert(c100 >= nBase,
          s"q110: planted rep0/rep1 duplicate spans missing at 100x ($c100 < $nBase)")
        assert(c100 <= 25L * c10,
          s"q110: span rows blew up $c10 -> $c100 across one decade")
      }
      // q117 strip spans: exactly one row per doc
      decade("q117_strip_spans", dedup.Dedup.q117StripSpans) { (c10, c100) =>
        assert(c10 == n10 && c100 == n100,
          s"q117 must emit one row per doc: $c10/$n10, $c100/$n100")
      }
      // q135 Gopher gates: one profile row per doc with words
      decade("q135_gopher_rules", text.TextAnalysis.q135GopherRules) { (c10, c100) =>
        assert(c100 >= 99L * c10 / 10L && c100 <= 11L * c10,
          s"q135: profile rows $c10 -> $c100 not ~10x across the decade")
      }
      // q139 balanced oversample: per-lang targets scale with the max
      // class, so output rows scale ~linearly in corpus size
      decade("q139_balanced_oversample", ops.DataPrep.q139BalancedOversample) { (c10, c100) =>
        assert(c100 >= 5L * c10 && c100 <= 25L * c10,
          s"q139: oversampled rows $c10 -> $c100 not ~10x across the decade")
      }
      // q159 RAG chunking: map-side only — chunk rows track the token
      // volume exactly (~10x per decade, >= 1 chunk per doc)
      decade("q159_rag_chunks", ops.DataPrep.q159RagChunks) { (c10, c100) =>
        assert(c10 >= n10 && c100 >= n100,
          s"q159: fewer chunks than docs ($c10/$n10, $c100/$n100)")
        assert(c100 >= 5L * c10 && c100 <= 25L * c10,
          s"q159: chunk rows $c10 -> $c100 not ~10x across the decade")
      }

      // ---- optional THIRD decade (5M docs, ~1.5 GB text): pass
      // "--decade3" as the 3rd arg. Three decades span 1000× — a chain
      // that is secretly n^1.5 costs 31.6× per decade and cannot hide
      // across all three. Only the provably-token-linear chains run
      // (the LSH/ingest family's third decade is a compute budget, not
      // a correctness question).
      if (args.length > 2 && args(2) == "--decade3") {
        val dir1000 = s"$outRoot/p1000"
        ScaleSmoke.corpusNx(base, 1000, padWidth = 3).repartition(128)
          .write.mode("overwrite").parquet(s"$dir1000/documents.parquet")
        val n1000 = spark.read.parquet(s"$dir1000/documents.parquet").count()
        assert(n1000 == 1000 * nBase, s"3rd-decade corpus broken: $n1000 docs")
        json.append(s""""n_docs_1000x":$n1000,""")
        def decade3(what: String, q: (SparkSession, String) => DataFrame)
            (structure: (Long, Long) => Unit): Unit = {
          // same warmup policy as `decade`: the timed 100x baseline runs
          // second so the 1000x ratio is steady-state over steady-state
          q(spark, dir100).count(); Caches.drain()
          val t0a = System.nanoTime()
          val c100 = q(spark, dir100).count()
          val tA = (System.nanoTime() - t0a) / 1e9
          Caches.drain()
          val t0b = System.nanoTime()
          val c1000 = q(spark, dir1000).count()
          val tB = (System.nanoTime() - t0b) / 1e9
          json.append(f""""${what}_100x_d3":$tA%.2f,"${what}_1000x":$tB%.2f,""")
          json.append(s""""${what}_rows_1000x":$c1000,""")
          System.err.println(f"[scale-100x] ${what}_1000x: $tA%.2f s -> $tB%.2f s ($c100 -> $c1000 rows)")
          structure(c100, c1000)
          assert(tB <= math.max(25.0 * tA, tA + 240.0),
            f"$what: $tB%.1f s at 1000x vs $tA%.1f s at 100x — superlinear growth in the third decade")
          Caches.drain()
        }
        decade3("q80_chunk_dedup", dedup.Dedup.q80ChunkDedup) { (cA, cB) =>
          assert(cB == n1000 && cA == n100, s"q80 must emit one row per doc: $cA/$cB")
        }
        decade3("q110_dup_spans", dedup.Dedup.q110DupSpans) { (cA, cB) =>
          assert(cB >= nBase && cB <= 25L * cA,
            s"q110: span rows $cA -> $cB across the third decade")
        }
        decade3("q117_strip_spans", dedup.Dedup.q117StripSpans) { (cA, cB) =>
          assert(cB == n1000 && cA == n100, s"q117 must emit one row per doc: $cA/$cB")
        }
        decade3("q135_gopher_rules", text.TextAnalysis.q135GopherRules) { (cA, cB) =>
          assert(cB >= 99L * cA / 10L && cB <= 11L * cA,
            s"q135: profile rows $cA -> $cB not ~10x")
        }
        decade3("q139_balanced_oversample", ops.DataPrep.q139BalancedOversample) { (cA, cB) =>
          assert(cB >= 5L * cA && cB <= 25L * cA,
            s"q139: oversampled rows $cA -> $cB not ~10x")
        }
        decade3("q159_rag_chunks", ops.DataPrep.q159RagChunks) { (cA, cB) =>
          assert(cB >= n1000 && cB >= 5L * cA && cB <= 25L * cA,
            s"q159: chunk rows $cA -> $cB across the third decade")
        }
      }

      // ---- LSH ingest at 10× the batch size: 10 batches of 50k docs;
      // the last batch verifies against a 450k-doc store and must stay
      // in the steady band (collisions, not store size, drive the work)
      val docs100 = spark.read.parquet(s"$dir100/documents.parquet")
      val ingestRoot = s"$outRoot/ingest"
      val fs = new org.apache.hadoop.fs.Path(ingestRoot)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(ingestRoot), true)
      val batchTimes = (0 until 10).map { b =>
        // batch b = reps [10b, 10b+10): 50k docs each; batch 0 holds
        // the originals + exact copies, later batches are novel vocab
        val batchDocs = docs100
          .where(pmod(col("doc_id"), lit(100)).between(10 * b, 10 * b + 9))
          .select(col("doc_id"), col("text"))
        val t0 = System.nanoTime()
        dedup.Dedup.lshIngestBatch(spark, batchDocs, b.toLong,
          s"$ingestRoot/sigs", s"$ingestRoot/bands", s"$ingestRoot/novel")
        (System.nanoTime() - t0) / 1e9
      }
      json.append(s""""lsh_ingest_batches_50k":[${batchTimes.map(t => f"$t%.2f").mkString(",")}],""")
      System.err.println(s"[scale-100x] lsh ingest per-batch (50k docs): ${batchTimes.map(t => f"$t%.2f").mkString(", ")} s")
      val mid = batchTimes.slice(2, 9).sorted.apply(3)
      assert(batchTimes.last <= math.max(2.5 * mid, mid + 10.0),
        f"last ingest batch ${batchTimes.last}%.2f s vs steady $mid%.2f s — per-batch cost grows with a 9x-larger store")
      // batch 0 carries the rep-1 near-copies (~5k of its 50k: rep 1 =
      // rep 0's text minus the boilerplate tail, J ≈ 0.9): the
      // within-batch dedup must drop that sliver and no more; later
      // novel-vocab batches publish nearly everything
      def novelOf(b: Int): Long =
        spark.read.parquet(s"$ingestRoot/novel/batch=$b").count()
      val nv0 = novelOf(0)
      assert(nv0 < 46500L,
        s"batch 0 published $nv0 of 50000 — the ~5k rep-1 near-copies were not deduped within the batch")
      assert(nv0 > 40000L,
        s"batch 0 published only $nv0 of 50000 — over-dropping beyond the planted near-copies")
      assert(novelOf(7) > 45000L,
        s"batch 7 published only ${novelOf(7)} of its 50000 novel docs")

      // ---- bitmap cube at 10× users: ten disjoint user-space copies
      // (user_id + rep·OFF) make exactness ASSERTABLE — per-day active
      // and retained counts must be EXACTLY 10×, and the retention rate
      // bit-equal (10·nr/10·na and nr/na are correctly-rounded
      // divisions of the same rational). Block count grows with
      // |users|/64, which is the cube's scale claim.
      val UOFF = 1000000L
      val ev1 = graft.Tables.events(spark, baseDir)
      val evReps = spark.range(0, 10).select(col("id").as("rep"))
      val ev10 = ev1.crossJoin(broadcast(evReps))
        .withColumn("user_id", col("user_id") + col("rep") * UOFF)
        .withColumn("event_id", col("event_id") * 10 + col("rep"))
        .drop("rep")
      def retMap(ev: DataFrame) = ops.TimeSeries
        .retentionFromBlocks(ops.TimeSeries.bitmapBlocksOf(ev)).collect()
        .map(r => r.get(0).toString -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
      val t0r = System.nanoTime()
      val r1 = retMap(ev1)
      val tR1 = (System.nanoTime() - t0r) / 1e9
      Caches.drain()
      val t1r = System.nanoTime()
      val r10 = retMap(ev10)
      val tR10 = (System.nanoTime() - t1r) / 1e9
      json.append(f""""bitmap_retention_1x":$tR1%.2f,"bitmap_retention_10x":$tR10%.2f,""")
      System.err.println(f"[scale-100x] bitmap retention: $tR1%.2f s (1x) -> $tR10%.2f s (10x users)")
      assert(r10.keySet == r1.keySet, "10x user copies changed the day set")
      r1.foreach { case (day, (na, nr, rate)) =>
        val (na10, nr10, rate10) = r10(day)
        assert(na10 == 10 * na && nr10 == 10 * nr,
          s"$day: bitmap counts $na10/$nr10 at 10x != 10 * $na/$nr — disjoint copies must scale exactly")
        assert(rate10 == rate, s"$day: retention rate drifted $rate10 vs $rate")
      }
      decadeEnvelope("bitmap_retention", tR1, tR10)
      Caches.drain()

      // ---- q141 sweep-line at 10× users: the same disjoint copies
      // live on the same timeline, so instantaneous concurrency — and
      // with it every per-day peak — and sessions-started are EXACTLY
      // 10×. Stresses the two-level distributed cumsum (per-day windows
      // + broadcast carry) under 10× endpoint volume with the answer
      // fully determined by the 1× run.
      val ev10Dir = s"$outRoot/ev10"
      ev10.repartition(32).write.mode("overwrite")
        .parquet(s"$ev10Dir/events.parquet")
      val t0q = System.nanoTime()
      val peak1 = ops.TimeSeries.q141ConcurrencyPeak(spark, baseDir).collect()
        .map(r => r.get(0).toString -> (r.getLong(1), r.getLong(2))).toMap
      val tQ1 = (System.nanoTime() - t0q) / 1e9
      Caches.drain()
      val t1q = System.nanoTime()
      val peak10 = ops.TimeSeries.q141ConcurrencyPeak(spark, ev10Dir).collect()
        .map(r => r.get(0).toString -> (r.getLong(1), r.getLong(2))).toMap
      val tQ10 = (System.nanoTime() - t1q) / 1e9
      json.append(f""""q141_sweep_1x":$tQ1%.2f,"q141_sweep_10x":$tQ10%.2f,""")
      System.err.println(f"[scale-100x] q141 sweep: $tQ1%.2f s (1x) -> $tQ10%.2f s (10x users)")
      assert(peak10.keySet == peak1.keySet, "10x user copies changed the day set")
      peak1.foreach { case (day, (pk, st)) =>
        val (pk10, st10) = peak10(day)
        assert(pk10 == 10 * pk && st10 == 10 * st,
          s"$day: sweep $pk10/$st10 at 10x != 10 * $pk/$st — disjoint copies must scale exactly")
      }
      decadeEnvelope("q141_sweep", tQ1, tQ10)
      Caches.drain()

      json.setLength(json.length - 1)
      json.append("}")
      println(json.toString)
      System.err.println("[scale-100x] ALL ASSERTIONS PASSED")
    } finally spark.stop()
  }
}
