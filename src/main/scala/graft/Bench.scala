package graft

object Bench {

  private def fmt(v: Double, decimals: Int): String =
    s"%.${decimals}f".formatLocal(java.util.Locale.ROOT, v)

  /** The compact-map key of a board name: the "qNN"/"qNNx" prefix before
    * the first underscore, minus the uniform "q" AND any leading zeros
    * (r14 budget: "1" maps to q01 as unambiguously as "01" did, and the
    * byte buys map survival on the 190+-row board). previousBench
    * normalizes older rounds' zero-padded keys through the same rule. */
  private[graft] def shortKey(n: String): String = {
    val s = n.takeWhile(_ != '_').stripPrefix("q")
    if (s.length > 1 && s.head == '0') {
      val t = s.dropWhile(_ == '0')
      if (t.isEmpty) "0" else t
    } else s
  }

  private def jsonLine(results: Seq[(String, Double)], sfDir: String,
      key: String => String, decimals: Int, includeQueries: Boolean = true,
      lean: Boolean = false, minimal: Boolean = false,
      dropZeros: Boolean = false): String = {
    // lean (a late map-bearing gear): shed every redundant byte before
    // shedding the map itself — "unit" (derivable), the sf PATH
    // (basename identifies the SF), and the "#2" sentinel entries
    // (derivative repeats of rows already present; their adjudication
    // stays visible in the full-name line above). "n_queries" stays —
    // it still counts ALL results incl. shed sentinels, the one signal
    // that the map is the lean subset.
    // dropZeros (r15, the 203-row board): at decimals=0 a sub-0.5 s row
    // renders as "0" — zero information per ~8 bytes. Shedding exactly
    // those rows keeps every row the driver can actually baseline;
    // drifted() treats a missing-from-baseline key as the sub-quantum
    // case (absolute 5 s trip wire), so the guard survives the shed.
    val rows0 =
      if (lean) results.filterNot(_._1.contains("#")) else results
    val rows =
      if (dropZeros) rows0.filter { case (_, v) => fmt(v, decimals) != "0" }
      else rows0
    val qs =
      if (includeQueries)
        rows.sortBy(_._1)
          .map { case (k, v) => "\"" + key(k) + "\":" + fmt(v, decimals) }
          .mkString("{", ",", "}")
      else "{}"
    val total = results.map(_._2).sum
    // the minimal gear sheds sf entirely (the full-name line above
    // carries it, and the driver knows which SF it launched)
    val sf = if (minimal) "" else if (lean) sfDir.split('/').last else sfDir
    val sfField = if (minimal) "" else s""""sf":"$sf","""
    val mid = if (lean) "" else "\"unit\":\"sec\","
    // "total" appears both in contract position ("value") and LAST, so a
    // tail-truncated line still ends with the headline number. The
    // MINIMAL gear (r14 — map survival on the 190+-row board) sheds the
    // duplicate and "n_queries" too: on the shortest map-bearing line,
    // truncation risk is lowest and per-query visibility is what the
    // driver's drift baselining actually needs.
    val suffix =
      if (minimal) "" else s""","n_queries":${results.size},"total":${fmt(total, decimals)}"""
    s"""{"metric":"total","value":${fmt(total, decimals)},$mid$sfField"queries":$qs$suffix}"""
  }

  /** Full-name line — for humans reading per-query timings. */
  def fullLine(results: Seq[(String, Double)], sfDir: String): String =
    jsonLine(results, sfDir, identity, decimals = 3)

  /** Compact duplicate printed LAST. The driver captures only the final
    * ~2000 chars of stdout, and at 80 queries the full-name line is
    * ~2400 chars — its head (and leading '{') falls off the buffer, so
    * the driver recorded parsed:null in r3 AND r4. This line uses short
    * query keys (the "qNN"/"qNNx" prefix before the first underscore —
    * unique, matching CORRECTNESS names up to the descriptive suffix)
    * and 2-decimal seconds: ~12 bytes/query keeps the whole line inside
    * the tail window (alongside sbt's trailing "[success]" line) well
    * past 100 queries — and if the surface ever grows beyond even that,
    * the per-query map is dropped entirely rather than risk a truncated
    * (unparseable) line: the headline total always lands whole.
    * BenchFormatSpec pins the budget. */
  def compactLine(results: Seq[(String, Double)], sfDir: String): String = {
    // gears: shed decimals before shedding the map — past ~130 queries
    // the 2-decimal map outgrows the tail window, but per-query
    // VISIBILITY (which queries ran, who is expensive) matters more to
    // the driver's round-over-round deltas than centisecond precision.
    // Only when even integer seconds can't fit does the map drop.
    // Keys drop the uniform "q" prefix too (r9: the 154-query board at
    // worst-case 3-digit seconds crossed the budget by 17 chars —
    // caught by BenchFormatSpec — and the prefix is 1 byte x |board|
    // of pure redundancy; "129" maps to q129 trivially).
    val gears = Seq(2, 1, 0).iterator
      .map(d => jsonLine(results, sfDir, shortKey, decimals = d)) ++
      // r12 gear (the 169-query board at worst-case 3-digit seconds
      // overran by 14 chars): strip redundant fields and sentinel
      // entries before surrendering the map
      Iterator(jsonLine(results, sfDir, shortKey, decimals = 0, lean = true),
        // r14 gear (the 192-query board at 2-digit seconds overran by
        // ~20 chars, ~140 with the drift repeats): shed n_queries and
        // the trailing total duplicate before surrendering the map
        jsonLine(results, sfDir, shortKey, decimals = 0, lean = true, minimal = true),
        // r15 gears (the 203-row board): shed the zero-valued rows —
        // the integer-precision map carries no signal for them — before
        // surrendering per-query visibility for the rows that matter
        jsonLine(results, sfDir, shortKey, decimals = 0, lean = true, dropZeros = true),
        jsonLine(results, sfDir, shortKey, decimals = 0, lean = true, minimal = true,
          dropZeros = true))
    // 1740: the driver tail is ~2000 chars and sbt's trailing
    // "[success] Total time: ..." line is ~90 — 170 chars of margin
    // remain (was 300; the 195-row board needed the slack back).
    // STRICTLY below: the r16 218-row board landed a gear at exactly
    // 1740, the boundary BenchFormatSpec rejects
    gears.find(_.length < 1740).getOrElse(
      jsonLine(results, sfDir, shortKey, decimals = 1, includeQueries = false))
  }

  /** The ADJUDICATED board (r16, verdict item 5): one row per BASE query
    * name, its value the adjudication of every sample the run took —
    * the primary plus any `#2`/`#3` sentinel repeats. Rule (the r14/r15
    * protocol the per-round PERF.md analyses applied by hand): one
    * sample stands as-is; two samples take the MIN (a repeat landing
    * back at band proves the outlier was machine noise — the min is the
    * steady-state estimate); three or more take the MEDIAN (the r15
    * escalation for divergent pairs, where min-of-two would be a coin
    * flip). This is what the committed artifact's FINAL line carries,
    * so a loaded-machine raw run can no longer ship phantom movers as
    * the round's board (the r15 verdict's process flag). */
  private[graft] def adjudicated(results: Seq[(String, Double)]): Seq[(String, Double)] = {
    val samples = scala.collection.mutable.LinkedHashMap[String, Vector[Double]]()
    results.foreach { case (label, t) =>
      val base = label.replaceFirst("#\\d+", "")
      samples.updateWith(base)(v => Some(v.getOrElse(Vector.empty) :+ t))
    }
    samples.toSeq.map {
      case (n, Vector(one)) => n -> one
      case (n, Vector(a, b)) => n -> math.min(a, b)
      case (n, many) => n -> many.sorted.apply(many.size / 2)
    }
  }

  /** Per-query seconds from ONE committed `BENCH_r*.json`. Best-effort:
    * any read/parse failure → empty map, never a bench abort. */
  private def benchFileQueries(f: java.io.File): Map[String, Double] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    try {
      val txt = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      val tail = JsonMethods.parse(txt) \ "tail" match {
        case JString(s) => s; case _ => return Map.empty
      }
      // the LAST "{"metric":...}" line in the tail is the compact line
      // (the full-name line precedes it and may be head-truncated)
      val i = tail.lastIndexOf("{\"metric\":")
      if (i < 0) return Map.empty
      // keys normalize through shortKey (prefixing "q" first so the
      // zero-strip applies): rounds before r14 wrote zero-padded "01",
      // r14+ writes "1" — baselines must join across the change
      JsonMethods.parse(tail.substring(i).takeWhile(_ != '\n').trim) \ "queries" match {
        case JObject(kv) => kv.collect {
          case (k, JDouble(v)) if !k.contains("#") => shortKey("q" + k) -> v
          case (k, JInt(v)) if !k.contains("#") => shortKey("q" + k) -> v.toDouble
          case (k, JDecimal(v)) if !k.contains("#") => shortKey("q" + k) -> v.toDouble
        }.toMap
        case _ => Map.empty
      }
    } catch { case _: Throwable => Map.empty }
  }

  /** Per-query BASELINE seconds: the MINIMUM over the last `k` committed
    * `BENCH_r*.json` rounds under `dir` (r11 verdict item 5 — comparing
    * only to the immediately previous round let ~1.3×/round creep
    * compound to 2.2× over three rounds without ever tripping the
    * >1.5×∧+0.8 s rule; against the rolling minimum, slow creep trips as
    * soon as the CUMULATIVE regression crosses the band, while a
    * one-round environment spike still self-adjudicates via its repeat).
    * Keys are compactLine's short form; a query appearing in only some
    * rounds baselines against the rounds it has. Best-effort telemetry:
    * any failure → empty map, never a bench abort. */
  private[graft] def previousBench(dir: String = ".", k: Int = 4): Map[String, Double] = {
    try {
      val re = raw"BENCH_r(\d+)\.json".r
      val fs = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty[java.io.File])
        .flatMap(f => f.getName match { case re(n) => Some(n.toInt -> f); case _ => None })
        .sortBy(-_._1).take(k)
      fs.map(f => benchFileQueries(f._2))
        .foldLeft(Map.empty[String, Double]) { (acc, m) =>
          m.foldLeft(acc) { case (a, (q, t)) =>
            a.updated(q, a.get(q).fold(t)(math.min(_, t)))
          }
        }
    } catch { case _: Throwable => Map.empty }
  }

  /** Queries whose time regressed past BOTH a 1.5× ratio and +0.8 s vs
    * the rolling per-query baseline (the sub-second noise band never trips both),
    * worst ratio first, capped at `cap`. These get their own trailing
    * `#2` repeats so every round-over-round regression arrives
    * pre-adjudicated — a real slowdown repeats slow, driver noise lands
    * back at band (the r10 q119 sentinel, generalized). */
  private[graft] def drifted(board: Seq[(String, Double)],
      prev: Map[String, Double], exclude: Set[String], cap: Int = 8): Seq[String] = {
    val shortOf = shortKey _
    if (prev.isEmpty) Seq.empty
    else board.filter { case (n, t) =>
      !exclude.contains(n) &&
        // p >= 0.5: a decimals=0 compact line rounds sub-0.5 s queries
        // to "0", and a zero baseline would flag every steady ~1 s
        // query forever (t > 1.5*0 && t > 0.8) with an Infinity ratio —
        // below the coarsest rounding quantum there is no baseline
        // signal for a RATIO. But "no ratio" must not mean "no guard"
        // (r12 advice): a genuinely sub-0.5 s query that regresses to
        // tens of seconds would otherwise be permanently invisible once
        // a lean-gear line becomes the baseline — so sub-quantum
        // baselines fall back to an absolute 5 s trip wire instead of
        // being exempt.
        // a key ABSENT from a non-empty baseline means the row rendered
        // "0" in every baseline round (the r15 dropZeros gear) — the
        // sub-quantum case by construction, so it inherits the same
        // absolute trip wire instead of escaping the guard entirely
        prev.get(shortOf(n)).orElse(Some(0.0)).exists(p =>
          if (p >= 0.5) t > 1.5 * p && t > p + 0.8 else t > 5.0)
    }.sortBy { case (n, t) =>
      val p = prev.getOrElse(shortOf(n), 0.0)
      -(if (p >= 0.5) t / p else t) // sub-quantum rows rank by raw time
    }.take(cap).map(_._1)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // environment contract: local[32], shuffle.partitions=32 (not 200)
    val spark = Harness.session(defaultCpus = 32)
    // untimed warmup (the ScaleSmoke100 warmed-leg policy applied to the
    // committed board artifact — r11 verdict item 6): JIT/codegen/
    // parquet-footer costs land here, not on the alphabetically-first
    // timed query; the streaming row additionally front-loads the
    // streaming engine's one-time costs (MicroBatchExecution classes,
    // state-store provider init, file-source/sink log machinery) that
    // otherwise land entirely on the first timed q14x row; the LSH row
    // warms the native-expression + codegen'd dedup path. ~6 s of
    // warmup against a ~230 s board buys a steady-state first leg.
    // q173 warms the transformWithState/RocksDB path (provider class
    // load + native lib + changelog-checkpoint machinery) that
    // otherwise lands on the first timed tws row
    for (w <- Seq("q09_global_topk", "q31_minhash_lsh", "q146_quota_cap_stream",
        "q173_sessionize_tws"))
      try {
        SparkEntry.queries(w)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        Caches.drain()
      } catch { case _: Throwable => () }
    // noop sink forces full materialization of every operator (count()
    // would let Catalyst prune the whole projection away).
    // dev loop only: SPARK_GRAFT_ONLY=q78,q31 times a subset (exact
    // names; trailing * for prefix); the driver never sets it, so its
    // boards are always the full surface
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    // a failed query is named on stderr with its exception class and
    // left off the board (None): a fast failure must never read as a
    // fast row
    def timeOne(name: String, fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Option[Double] = {
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] FAILED $name: ${e.getClass.getName}: ${e.getMessage}")
          false
        }
      // close the timing window BEFORE cache hygiene: unpersisting the
      // query's registered caches is harness bookkeeping, not query work
      val dt = (System.nanoTime() - t0) / 1e9
      // blocks cached by one query must not perturb the next query's
      // memory or timing
      Caches.drain()
      if (ok) Some(dt) else None
    }
    val sorted = SparkEntry.queries.toSeq.sortBy(_._1)
    val results = only.map(_.map(_.trim).filter(_.nonEmpty)).filter(_.nonEmpty) match {
      case Some(tokens) =>
        // dev loop: run in TOKEN order, repeats allowed — the PERF.md
        // sentinel-pair protocol brackets a suspect query with known
        // yardsticks before AND after. Repeated names get a #k suffix
        // so the compact line's JSON keys stay unique.
        val seen = scala.collection.mutable.Map[String, Int]()
        tokens.flatMap(t => sorted.filter { case (n, _) =>
          NameFilter.selected(Some(Seq(t)), n) })
          .flatMap { case (name, fn) =>
            val k = seen.updateWith(name)(c => Some(c.getOrElse(0) + 1)).get
            // suffix INSIDE the short prefix ("q16#2_like_pred") so the
            // compact line's takeWhile('_') shortener keeps it unique
            val label = if (k == 1) name
              else name.takeWhile(_ != '_') + s"#$k" + name.dropWhile(_ != '_')
            timeOne(name, fn).map(label -> _)
          }
      case None =>
        val board = sorted.flatMap { case (name, fn) => timeOne(name, fn).map(name -> _) }
        // trailing sentinels (default on; SPARK_GRAFT_SENTINELS=0
        // disables): re-time this run's five most expensive rows at the
        // END of the board, keyed "qNN#2". A genuinely slow operator
        // repeats slow; a row that was merely adjacent to a noisy
        // neighbor lands back at its solo band — so every board
        // self-carries the evidence that previously needed a separate
        // sentinel-pair adjudication run. The repeats are extra rows on
        // the board total; their cost is the five hottest queries once
        // more (~15-20% of a full run), paid for not having to re-litigate
        // driver noise round over round.
        if (sys.env.getOrElse("SPARK_GRAFT_SENTINELS", "1") == "0") board
        else {
          val hot = board.sortBy(-_._2).take(5).map(_._1)
          // drift repeats: queries that regressed vs the committed
          // previous-round BENCH file also re-time, so the board carries
          // its own adjudication for EVERY regression, not just the five
          // hottest rows
          // UNCAPPED (r12 verdict item 5): the default cap=8 lost q65/q66
          // on a loaded machine where >8 rows spiked — worst-ratio-first
          // meant the 3.5x rows missed the cut and shipped un-adjudicated.
          // Every >1.5x ∧ +0.8s row now carries its sentinel; the worst
          // case (a fully hosed environment) repeats slow rows once,
          // which is exactly the evidence that run needs.
          val drift = drifted(board, previousBench(), hot.toSet, cap = board.size)
          val byName = sorted.toMap
          val repeats = (hot ++ drift).flatMap { name =>
            val label = name.takeWhile(_ != '_') + "#2" + name.dropWhile(_ != '_')
            timeOne(name, byName(name)).map((name, label, _))
          }
          // MEDIAN-OF-3 escalation (r15, verdict item 7): when a row's
          // sentinel diverges >1.5x from its primary IN EITHER DIRECTION,
          // two samples cannot say which one was the noise — a third
          // repeat makes the adjudication a median instead of a coin
          // flip (the r14 board's `182#2` read 18 s on a 9 s primary;
          // min-of-two kept the rule honest, but the variance itself was
          // the largest noise source left). Bounded: only divergent rows
          // pay the third run.
          val primaryOf = board.toMap
          val third = repeats.flatMap {
            case (name, _, t2) if {
              val t1 = primaryOf(name)
              val hi = math.max(t1, t2); val lo = math.min(t1, t2)
              lo > 0 && hi / lo > 1.5 && hi - lo > 0.8
            } =>
              val label = name.takeWhile(_ != '_') + "#3" + name.dropWhile(_ != '_')
              timeOne(name, byName(name)).map(label -> _)
            case _ => None
          }
          board ++ repeats.map { case (_, l, t) => l -> t } ++ third
        }
    }
    println(fullLine(results, sfDir))
    // machine-parsed compact lines are the FINAL stdout writes of the
    // process: printed AFTER spark.stop() so no executor-shutdown logging
    // can land between them and EOF, via System.out directly (Console.out
    // could be remapped by a test harness; the driver captures the real
    // process stdout). Only sbt's own "[success]" epilogue follows.
    // ORDER (r16, verdict item 5): the RAW board (with its #2/#3
    // sentinel samples — the adjudication evidence) first, then the
    // ADJUDICATED board LAST, so the driver's tail-captured artifact and
    // the next rounds' rolling baselines both read the adjudicated
    // numbers — a loaded-machine spike can no longer ship as the round's
    // board. The raw line may lose its head to the tail window; the
    // adjudicated line always lands whole (same gear budget).
    spark.stop()
    System.out.println(compactLine(results, sfDir))
    System.out.println(compactLine(adjudicated(results), sfDir))
    System.out.flush()
  }
}
