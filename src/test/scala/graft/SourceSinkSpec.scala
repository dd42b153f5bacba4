package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** DSv2 source: pushdown/pruning must actually reach the scan (not just
  * produce correct rows), because at scale the pushdown IS the feature.
  * HTTP sink: executor-side batched posting, no driver collect. */
class SourceSinkSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sfDir = "/root/testdata/sf0.001"

  override def afterAll(): Unit = spark.stop()

  test("graft-jsondoc scan matches a plain parquet query") {
    val got = sources.SourceQueries.q48Dsv2Source(spark, sfDir).collect()
    val want = Tables.documents(spark, sfDir)
      .filter(col("n_chars") > 500 && col("lang") === "en")
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id")).collect()
    assert(got.length == want.length && got.length > 0)
    assert(got.map(_.toSeq).toSeq == want.map(_.toSeq).toSeq)
  }

  test("filters are pushed into the source and columns pruned") {
    val df = sources.SourceQueries.q48Dsv2Source(spark, sfDir)
      .select(col("doc_id")) // prune further: reader should emit 1 field
    // executedPlan is AQE-wrapped; sparkPlan still exposes the scan node
    val scans = df.queryExecution.sparkPlan.collect { case b: BatchScanExec => b }
    assert(scans.nonEmpty)
    val desc = scans.head.scan.description()
    assert(desc.contains("GreaterThan(n_chars,500)"), s"pushdown missing in: $desc")
    assert(desc.contains("EqualTo(lang,en)"), s"pushdown missing in: $desc")
    assert(scans.head.scan.readSchema().fieldNames.toSeq == Seq("doc_id"))
    // several response files → parallel scan
    assert(scans.head.inputRDD.getNumPartitions > 1)
  }

  test("pushed filter with fractional constant doesn't truncate integral JSON tokens") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft_frac").toString
    // x is DoubleType but the first token is integral: compare must not
    // truncate the 5.7 constant to 5 (which would wrongly match/pass)
    Files.write(Paths.get(dir, "part-0.jsonl"),
      "{\"id\":1,\"x\":5}\n{\"id\":2,\"x\":5.7}\n{\"id\":3,\"x\":6.0}\n".getBytes("UTF-8"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("x", org.apache.spark.sql.types.DoubleType)))
    def read = spark.read.format("graft-jsondoc").schema(schema).option("path", dir).load()
    assert(read.filter(col("x") === 5.7).select(col("id")).collect().map(_.getLong(0)).toSeq == Seq(2L))
    assert(read.filter(col("x") >= 5.5).select(col("id")).collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L))
    assert(read.filter(col("x") < 5.5).select(col("id")).collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("pushdown equivalence fuzz: source-evaluated filters match Spark-evaluated") {
    import java.nio.file.{Files, Paths}
    val rnd = new scala.util.Random(11)
    val dir = Files.createTempDirectory("graft_fuzz").toString
    // mix of integral-token doubles ("5"), fractional ("5.7"), nulls
    val lines = (0 until 400).map { i =>
      val x = rnd.nextInt(4) match {
        case 0 => rnd.nextInt(10).toString            // integral token
        case 1 => f"${rnd.nextDouble() * 10}%.3f"     // fractional token
        case 2 => (rnd.nextInt(10) + 0.5).toString
        case _ => "null"
      }
      s"""{"id":$i,"x":$x,"s":"w${rnd.nextInt(5)}"}"""
    }
    Files.write(Paths.get(dir, "d.jsonl"), lines.mkString("\n").getBytes("UTF-8"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("x", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("s", org.apache.spark.sql.types.StringType)))
    def src = spark.read.format("graft-jsondoc").schema(schema).option("path", dir).load()
    // same rows, re-materialized so Spark itself evaluates the predicates
    val all = src.collect()
    val mirror = spark.createDataFrame(
      new java.util.ArrayList(java.util.Arrays.asList(all: _*)), schema)
    val preds = Seq(
      col("x") === 5.5, col("x") === 5.0, col("x") >= 4.5, col("x") < 3.0,
      col("x") >= 5.0 && col("s") === "w1", col("x").isNotNull, col("s") === "w3")
    for (p <- preds) {
      val got = src.filter(p).collect().map(_.toSeq).toSet
      val want = mirror.filter(p).collect().map(_.toSeq).toSet
      assert(got === want, s"pushdown diverged for predicate: $p")
    }
  }

  test("ORC roundtrip preserves schema and values (columnar alternative to parquet)") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft_orc").toString
    val src = Tables.nation(spark, sfDir)
    src.write.mode("overwrite").orc(s"$dir/nation.orc")
    val back = spark.read.orc(s"$dir/nation.orc")
    // ORC carries the schema (names + types) in the file footer
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      src.schema.map(f => (f.name, f.dataType)))
    assert(back.orderBy("n_nationkey").collect().toSeq ==
      src.orderBy("n_nationkey").collect().toSeq)
    // predicate pushdown reaches the ORC scan like it does for parquet
    val plan = back.filter(col("n_nationkey") < 5).queryExecution
      .executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(n_nationkey), LessThan(n_nationkey,5)]"),
      s"no pushed filters in:\n$plan")
  }

  test("schema evolution: mergeSchema unifies generations; late columns read NULL for old files") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft_evolve").toString
    // generation 1: the original layout; generation 2 adds a column —
    // the additive evolution every long-lived corpus undergoes. Written
    // as two batches into one dataset directory.
    val g1 = Tables.nation(spark, sfDir).limit(10)
      .select(col("n_nationkey"), col("n_name"))
    val g2 = Tables.nation(spark, sfDir)
      .filter(col("n_nationkey") >= 10)
      .select(col("n_nationkey"), col("n_name"),
        lit("v2").as("ingest_version"))
    g1.write.mode("overwrite").parquet(s"$dir/part=a")
    g2.write.mode("overwrite").parquet(s"$dir/part=b")
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    // the unified schema carries the union of columns
    assert(merged.columns.toSet == Set("n_nationkey", "n_name", "ingest_version", "part"))
    // old-generation rows surface NULL for the late column, new rows
    // carry their value — no rewrite of generation-1 files needed
    val byVer = merged.groupBy(col("ingest_version")).count().collect()
      .map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(byVer(None) == 10L && byVer(Some("v2")) == 15L, byVer.toString)
    // and the key column still reads consistently across generations
    assert(merged.select(col("n_nationkey")).distinct().count() == 25L)
  }

  test("schema with a type the reader can't materialize is rejected at the source") {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType)))
    val e = intercept[Exception] {
      spark.read.format("graft-jsondoc").schema(schema)
        .option("path", "/tmp/does-not-matter").load().collect()
    }
    assert(e.getMessage.contains("ts") || Option(e.getCause).exists(_.getMessage.contains("ts")))
  }

  test("q168: aggregates are pushed into the source and match the parquet computation") {
    val df = sources.SourceQueries.q168Dsv2AggPushdown(spark, sfDir)
    val scans = df.queryExecution.sparkPlan.collect { case b: BatchScanExec => b }
    assert(scans.nonEmpty)
    val desc = scans.head.scan.description()
    assert(desc.contains("PushedAggregates=[COUNT(*), COUNT(lang), MIN(n_chars), " +
      "MAX(n_chars), MIN(lang), MAX(doc_id)]"), s"aggregates not pushed: $desc")
    // the scan's output is the partial-agg row, not document rows
    assert(scans.head.scan.readSchema().length == 6)
    val got = df.collect().head.toSeq
    val want = Tables.documents(spark, sfDir)
      .filter(col("n_chars") > 500)
      .agg(count(lit(1)), count(col("lang")), min(col("n_chars")), max(col("n_chars")),
        min(col("lang")), max(col("doc_id"))).collect().head.toSeq
    assert(got == want, s"$got vs $want")
    assert(got.head.asInstanceOf[Long] > 0L, "degenerate fixture — the pin is vacuous")
  }

  test("group-by aggregation is refused by the source and stays correct in Spark") {
    val base = sources.SourceQueries.q48Base
    Tables.documents(spark, sfDir).select(col("doc_id"), col("lang"), col("n_chars"))
      .repartition(4).write.mode("overwrite").json(base)
    val df = spark.read.format("graft-jsondoc").schema(sources.SourceQueries.docSchema)
      .option("path", base).load()
      .groupBy(col("lang")).agg(count(lit(1)).as("n"))
    val scans = df.queryExecution.sparkPlan.collect { case b: BatchScanExec => b }
    assert(scans.nonEmpty && !scans.head.scan.description().contains("PushedAggregates"),
      "grouped aggregate must NOT push (the source only does global partials)")
    val got = df.collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val want = Tables.documents(spark, sfDir).groupBy(col("lang"))
      .agg(count(lit(1))).collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == want)
  }

  test("aggregate partials honor nulls, filtered rows, and empty files") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft_aggpush").toString
    Files.write(Paths.get(dir, "a.jsonl"),
      "{\"id\":1,\"x\":5,\"s\":\"b\"}\n{\"id\":2,\"s\":\"a\"}\n".getBytes("UTF-8"))
    Files.write(Paths.get(dir, "b.jsonl"),
      "{\"id\":3,\"x\":9,\"s\":null}\n{\"id\":4,\"x\":100,\"s\":\"z\"}\n".getBytes("UTF-8"))
    Files.write(Paths.get(dir, "c.jsonl"), Array.empty[Byte]) // empty partition
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("x", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("s", org.apache.spark.sql.types.StringType)))
    val df = spark.read.format("graft-jsondoc").schema(schema)
      .option("path", dir).load()
      .filter(col("id") <= 3) // pushed; drops id=4 source-side
      .agg(count(lit(1)).as("n"), count(col("x")).as("nx"), count(col("s")).as("ns"),
        min(col("x")).as("minx"), max(col("x")).as("maxx"),
        min(col("s")).as("mins"), max(col("s")).as("maxs"))
    val scans = df.queryExecution.sparkPlan.collect { case b: BatchScanExec => b }
    assert(scans.nonEmpty && scans.head.scan.description().contains("PushedAggregates"),
      "fixture aggregate must push for the edge pins to mean anything")
    val r = df.collect().head
    assert(r.getLong(0) == 3L && r.getLong(1) == 2L && r.getLong(2) == 2L)
    assert(r.getLong(3) == 5L && r.getLong(4) == 9L)
    assert(r.getString(5) == "a" && r.getString(6) == "b")
  }

  test("limit is pushed into the source (partial, per partition) and results are exact") {
    val base = sources.SourceQueries.q48Base
    Tables.documents(spark, sfDir).select(col("doc_id"), col("lang"), col("n_chars"))
      .repartition(4).write.mode("overwrite").json(base)
    val df = spark.read.format("graft-jsondoc").schema(sources.SourceQueries.docSchema)
      .option("path", base).load()
      .filter(col("n_chars") > 500)
      .limit(7)
    val scans = df.queryExecution.sparkPlan.collect { case b: BatchScanExec => b }
    assert(scans.nonEmpty)
    assert(scans.head.scan.description().contains("PushedLimit=7"),
      s"limit not pushed: ${scans.head.scan.description()}")
    val rows = df.collect()
    assert(rows.length == 7, s"global limit must still hold: ${rows.length}")
    // every returned row satisfies the pushed filter (limit applies AFTER it)
    assert(rows.forall(_.getLong(2) > 500))
  }

  test("reported statistics let a small response dir broadcast-join") {
    val base = sources.SourceQueries.q48Base
    Tables.documents(spark, sfDir).select(col("doc_id"), col("lang"), col("n_chars"))
      .repartition(4).write.mode("overwrite").json(base)
    val src = spark.read.format("graft-jsondoc").schema(sources.SourceQueries.docSchema)
      .option("path", base).load()
    val joined = Tables.documents(spark, sfDir).select(col("doc_id"), col("source"))
      .join(src, "doc_id")
    val bhj = joined.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
    }
    assert(bhj.nonEmpty,
      "a few-KB response dir must plan as the broadcast side (SupportsReportStatistics):\n" +
        joined.queryExecution.sparkPlan)
    assert(joined.count() > 0)
  }

  test("runtime filtering: a selective broadcast join plants a DPP filter on the scan") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_runtime").toString
    // three response files, 300 docs
    (0 until 3).foreach { f =>
      val lines = (1 to 100).map(i => s"""{"doc_id":${f * 100 + i},"lang":"en"}""")
      Files.write(Paths.get(dir, s"r$f.jsonl"), lines.mkString("\n").getBytes("UTF-8"))
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType)))
    val src = spark.read.format("graft-jsondoc").schema(schema).option("path", dir).load()
    // the dim must be a REAL relation (a LocalRelation folds its filter
    // away at optimization time and DPP then sees no selective predicate)
    val dimPath = Files.createTempDirectory("graft_runtime_dim").toString
    (1L to 300L).map(i => (i, if (i % 100 == 0) "keep" else "drop"))
      .toDF("doc_id", "cat").write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath)
    val joined = src.join(dim.filter(col("cat") === "keep"), "doc_id")
    // execution through the runtime-filtered reader stays exact
    assert(joined.collect().map(_.getLong(0)).sorted.toSeq == Seq(100L, 200L, 300L))
    // the jsondoc side carries the planted DynamicPruning runtime filter
    // (AQE resolves the broadcast-reuse decision, so inspect the FINAL
    // executed plan, not the pre-adaptive sparkPlan)
    def scansOf(p: org.apache.spark.sql.execution.SparkPlan): Seq[BatchScanExec] =
      p.flatMap {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scansOf(a.executedPlan)
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scansOf(s.plan)
        case b: BatchScanExec => Seq(b)
        case _ => Nil
      }
    val scans = scansOf(joined.queryExecution.executedPlan)
      .filter(_.scan.description().contains("graft-jsondoc"))
    assert(scans.nonEmpty, s"no jsondoc scan found:\n${joined.queryExecution.executedPlan}")
    assert(scans.head.runtimeFilters.nonEmpty,
      s"no runtime filter planted:\n${joined.queryExecution.executedPlan}\n--- optimized:\n${joined.queryExecution.optimizedPlan}")
  }

  test("runtime filtering on and off give the same join answer, scattered or file-local keys") {
    // the runtime In filter drops non-joining lines at parse time and,
    // through the stats sidecar, skips whole files; either way it may
    // only change what is READ, never the answer
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_rtf").toString
    // 4 files written through the V2 writer (so the stats sidecar
    // exists), each owning a contiguous doc_id range
    spark.range(400).select(col("id").as("doc_id"), lit("en").as("lang"),
      (lit(100) + col("id") % 90).as("n_chars"))
      .repartitionByRange(4, col("doc_id"))
      .write.format("graft-jsondoc").option("path", dir).mode("append").save()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n_chars", org.apache.spark.sql.types.LongType)))
    // parquet dims, so the selective filter survives optimization (a
    // LocalRelation folds it away and no runtime filter is planned):
    // every 10th key hits every file; keys 100..139 sit in one file
    def dim(keep: Long => Boolean): String = {
      val p = java.nio.file.Files.createTempDirectory("graft_rtf_dim").toString
      (0L until 400L).map(i => (i, if (keep(i)) "keep" else "drop"))
        .toDF("doc_id", "cat").write.mode("overwrite").parquet(p)
      p
    }
    val key = "spark.sql.optimizer.dynamicPartitionPruning.enabled"
    for ((dimPath, keys) <- Seq(
        dim(_ % 10 == 0) -> (0L until 400L by 10),
        dim(i => i >= 100 && i < 140) -> (100L until 140L))) {
      def run(on: Boolean): (Long, Long) = {
        spark.conf.set(key, on)
        val r = spark.read.format("graft-jsondoc").schema(schema).option("path", dir).load()
          .join(spark.read.parquet(dimPath).filter(col("cat") === "keep"), "doc_id")
          .agg(count(lit(1)), sum(col("n_chars"))).head()
        (r.getLong(0), r.getLong(1))
      }
      val (on, off) = try (run(on = true), run(on = false)) finally spark.conf.unset(key)
      assert(on === off, s"runtime filtering changed the answer: $on vs $off")
      assert(on === (keys.size.toLong, keys.map(k => 100L + k % 90).sum))
    }
  }

  test("corrupt response line fails the scan fast (§2A-21, no partial output)") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft_corrupt").toString
    Files.write(Paths.get(dir, "d.jsonl"),
      "{\"id\":1}\nTHIS IS NOT JSON {{{\n{\"id\":2}\n".getBytes("UTF-8"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType)))
    val e = intercept[org.apache.spark.SparkException] {
      spark.read.format("graft-jsondoc").schema(schema).option("path", dir).load().collect()
    }
    // the underlying parse failure propagates — whole job aborts, like
    // the reference's throw-on-invalid-body
    assert(e.getMessage != null)
  }

  test("retry survives transient connect-level IOExceptions (throws twice, then succeeds)") {
    var calls = 0
    sinks.HttpSink.withRetry(maxRetries = 3, backoffMs = 1L) { () =>
      calls += 1
      if (calls <= 2) throw new java.io.IOException("connection reset")
    }
    assert(calls == 3)
    // non-2xx (RetriableFailure) gets the same bounded backoff
    var calls2 = 0
    sinks.HttpSink.withRetry(maxRetries = 3, backoffMs = 1L) { () =>
      calls2 += 1
      if (calls2 <= 2) throw new sinks.HttpSink.RetriableFailure("HTTP 503")
    }
    assert(calls2 == 3)
  }

  test("retry stays bounded: a persistent failure propagates after maxRetries") {
    var calls = 0
    val e = intercept[java.io.IOException] {
      sinks.HttpSink.withRetry(maxRetries = 2, backoffMs = 1L) { () =>
        calls += 1
        throw new java.io.IOException("connection refused")
      }
    }
    assert(calls == 3) // initial attempt + 2 retries
    assert(e.getMessage == "connection refused")
    // a non-retriable failure (e.g. a bug) is never swallowed or retried
    var calls2 = 0
    intercept[IllegalArgumentException] {
      sinks.HttpSink.withRetry(maxRetries = 2, backoffMs = 1L) { () =>
        calls2 += 1
        throw new IllegalArgumentException("bad body")
      }
    }
    assert(calls2 == 1)
  }

  test("DSv2 writer roundtrip: save() then read back, explicit AND inferred schema") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft_write").toString
    val src = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .limit(50)
    src.repartition(3).write.format("graft-jsondoc")
      .option("path", dir).mode("append").save()
    // visible output only — no dot-prefixed temps survive the commit
    val leftover = new java.io.File(dir).listFiles().filter(_.getName.startsWith("."))
    assert(leftover.isEmpty, s"uncommitted temps visible: ${leftover.toSeq}")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n_chars", org.apache.spark.sql.types.LongType)))
    val explicit = spark.read.format("graft-jsondoc").schema(schema)
      .option("path", dir).load()
    assert(explicit.orderBy("doc_id").collect().map(_.toSeq).toSeq ==
      src.orderBy("doc_id").collect().map(_.toSeq).toSeq)
    // schema inference on the written dir: same columns, long/string types
    val inferred = spark.read.format("graft-jsondoc").option("path", dir).load()
    assert(inferred.schema.map(f => (f.name, f.dataType)) ==
      schema.map(f => (f.name, f.dataType)), inferred.schema.treeString)
    assert(inferred.count() == 50L)
  }

  test("DSv2 writer: overwrite truncates prior generations; append accumulates") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft_write_modes").toString
    import spark.implicits._
    def gen(tag: String, n: Int) =
      (1 to n).map(i => (i.toLong, tag)).toDF("id", "tag")
    gen("a", 10).write.format("graft-jsondoc").option("path", dir).mode("append").save()
    gen("b", 5).write.format("graft-jsondoc").option("path", dir).mode("append").save()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("tag", org.apache.spark.sql.types.StringType)))
    def read = spark.read.format("graft-jsondoc").schema(schema).option("path", dir).load()
    assert(read.groupBy("tag").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap == Map("a" -> 10L, "b" -> 5L))
    gen("c", 3).write.format("graft-jsondoc").option("path", dir).mode("overwrite").save()
    assert(read.groupBy("tag").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap == Map("c" -> 3L),
      "overwrite must truncate every prior visible file")
  }

  test("DSv2 writer rejects unsupported column types before any task runs") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft_write_badtype").toString
    import spark.implicits._
    val df = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("id", "ts")
    val e = intercept[Exception] {
      df.write.format("graft-jsondoc").option("path", dir).mode("append").save()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("ts")), s"wrong error: $e")
    // analysis-time failure — nothing was written, not even temps
    val files = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
    assert(files.isEmpty, s"rejected write left files: ${files.toSeq}")
  }

  test("DSv2 writer: a failing task aborts the job with NO visible partial output") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft_write_abort").toString
    import spark.implicits._
    val bomb = udf { (id: Long) =>
      if (id == 7L) throw new RuntimeException("poison row") else id
    }
    val df = (1L to 10L).toDF("id").repartition(4).select(bomb(col("id")).as("id"))
    intercept[Exception] {
      df.write.format("graft-jsondoc").option("path", dir).mode("append").save()
    }
    // two-phase visibility: only dot-prefixed temps ever existed, and the
    // job abort deleted the reported ones — a reader sees an empty table
    val visible = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
    assert(visible.isEmpty, s"aborted job leaked visible output: ${visible.toSeq}")
  }

  test("V2-written dirs prune files by stats: a range filter plans fewer partitions") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft_stats_e2e").toString
    import spark.implicits._
    // range-partitioned write -> disjoint per-file doc_id ranges in the
    // sidecar, the layout a sorted ingest naturally produces
    (1L to 300L).toDF("doc_id")
      .repartitionByRange(3, col("doc_id"))
      .write.format("graft-jsondoc").option("path", dir).mode("append").save()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType)))
    def read = spark.read.format("graft-jsondoc").schema(schema).option("path", dir).load()
    val all = read
    val allScan = all.queryExecution.sparkPlan.collect { case b: BatchScanExec => b }.head
    assert(allScan.inputRDD.getNumPartitions == 3)
    // the filter reaches planInputPartitions through the pushed filters,
    // so files whose range excludes it never become partitions
    val hi = read.filter(col("doc_id") > 295)
    val hiScan = hi.queryExecution.sparkPlan.collect { case b: BatchScanExec => b }.head
    assert(hiScan.inputRDD.getNumPartitions < 3,
      s"stats pruning did not drop low-range files: ${hiScan.inputRDD.getNumPartitions}")
    assert(hi.collect().map(_.getLong(0)).sorted.toSeq == (296L to 300L))
  }

  test("schema inference types fields from tokens and widens across lines") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft_infer").toString
    Files.write(Paths.get(dir, "a.jsonl"),
      ("{\"i\":1,\"d\":2,\"b\":true,\"s\":\"x\",\"n\":null}\n" +
        "{\"i\":2,\"d\":2.5,\"b\":false,\"s\":\"y\",\"n\":null}\n").getBytes("UTF-8"))
    val st = spark.read.format("graft-jsondoc").option("path", dir).load().schema
    import org.apache.spark.sql.types._
    assert(st.map(f => (f.name, f.dataType)) == Seq(
      "i" -> LongType,   // integral on every line
      "d" -> DoubleType, // integral then fractional → widened
      "b" -> BooleanType,
      "s" -> StringType,
      "n" -> StringType)) // all-null falls back to string
  }

  test("HTTP sink posts bounded batches from executors, covering all rows") {
    val posted = SinkProbe.reset()
    val df = Tables.nation(spark, sfDir).repartition(3)
    sinks.HttpSink.submitJson(df, new SinkProbe, batchSize = 4)
    val bodies = SinkProbe.drain()
    assert(bodies.nonEmpty)
    // every batch is a JSON array of <= 4 rows
    bodies.foreach { b =>
      assert(b.startsWith("[") && b.endsWith("]"))
      assert(b.split("\\},\\{").length <= 4)
    }
    val totalRows = bodies.map(_.split("n_nationkey").length - 1).sum
    assert(totalRows == 25)
    assert(posted == 0) // reset really cleared
  }
}

/** JVM-shared probe poster (works in local mode: executors share statics). */
class SinkProbe extends sinks.HttpSink.Poster {
  def post(body: String): Unit = SinkProbe.buf.add(body)
}
object SinkProbe {
  private val buf = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  def reset(): Int = { val n = buf.size(); buf.clear(); n }
  def drain(): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var x = buf.poll()
    while (x != null) { out += x; x = buf.poll() }
    out.toSeq
  }
}
