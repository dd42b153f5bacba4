package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.perfbench.ListenerBusAccess
import org.apache.spark.sql.{Row, SparkSession}
import graft.{Caches, SparkEntry}
import graft.caic.{CaicJob, GraftConfig}

/** One benchmark run in one JVM, launched by `perfbench/run.py`.
  *
  * The harness calls the engine only through its public functions:
  * `SparkEntry.queries(name)(spark, dir)` is the build step (eager
  * writes, commits and loop rounds happen there), `collect()` is the
  * execute step and `Caches.drain()` is the drain step. Like a `noop`
  * write, `collect()` materializes every operator; it also hands the
  * output check its rows, so the check never runs a query a second time
  * (the results at this scale are at most a few thousand rows). The
  * `caic` op is one `CaicJob.runOnce` invocation with an in-memory
  * Fetcher and a Submitter that writes the document under the run's
  * tmpdir.
  *
  * Phases: `--setups` session set-ups, each ending with one warm-up op
  * (the first is timed from process launch); `--priming` untimed priming
  * passes; then `--timed-passes` timed passes. A fixed count rather than a time
  * budget keeps every run at the same point of the JIT warm-up curve.
  * With `--trace 1` the listeners are attached on every other pass, so
  * the result carries both kinds and the caller can report the tracing
  * overhead. Output digests are computed between ops, outside every
  * timed window. Results go to `--out` as JSON; the caller computes
  * every statistic.
  */
object Harness {

  final case class Args(workload: String, data: String, trace: Boolean,
      launchMs: Long, passes: String, timedPasses: Int, warmup: String, docs: String,
      out: String, cores: Int, setups: Int, priming: Int, deadlineS: Double)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("data"), m("trace") == "1", m("launch-ms").toLong, m("passes"),
      m("timed-passes").toInt, m("warmup"), m.getOrElse("docs", ""), m("out"),
      m("cores").toInt, m("setups").toInt, m("priming").toInt, m("deadline-s").toDouble)
  }

  def main(argv: Array[String]): Unit = {
    if (argv.headOption.contains("--oracle-sql")) {
      // the DuckDB-equivalent SQL of every query, for perfbench/pin.py
      Files.write(Paths.get(argv(1)), Json.write(SparkEntry.oracleSql).getBytes(StandardCharsets.UTF_8))
      sys.exit(0)
    }
    val a = parse(argv)
    val run = new Run(a)
    val setups = (0 until a.setups).map { k =>
      val t0 = if (k == 0) a.launchMs else System.currentTimeMillis()
      run.newSession()
      run.runOp(a.warmup, pass = -1 - k)
      (System.currentTimeMillis() - t0) / 1000.0
    }
    val lines = Files.readAllLines(Paths.get(a.passes)).asScala.map(_.split(",").toSeq).toIndexedSeq
    var p = 0
    // Pass numbers: 0 for every priming pass, then 1, 2, ... for the timed
    // ones; the seeded orders are taken in sequence either way.
    def pass(): Unit = {
      run.runPass(lines(p % lines.size), math.max(0, p - a.priming + 1))
      p += 1
    }
    // priming passes: untimed, their outputs are still checked
    (0 until a.priming).foreach(_ => pass())
    // A traced run alternates untraced and traced passes, so both sample
    // the same stretch of the JIT warm-up curve. A pass is started only
    // before the deadline, so a much slower engine still ends the run in
    // time, with fewer passes.
    val plan =
      if (a.trace) (0 until math.max(2, a.timedPasses)).map(_ % 2 == 1)
      else Seq.fill(a.timedPasses)(false)
    for (traced <- plan if System.currentTimeMillis() - a.launchMs < a.deadlineS * 1000) {
      run.trace(traced)
      pass()
    }
    run.write(setups)
    run.spark.stop()
    sys.exit(0)
  }

  private final class Run(a: Args) {
    var spark: SparkSession = _
    private val log = new SpanLog(a.launchMs)
    private lazy val tracerInstance = new Tracer(log)
    private var tracer: Option[Tracer] = None
    private val ops = mutable.ArrayBuffer[mutable.LinkedHashMap[String, Any]]()
    private val passes = mutable.ArrayBuffer[Map[String, Any]]()
    private var nextOp = 0
    private var nextDoc = 0
    private val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    private val submitDir = tmp.resolve("caic_submit")
    private val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    /** Survivor and old pools: the heap that outlives a young collection.
      * Eden's peak is only the collection trigger, close to the fixed heap
      * size on every pass. */
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP && !p.getName.contains("Eden"))
    private val config = GraftConfig(debug = false, api = GraftConfig.DefaultApi,
      layer = GraftConfig.DefaultLayer)

    /** CAIC documents: line 2k is the areas FeatureCollection of
      * invocation k, line 2k+1 its products array. */
    private lazy val docs: IndexedSeq[(String, String)] =
      Files.readAllLines(Paths.get(a.docs), StandardCharsets.UTF_8).asScala
        .grouped(2).map(p => (p(0), p(1))).toIndexedSeq

    private def cpuNs: Long = os.getProcessCpuTime
    private val procIo = Paths.get("/proc/self/io")
    /** Bytes this process has passed to write calls: jsondoc and source
      * output, shuffle files, spill and submitted documents alike. */
    private def writtenBytes: Long = Files.readAllLines(procIo).asScala
      .find(_.startsWith("wchar:")).map(_.drop(6).trim.toLong).getOrElse(0L)
    private def gcMs: Long = gcs.map(g => math.max(0L, g.getCollectionTime)).sum
    private def now: Double = log.ms(System.nanoTime())

    def newSession(): Unit = {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      spark = SparkSession.builder()
        .master(s"local[${a.cores}]")
        .appName("perfbench")
        .withExtensions(new graft.plans.GraftExtensions)
        .config("spark.sql.shuffle.partitions", a.cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    }

    /** Attach or detach the listeners. The bus is already empty here:
      * every traced op waits for it before it ends. */
    def trace(on: Boolean): Unit = if (on != tracer.isDefined) {
      val t = tracerInstance
      if (on) {
        spark.sparkContext.addSparkListener(t)
        spark.listenerManager.register(t)
        tracer = Some(t)
      } else {
        spark.sparkContext.removeSparkListener(t)
        spark.listenerManager.unregister(t)
        tracer = None
      }
    }

    private def waitBus(): Unit =
      if (tracer.isDefined) ListenerBusAccess.waitUntilEmpty(spark.sparkContext)

    def runPass(names: Seq[String], index: Int): Unit = {
      heapPools.foreach(_.resetPeakUsage())
      names.foreach(n => runOp(n.trim, index))
      val heapPeak = heapPools.map(_.getPeakUsage.getUsed).sum
      passes += Map("pass" -> index, "traced" -> tracer.isDefined,
        "heap_peak_mb" -> heapPeak / 1048576.0)
    }

    def runOp(name: String, pass: Int): mutable.LinkedHashMap[String, Any] = {
      val id = nextOp
      nextOp += 1
      val traced = tracer.isDefined
      tracer.foreach(_.begin(id))
      val rec = mutable.LinkedHashMap[String, Any](
        "id" -> id, "pass" -> pass, "name" -> name, "traced" -> traced, "status" -> "ok")
      val opSpan = s"o$id"
      val startEpoch = System.currentTimeMillis()
      val gc0 = gcMs
      val cpu0 = cpuNs
      val io0 = writtenBytes
      val t0 = System.nanoTime()
      var tBuilt = t0
      var columns: Array[String] = null
      var rows: Array[Row] = null
      try {
        if (name == "caic") caic(id, opSpan, rec)
        else {
          val df = SparkEntry.queries(name)(spark, a.data)
          tBuilt = System.nanoTime()
          columns = df.columns
          rows = df.collect()
        }
      } catch {
        case e: Throwable =>
          rec("status") = "error"
          rec("error") = e.getClass.getName
          System.err.println(s"[perfbench] op $id $name failed: ${e.getClass.getName}: ${e.getMessage}")
      }
      val t1 = System.nanoTime()
      val cpu1 = cpuNs
      val gc1 = gcMs
      val io1 = writtenBytes
      if (rows != null) {
        val (n, d) = Digest.of(columns, rows)
        rec("rows") = n
        rec("digest") = d
      }
      rec("caches_registered") = Caches.pendingCount
      val gc2 = gcMs
      val cpu2 = cpuNs
      val io2 = writtenBytes
      val t2 = System.nanoTime()
      Caches.drain()
      val t3 = System.nanoTime()
      val cpu3 = cpuNs
      val gc3 = gcMs
      val io3 = writtenBytes
      waitBus()
      val (files, bytes) = writtenSince(startEpoch)
      rec("op_ms") = (t1 - t0) / 1e6
      rec("build_ms") = (tBuilt - t0) / 1e6
      rec("execute_ms") = (t1 - tBuilt) / 1e6
      rec("drain_ms") = (t3 - t2) / 1e6
      rec("cpu_ms") = ((cpu1 - cpu0) + (cpu3 - cpu2)) / 1e6
      rec("gc_ms") = (gc1 - gc0) + (gc3 - gc2)
      rec("write_bytes") = (io1 - io0) + (io3 - io2)
      rec("disk_files") = files
      rec("disk_bytes") = bytes
      if (traced) {
        log.add("op", log.ms(t0), log.ms(t1), id, "-", opSpan)
        if (name != "caic") {
          log.add("build", log.ms(t0), log.ms(tBuilt), id, opSpan, s"b$id")
          log.add("execute", log.ms(tBuilt), log.ms(t1), id, opSpan, s"x$id")
        }
        log.add("drain", log.ms(t2), log.ms(t3), id, "-", s"d$id")
      }
      ops += rec
      rec
    }

    /** One scheduled invocation: fetch both documents, run the pipeline
      * through collect, submit the FeatureCollection. */
    private def caic(id: Int, opSpan: String, rec: mutable.LinkedHashMap[String, Any]): Unit = {
      val k = nextDoc % docs.size
      nextDoc += 1
      val (areas, products) = docs(k)
      rec("doc") = k
      var fetchMs, submitMs = 0.0
      val traced = tracer.isDefined
      def timed[A](layer: String)(body: => A): (A, Double) = {
        val s = now
        val r = body
        val e = now
        if (traced) log.add(layer, s, e, id, opSpan)
        (r, e - s)
      }
      val fetcher = new CaicJob.Fetcher {
        def fetch(url: String): String = {
          val (body, ms) = timed("caic.fetch") {
            if (url.contains("%2Fproducts%2Fall%2Farea")) areas else products
          }
          fetchMs += ms
          body
        }
      }
      val file = submitDir.resolve(s"sub_$id.json")
      val submitter = new CaicJob.Submitter {
        def submit(body: String): Unit = {
          val (_, ms) = timed("caic.submit") {
            Files.createDirectories(submitDir)
            Files.write(file, body.getBytes(StandardCharsets.UTF_8))
          }
          submitMs += ms
        }
      }
      rec("submitted") = file.getFileName.toString
      try CaicJob.runOnce(spark, fetcher, submitter, config)
      finally {
        rec("fetch_ms") = fetchMs
        rec("submit_ms") = submitMs
      }
    }

    /** Files under the tmpdir written since `epochMs`: count and bytes. */
    private def writtenSince(epochMs: Long): (Long, Long) = {
      var files, bytes = 0L
      val it = Files.walk(tmp)
      try it.iterator.asScala.foreach { p =>
        try {
          if (Files.isRegularFile(p) && Files.getLastModifiedTime(p).toMillis >= epochMs) {
            files += 1
            bytes += Files.size(p)
          }
        } catch { case _: java.io.IOException => () }
      } finally it.close()
      (files, bytes)
    }

    def write(setups: Seq[Double]): Unit = {
      val rss = Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong / 1024.0)
      val counters =
        if (a.trace) tracerInstance.countersByOp.map { case (k, v) => k.toString -> v }
        else Map.empty
      val spans = log.spans.map(s => Map("id" -> s.id, "name" -> s.name, "start" -> s.start,
        "end" -> s.end, "op" -> s.op, "parent" -> s.parent))
      val out = mutable.LinkedHashMap[String, Any](
        "workload" -> a.workload,
        "setups_s" -> setups,
        "cores" -> a.cores,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "spark_version" -> spark.version,
        "peak_rss_mb" -> rss,
        "ops" -> ops,
        "passes" -> passes,
        "counters" -> counters,
        "spans" -> spans)
      Files.write(Paths.get(a.out), Json.write(out).getBytes(StandardCharsets.UTF_8))
    }
  }
}
