package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Command line of one benchmark run (see perfbench/run.py). */
final case class Args(workload: String, seed: Long, seconds: Double,
                      trace: Boolean, smoke: Boolean, work: String,
                      spans: Option[String] = None)

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v
      case a => throw new IllegalArgumentException(s"bad arguments: ${a.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k missing"))
    val size = kv.getOrElse("size", "full")
    require(size == "full" || size == "smoke", s"--size must be full or smoke: $size")
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", size == "smoke", need("work"), kv.get("spans"))
  }
}

/** What a workload reports: its throughput (the gated end-to-end slot),
  * its named end-to-end metrics, and (traced runs) its per-layer metrics. */
final case class Outcome(throughputPerS: Double,
                         named: Seq[(String, Double, String)],
                         layers: Seq[(String, Double, String)])

/**
 * Everything a workload needs: the session, the tracer, the probe, the
 * run's scratch directory, set-up timing, operation samples and the
 * correctness-check ledger.
 */
final class Ctx(val args: Args) {
  val nproc: Int = Runtime.getRuntime.availableProcessors
  /** Records spans in a traced run only: for the traced operations of
    * [[measure]], and for bbox_serve's replays after its loop. */
  val tracer = new Tracer(false)
  val probe: Option[SparkProbe] = if (args.trace) Some(new SparkProbe) else None
  var spark: SparkSession = _
  private var sessionStartS = 0.0
  private val stagingS = ArrayBuffer.empty[Double]
  private var warmupS = 0.0
  var attempted = 0L
  var failed = 0L
  val checkFailures = ArrayBuffer.empty[String]
  /** Wall-clock (ms) interval of every measured operation. */
  val opIntervals = ArrayBuffer.empty[(Long, Long)]
  /** (operation name, traced, wall seconds) of every measured operation. */
  private val samples = ArrayBuffer.empty[(String, Boolean, Double)]
  private val tracedWindows = ArrayBuffer.empty[(Long, Long)]
  private var codegenNs = 0L

  def dir(name: String): String = Paths.get(args.work, name).toString

  private val jvmStartMs =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** Progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench +${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.1fs] $msg")

  /** (Re)start the session at local[threads]; listeners re-attach. */
  def startSession(threads: Int): SparkSession = {
    if (spark != null) { spark.stop(); probe.foreach(_.reset()) }
    val s = SparkSession.builder()
      .master(s"local[$threads]")
      .appName(s"perfbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", threads)
      .config("spark.default.parallelism", threads)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", dir("spark-local"))
      .config("spark.sql.warehouse.dir", dir("warehouse"))
      .config("spark.graft.scratchDir", dir("scratch"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    probe.foreach { p =>
      s.sparkContext.addSparkListener(p)
      s.listenerManager.register(p)
    }
    spark = s
    s
  }

  /** JVM start to a ready session: the first, once-per-run part of set-up. */
  def markSessionReady(): Unit = {
    sessionStartS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    log("session ready")
  }

  /** Input staging, repeated `reps` times; set-up counts the median rep. */
  def stage(reps: Int)(body: Int => Unit): Unit = (0 until reps).foreach { i =>
    val t0 = System.nanoTime()
    body(i)
    stagingS += (System.nanoTime() - t0) / 1e9
    log(f"staging ${i + 1}/$reps: ${stagingS.last}%.2f s")
  }

  def warmup(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    val d = (System.nanoTime() - t0) / 1e9
    warmupS += d
    log(f"warm-up: $d%.2f s")
  }

  def setupS: Double =
    sessionStartS + (if (stagingS.isEmpty) 0.0 else Stats.median(stagingS.toSeq)) + warmupS

  /** One measured operation: its wall time (s) is kept under `name`, with
    * its wall-clock interval for attributing Spark counters. An exception
    * counts as a failed operation and propagates. */
  def op[T](name: String)(body: => T): T = {
    attempted += 1
    val c0 = CodeGenerator.compileTime
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try tracer.request(name)(body)
    catch { case e: Throwable => failed += 1; throw e }
    finally {
      samples += ((name, tracer.enabled, (System.nanoTime() - t0) / 1e9))
      opIntervals += ((w0, System.currentTimeMillis()))
      codegenNs += CodeGenerator.compileTime - c0
    }
  }

  /** One line per operation name: its wall times (ms), in run order. */
  def sampleLines: Seq[String] = samples.groupBy(_._1).toSeq.sortBy(_._1).map {
    case (n, ss) => f"samples $n%-10s ms: " + ss.map(x => f"${x._3 * 1e3}%.0f").mkString(" ")
  }

  /** Wall times (s) of the operations recorded under `name`. */
  def times(name: String): Seq[Double] =
    samples.collect { case (n, _, s) if n == name => s }.toSeq

  /**
   * Runs `body` (which calls [[op]]) until `seconds` have passed, at least
   * `min` times. A traced run traces half of the operations, so that the
   * other half is a same-run baseline for the tracing overhead: groups of
   * `period` operations are traced in the order U T T U, repeated, and
   * within a group every other operation flips, so traced and untraced
   * operations sit side by side and a warm-up trend affects both alike.
   * Each position in a group is traced as often as not over a round of four
   * groups, and a traced run measures whole rounds.
   */
  def measure(seconds: Double, min: Int = 1, period: Int = 1)(body: Int => Unit): Unit = {
    def traced(i: Int) = args.trace && (i % period + (i / period + 1) / 2) % 2 == 1
    val t0 = System.nanoTime()
    val end = t0 + (seconds * 1e9).toLong
    var i = 0
    while (i < min || System.nanoTime() < end ||
        (args.trace && (i < 4 * period || i % (4 * period) != 0))) {
      tracer.enabled = traced(i)
      val s0 = System.nanoTime()
      try body(i) finally tracer.enabled = false
      if (traced(i)) tracedWindows += ((s0, System.nanoTime()))
      i += 1
    }
    log(f"measured $i operations in ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }

  /** A correctness check: counted as attempted; a false result counts as
    * failed and fails the run. */
  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      checkFailures += s"$name $detail"
      System.err.println(s"[perfbench] CHECK FAILED: $name $detail")
    }
  }

  private val wallBaseMs = System.currentTimeMillis()
  private val nanoBase = System.nanoTime()
  private def wallMs(nano: Long): Long = wallBaseMs + (nano - nanoBase) / 1000000L

  /** Spark counters of the traced spans named `name`, per span. */
  def counters(name: String): SparkCounters = {
    val p = probe.get
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
    p.counters(tracer.spans.filter(_.name == name).map(s => (wallMs(s.t0), wallMs(s.t1))).toSeq)
  }

  /** Median duration (ms) of the traced spans named `name`. */
  def spanMs(name: String): Double = {
    val d = tracer.spans.filter(_.name == name).map(s => (s.t1 - s.t0) / 1e6).toSeq
    if (d.isEmpty) 0.0 else Stats.median(d)
  }

  /** Spark counters and codegen time of the measured operations so far,
    * per operation; empty without tracing. */
  def sparkLayer(): Seq[(String, Double, String)] = probe.toSeq.flatMap { p =>
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
    val n = math.max(1, opIntervals.size)
    p.counters(opIntervals.toSeq).metrics(codegenNs / 1e6 / n)
  }

  /** Layer self times per traced operation, the share of the traced
    * windows no span covers, and the tracing overhead: the median traced
    * operation over the median untraced one of the same name, minus 1,
    * averaged over the names in `overheadOps` (all names if empty): those
    * whose operations do the same work traced and untraced. */
  def traceLayer(overheadOps: Set[String] = Set.empty): Seq[(String, Double, String)] = {
    val self = tracer.selfTimeNs
    val opNames = samples.map(_._1).toSet
    val n = math.max(1, tracer.spans.count(s => s.parent < 0 && opNames(s.name)))
    val covered = tracedWindows.map { case (a, b) => (b - a) * (1 -
      tracer.uncoveredShare(a, b)) }.sum
    val total = tracedWindows.map { case (a, b) => (b - a).toDouble }.sum
    val ratios = samples.filter(s => overheadOps.isEmpty || overheadOps(s._1))
        .groupBy(_._1).values.flatMap { ss =>
      val on = ss.filter(_._2).map(_._3).toSeq
      val off = ss.filterNot(_._2).map(_._3).toSeq
      if (on.isEmpty || off.isEmpty) None
      else Some(Stats.median(on) / Stats.median(off) - 1)
    }
    Main.Layers.map(l => (s"self_ms.$l", self.getOrElse(l, 0L) / 1e6 / n, "ms")) ++ Seq(
      ("trace.uncovered_share", if (total > 0) 1 - covered / total else 0.0, "ratio"),
      ("trace.overhead_ratio",
        if (ratios.isEmpty) 0.0 else ratios.sum / ratios.size, "ratio"))
  }
}

object Main {
  /** The layers the benchmark times from outside, by module name. */
  val Layers = Seq("functions", "cells", "PlanetExtract", "sources", "serving",
    "ImageTable", "SnapshotLog", "Knn", "SpatialJoin", "Dedup", "spark")

  /** Per-layer metrics every traced run reports (0 where the workload
    * bypasses the layer), in BENCHMARK.json order. */
  val LayerMetrics: Seq[(String, String)] = Seq(
    "functions.geocode_ns_per_row" -> "ns", "functions.pip_ns_per_row" -> "ns",
    "cells.cover_rects_per_request" -> "count", "cells.cover_ms" -> "ms",
    "PlanetExtract.plan_ms" -> "ms", "PlanetExtract.exec_ms" -> "ms",
    "PlanetExtract.jobs_per_request" -> "count",
    "PlanetExtract.files_read_per_request" -> "count",
    "PlanetExtract.files_pruned_ratio" -> "ratio",
    "PlanetExtract.writeTables_s" -> "s",
    "sources.pbf_encode_ms" -> "ms", "sources.pbf_bytes_per_entity" -> "bytes",
    "serving.overhead_ms" -> "ms",
    "ImageTable.ingest_s" -> "s", "ImageTable.ingest_jobs" -> "count",
    "ImageTable.files_written" -> "count",
    "ImageTable.max_partition_rows" -> "count",
    "ImageTable.readCommitted_ms" -> "ms", "SnapshotLog.read_ms" -> "ms",
    "Knn.jobs" -> "count", "Knn.candidate_rows_per_result" -> "ratio",
    "Knn.shuffle_bytes" -> "bytes",
    "SpatialJoin.pip_tests_per_match" -> "ratio",
    "SpatialJoin.shuffle_bytes" -> "bytes",
    "Dedup.minhashLsh_s" -> "s", "Dedup.cc_s" -> "s", "Dedup.cc_jobs" -> "count",
    "Dedup.verified_per_candidate" -> "ratio", "Dedup.probe_s" -> "s",
    "Dedup.probe_jobs" -> "count", "Dedup.index_files_pruned_ratio" -> "ratio",
    "Dedup.append_s" -> "s") ++
    Seq("spark.plan_ms" -> "ms", "spark.codegen_ms" -> "ms", "spark.jobs" -> "count",
      "spark.stages" -> "count", "spark.tasks" -> "count",
      "spark.sched_wait_ms" -> "ms", "spark.executor_run_s" -> "s",
      "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s",
      "spark.input_bytes" -> "bytes", "spark.shuffle_write_bytes" -> "bytes",
      "spark.spill_bytes" -> "bytes", "spark.task_skew" -> "ratio",
      "spark.task_failures" -> "count") ++
    Layers.map(l => s"self_ms.$l" -> "ms") ++
    Seq("trace.uncovered_share" -> "ratio", "trace.overhead_ratio" -> "ratio")

  private val workloads: Map[String, Ctx => Outcome] = Map(
    "tile_scan" -> TileScan.run,
    "bbox_serve" -> BboxServe.run,
    "ingest_join" -> IngestJoin.run,
    "corpus_dedup" -> CorpusDedup.run)

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  /** Runs two workloads once at smoke size in this JVM, printing
    * nothing: the build's training run, whose loaded classes become the
    * class-data-sharing archive later runs start from. These two load the
    * broadest set (writes, joins, windows, the HTTP server). */
  private def train(work: String): Unit = Seq("bbox_serve", "ingest_join").foreach { name =>
    val run = workloads(name)
    val ctx = new Ctx(Args(name, 1L, 1.0, trace = false, smoke = true, s"$work/$name"))
    Files.createDirectories(Paths.get(ctx.args.work))
    ctx.startSession(ctx.nproc)
    try run(ctx) finally ctx.spark.stop()
  }

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    if (args.workload == "train") { train(args.work); return }
    val run = workloads.getOrElse(args.workload, throw new IllegalArgumentException(
      s"unknown workload ${args.workload}; one of ${workloads.keys.mkString(", ")}"))
    Files.createDirectories(Paths.get(args.work))
    val ctx = new Ctx(args)
    ctx.startSession(ctx.nproc)
    ctx.markSessionReady()
    val out = try run(ctx) finally if (ctx.spark != null) ctx.spark.stop()
    ctx.log("done")
    args.spans.foreach { p =>
      import scala.jdk.CollectionConverters._
      Files.write(Paths.get(p), ctx.tracer.spans.map(_.json).asJava)
    }

    val rss = peakRssMb()
    val failRatio = ctx.failed.toDouble / math.max(1L, ctx.attempted)
    val named = Seq(("setup_s", ctx.setupS, "s"), ("peak_rss_mb", rss, "MB"),
      ("fail_ratio", failRatio, "failed/attempted")) ++ out.named
    println(s"workload ${args.workload} seed ${args.seed} size " +
      s"${if (args.smoke) "smoke" else "full"} nproc ${ctx.nproc}")
    named.foreach { case (k, v, u) => println(f"metric $k%-26s ${num(v)} $u") }
    out.layers.foreach { case (k, v, u) => println(f"layer  $k%-38s ${num(v)} $u") }
    ctx.sampleLines.foreach(println)
    ctx.checkFailures.foreach(f => println(s"check failed: $f"))

    val metrics: Seq[(String, Double, String)] =
      if (!args.trace)
        Seq(("setup_s", ctx.setupS, "s"), ("throughput_per_s", out.throughputPerS, "1/s"))
      else {
        val have = out.layers.map(l => l._1 -> l._2).toMap
        LayerMetrics.map { case (k, u) => (k, have.getOrElse(k, 0.0), u) }
      }
    val json = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": ${ctx.failed == 0}, "attempted": ${ctx.attempted}, """ +
      s""""failed": ${ctx.failed}, "metrics": {$json}}""")
    System.out.flush()
    if (ctx.failed > 0) sys.exit(1)
  }
}
