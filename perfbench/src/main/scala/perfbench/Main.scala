package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import graft.GraftSession

/** Result of one measured operation. `ns` is only meaningful when `ok`. */
final case class OpResult(id: Long, kind: String, ns: Long, ok: Boolean, gcMs: Long, compiles: Long)

/** Runs one workload in this process and prints, as the last line of
  * stdout, `{"correct", "attempted", "failed", "metrics"}`: the
  * end-to-end metrics untraced (`--trace 0`), the per-layer metrics
  * traced (`--trace 1`). Lines before it are the human report.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --bench <perfbench dir> --work <scratch dir> --results <dir>
  *   perfbench.Main --capture-fingerprints --bench <dir> --work <dir>
  */
object Main {
  /** The workloads BENCHMARK.json lists. ingest_snapshot runs on request
    * only: with its set-ups and loop the listed runs would not fit their
    * time budget, and lake_serve's set-up already times one ingest.
    */
  val Listed: Seq[String] = Seq("lake_serve", "registry_hot")
  val Workloads: Seq[String] = Listed :+ "ingest_snapshot"
  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 3

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_ms" -> "ms", "cycle_s" -> "s", "peak_rss_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = Seq(
    "listing.fetch_ms" -> "ms", "listing.parse_ms" -> "ms", "listing.entries" -> "count",
    "manifest.build_ms" -> "ms", "manifest.tables" -> "count", "manifest.files" -> "count",
    "catalog.list_tables_ms" -> "ms", "catalog.list_partitions_ms" -> "ms",
    "catalog.ensure_table_ms" -> "ms", "gate.tables_skipped" -> "count",
    "ingest.fetch_stage_ms" -> "ms", "ingest.decode_write_ms" -> "ms",
    "ingest.csv_bytes" -> "bytes", "ingest.parquet_bytes" -> "bytes", "ingest.parquet_files" -> "count",
    "ingestjob.run_ms" -> "ms", "ingestjob.tables_failed" -> "count",
    "http.gets" -> "count", "http.bytes_served" -> "bytes", "http.gets_per_file" -> "ratio",
    "lake.build_ms" -> "ms", "lake.plan_ms" -> "ms", "lake.exec_ms" -> "ms",
    "registry.build_ms" -> "ms", "registry.plan_ms" -> "ms", "registry.exec_ms" -> "ms",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.shuffle_read_bytes" -> "bytes", "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.executor_run_ms" -> "ms", "spark.task_overhead_ms" -> "ms",
    "jvm.gc_ms" -> "ms", "jvm.codegen_compiles" -> "count") ++
    RegistryHot.Rows.flatMap(q => Seq(
      s"registry.$q.exec_ms" -> "ms", s"registry.$q.tasks" -> "count", s"registry.$q.jobs" -> "count"))

  /** Span name behind each per-layer time; the listener's job spans carry
    * a `job:` prefix so they never merge with the client span of a probe.
    */
  private val SpanOf: Map[String, String] = Map(
    "listing.fetch_ms" -> "listing.fetch", "listing.parse_ms" -> "listing.parse",
    "manifest.build_ms" -> "manifest.build", "catalog.list_tables_ms" -> "catalog.list_tables",
    "catalog.list_partitions_ms" -> "catalog.list_partitions",
    "catalog.ensure_table_ms" -> "catalog.ensure_table",
    "ingest.fetch_stage_ms" -> "job:ingest.fetch_stage",
    "ingest.decode_write_ms" -> "job:ingest.decode_write", "ingestjob.run_ms" -> "ingestjob.run",
    "lake.build_ms" -> "lake.build", "lake.plan_ms" -> "lake.plan", "lake.exec_ms" -> "lake.exec",
    "registry.build_ms" -> "registry.build", "registry.plan_ms" -> "registry.plan",
    "registry.exec_ms" -> "registry.exec")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val bench = new File(opts("bench"))
    val work = new File(opts("work"))
    work.mkdirs()
    val nproc = Runtime.getRuntime.availableProcessors
    if (args.contains("--capture-fingerprints")) {
      val env = Env(0, nproc, work, bench, new Tracer(false), new LayerCounts)
      val spark = session(nproc, work)
      new RegistryHot(env).capture(spark)
      spark.stop()
      return
    }
    val name = opts("workload")
    require(Workloads.contains(name), s"unknown workload $name; one of ${Workloads.mkString(", ")}")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val results = new File(opts("results"))
    results.mkdirs()
    // exit explicitly: Spark and the site leave non-daemon threads behind
    val exit =
      try run(name, seed, seconds, traced, bench, work, results, nproc)
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(exit)
  }

  def session(nproc: Int, work: File): SparkSession = {
    val spark = GraftSession.builder(s"local[$nproc]")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)
    spark
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def peakRssMb(): Double =
    Files.readAllLines(new File("/proc/self/status").toPath).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private def run(name: String, seed: Long, seconds: Double, traced: Boolean, bench: File,
                  work: File, results: File, nproc: Int): Int = {
    val tracer = new Tracer(traced)
    val counts = new LayerCounts
    val env = Env(seed, nproc, work, bench, tracer, counts)
    val tGen = System.nanoTime()
    val wl = perfbench.Workloads(name, env)
    val genS = (System.nanoTime() - tGen) / 1e9

    var spark: SparkSession = null
    def setUp(): Double = {
      if (spark != null) { wl.teardown(); spark.stop() }
      val t0 = System.nanoTime()
      spark = session(nproc, work)
      wl.setup(spark)
      val s = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] set-up took $s%.2f s")
      s
    }
    val setups = (1 to SetupReps).map(_ => setUp())
    // a fixed number of operations, not a fixed time, so that every run
    // starts measuring from the same JIT state however fast the machine is
    (0L until wl.warmupOps).foreach(w => wl.op(w).run()())
    val counters = new SparkCounters(tracer)
    spark.sparkContext.addSparkListener(counters)
    wl.measuring()

    val ops = scala.collection.mutable.ArrayBuffer.empty[OpResult]
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    var i = 0L
    while (System.nanoTime() < deadline) {
      val op = wl.op(i)
      val id = i + 1
      tracer.op = id
      spark.sparkContext.setJobGroup(SparkCounters.group(id), op.kind, interruptOnCancel = false)
      val (gc0, c0) = (gcMs(), compiles())
      val t0 = System.nanoTime()
      val outcome =
        try {
          val check = try tracer.span(op.kind)(op.run()) finally spark.sparkContext.clearJobGroup()
          val ns = System.nanoTime() - t0
          check()
          Right(ns)
        } catch { case NonFatal(e) => Left(e) }
      outcome.left.foreach(e => System.err.println(s"[perfbench] op $id ${op.kind} failed: $e"))
      ops += OpResult(id, op.kind, outcome.getOrElse(0L), outcome.isRight, gcMs() - gc0, compiles() - c0)
      i += 1
    }
    val measuredS = (System.nanoTime() - start) / 1e9
    System.err.println(f"[perfbench] measured ${ops.size} ops in $measuredS%.2f s")
    counters.drain()
    val ok = ops.filter(_.ok).toSeq
    val failed = ops.count(!_.ok)
    val rss = peakRssMb()

    val summary = if (ok.isEmpty) Summary(0, 0, Nil) else wl.summary(ok)
    val endToEnd = Map("setup_s" -> Stats.median(setups), "op_ms" -> summary.opMs,
      "cycle_s" -> summary.cycleS, "peak_rss_mb" -> rss)
    val okIds = ok.map(_.id).toSet
    val spans = tracer.spans.filter(s => okIds(s.op))
    val perLayer = if (traced) layerMetrics(spans, ok, counters, counts, wl.layerCounts(ok)) else Map.empty[String, Double]

    val header = f"perfbench $name seed=$seed local[$nproc] closed loop, 1 client, " +
      f"${measuredS}%.1f s measured, trace=${if (traced) 1 else 0}"
    val figures =
      Seq(Figure("setup_s", endToEnd("setup_s"), "s", setups.size),
        Figure("op_ms", summary.opMs, "ms", ok.size), Figure("cycle_s", summary.cycleS, "s", ok.size),
        Figure("peak_rss_mb", rss, "MB", 1),
        Figure("error_rate", if (ops.isEmpty) 1.0 else failed.toDouble / ops.size, "ratio", ops.size),
        Figure("input_gen_s", genS, "s", 1)) ++ summary.figures
    println(header)
    figures.foreach(f => println(f"  ${f.name}%-34s ${f.value}%14.4f  ${f.unit}%-6s n=${f.samples}"))
    val selfRows = if (traced) Spans.byName(spans) else Nil
    if (traced) {
      val opNs = ok.map(_.ns).sum.toDouble.max(1)
      println(f"  self time by layer (per op that ran it; share of all op time):")
      selfRows.foreach { l =>
        println(f"    ${l.name}%-34s self ${l.selfNs / 1e6 / l.ops}%10.2f ms  total ${l.totalNs / 1e6 / l.ops}%10.2f ms  ops ${l.ops}%5d  share ${100 * l.selfNs / opNs}%5.1f%%")
      }
    }

    val correct = failed == 0 && ok.nonEmpty
    val metrics = if (traced) PerLayer.map { case (m, u) => m -> (perLayer.getOrElse(m, 0.0), u) }
                  else EndToEnd.map { case (m, u) => m -> (endToEnd(m), u) }
    val line = Json.obj(Seq(
      "correct" -> Json.bool(correct), "attempted" -> ops.size.toString, "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (m, (v, u)) =>
        m -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })))

    val tag = s"$name-seed$seed-trace${if (traced) 1 else 0}"
    Files.writeString(new File(results, s"$tag.json").toPath, Json.obj(Seq(
      "header" -> Json.str(header),
      "figures" -> Json.arr(figures.map(f => Json.obj(Seq("name" -> Json.str(f.name),
        "value" -> Json.num(f.value), "unit" -> Json.str(f.unit), "samples" -> f.samples.toString)))),
      "self_time" -> Json.arr(selfRows.map(l => Json.obj(Seq("name" -> Json.str(l.name),
        "ops" -> l.ops.toString, "count" -> l.count.toString,
        "total_ms" -> Json.num(l.totalNs / 1e6), "self_ms" -> Json.num(l.selfNs / 1e6))))),
      "op_ms_total" -> Json.num(ok.map(_.ns).sum / 1e6),
      "setups_s" -> Json.arr(setups.map(Json.num)),
      "ops" -> Json.arr(ops.toSeq.map(o => Json.obj(Seq("kind" -> Json.str(o.kind),
        "ms" -> Json.num(o.ns / 1e6), "ok" -> Json.bool(o.ok))))),
      "result" -> line)) + "\n")
    if (traced) Files.writeString(new File(results, s"$tag.spans.jsonl").toPath,
      spans.map(s => Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
        "op" -> s.op.toString, "name" -> Json.str(s.name), "start_ns" -> s.startNs.toString,
        "end_ns" -> s.endNs.toString))).mkString("\n") + "\n")

    wl.teardown()
    wl.close()
    spark.stop()
    println(line)
    0
  }

  private def layerMetrics(spans: Seq[Span], ok: Seq[OpResult], counters: SparkCounters,
                           counts: LayerCounts, own: Map[String, Double]): Map[String, Double] = {
    /** Mean over the operations that ran the span of its summed duration. */
    def spanMs(ss: Seq[Span]): Double =
      if (ss.isEmpty) 0.0 else ss.map(_.durNs).sum / 1e6 / ss.map(_.op).distinct.size
    def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val engine = ok.map(o => counters.of(o.id).toMap)
    val times = SpanOf.map { case (m, s) => m -> spanMs(spans.filter(_.name == s)) }
    val named = Seq("listing.entries", "manifest.tables", "manifest.files", "gate.tables_skipped",
      "ingest.csv_bytes", "ingest.parquet_bytes", "ingest.parquet_files", "ingestjob.tables_failed")
      .map(m => m -> counts.meanPerOp(m))
    val sparkMeans = PerLayer.map(_._1).filter(_.startsWith("spark."))
      .map(m => m -> mean(engine.map(_(m))))
    val jvm = Seq("jvm.gc_ms" -> mean(ok.map(_.gcMs.toDouble)),
      "jvm.codegen_compiles" -> mean(ok.map(_.compiles.toDouble)))
    val perRow = RegistryHot.Rows.flatMap { q =>
      val rowOps = ok.filter(_.kind == s"row.$q")
      val ids = rowOps.map(_.id).toSet
      val c = rowOps.map(o => counters.of(o.id))
      Seq(s"registry.$q.exec_ms" -> spanMs(spans.filter(s => s.name == "registry.exec" && ids(s.op))),
        s"registry.$q.tasks" -> mean(c.map(_.tasks.get.toDouble)),
        s"registry.$q.jobs" -> mean(c.map(_.jobs.get.toDouble)))
    }
    times ++ named ++ sparkMeans ++ jvm ++ perRow ++ own
  }
}

/** Just enough JSON writing for the result line and the run files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else BigDecimal(v).toString
  def bool(b: Boolean): String = b.toString
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
}
