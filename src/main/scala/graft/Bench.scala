package graft

import org.apache.spark.sql.DataFrame
import java.nio.file.{Files, Paths}

/** The COMPACT artifact line — the one the driver actually parses.
  *
  * The driver's stdout capture keeps only the LAST 2000 chars and parses
  * the last line; everything here exists to make that one line carry the
  * judgeable signal regardless of registry growth:
  *
  *   - per-query values are the MIN of the reps, not the median. On a
  *     shared box the median absorbs contention spikes (round 9: q113
  *     official 18.1 s vs 2.6 s committed detail — unexplainable from
  *     the official artifact alone); the min is the code's actual cost
  *     and is what regressions must be judged by. Values are integer
  *     DECISECONDS (see [[fmtDs]]); `"qv":"min_ds"` marks both
  *     semantics in-band. Medians + per-rep arrays + per-rep JVM
  *     counters stay in the detail line (bench.json).
  *   - entries are ordered SLOWEST-FIRST and the map is capped to the
  *     budget: when the registry outgrows the tail window the FASTEST
  *     rows drop first, each omission accounted by `"omitted":K,
  *     "omitted_max":V` (every omitted row's min <= V — a sub-omitted_max
  *     row cannot hide a regression bigger than omitted_max). Errors are
  *     never dropped. Zero/empty-valued accounting fields (`omitted`,
  *     `omitted_max`, `errors`, `errors_omitted`) are ABSENT —
  *     absence == 0/empty, ContractSpec-pinned — which buys 5-6 extra
  *     per-query rows on the common full-coverage run.
  *
  * Pure string-building over (name, median, reps) rows so ContractSpec
  * can exercise the budget/capping behavior on synthetic registries
  * (the 200+-row model) without running a bench.
  */
object BenchFormat {
  /** Stay under the driver's 2000-char tail capture. The compact line is
    * always the LAST stdout line, so the tail always contains it whole
    * as long as length + newline fits; the 40-char margin absorbs the
    * newline plus a log-framework line prefix ("[info] "-sized).
    */
  val TailBudget = 1960

  /** The compact line carries only the BASENAME of the sf dir ("sf0.1")
    * — the full path stays in the detail line; the 15 saved chars are
    * ~1.5 per-query rows of zero-omission headroom.
    */
  def sfLabel(sfDir: String): String = {
    val base = java.nio.file.Paths.get(sfDir).getFileName
    if (base == null) sfDir else base.toString
  }

  /** "q113_window_sql_verbatim" -> "113": every query name is qNN_...,
    * so the bare number is unambiguous (ContractSpec pins uniqueness).
    */
  def shortKey(k: String): String = k.takeWhile(_ != '_').stripPrefix("q")

  /** Per-query values are integer DECISECONDS ("113":24 = 2.4 s),
    * marked in-band by `"qv":"min_ds"`: 100 ms resolution at 1-2 chars
    * per row, which is what keeps a 230-row registry inside the tail
    * budget with zero omission. Clamped to 9999 (999.9 s — a query that
    * slow at sf0.1 is already a catastrophic regression; the exact
    * magnitude lives in the detail line). Errors stay -1. Full 1 ms
    * precision stays in bench.json; `total`/`total_min` stay seconds.
    */
  def fmtDs(v: Double): String =
    if (v < 0) "-1" else math.min(math.round(v * 10), 9999L).toString

  /** The timing rule: a query's reported value is the median of its
    * reps, and any failed rep (-1) makes it -1 — never a partial time,
    * so a regression can't masquerade as a speedup.
    */
  def medianOrFailed(reps: Seq[Double]): Double = {
    val sorted = reps.sorted
    if (sorted.isEmpty || sorted.head < 0) -1.0 else sorted(sorted.length / 2)
  }

  /** Per-row min of the successful reps; degenerate rep lists (empty, or
    * every rep negative) fall back to the median instead of throwing —
    * the formatter must never be the thing that kills a snapshot write.
    */
  def rowMin(median: Double, ts: Seq[Double]): Double =
    if (median < 0) -1.0
    else ts.filter(_ >= 0).minOption.getOrElse(median)

  /** (total, total_min) in seconds over the successful rows: the sum of
    * medians and the sum of per-row mins. A contended window shows as
    * total >> total_min. Shared by the detail and the compact line.
    */
  def totals(rows: Seq[(String, Double, Seq[Double])]): (Double, Double) = {
    val ok = rows.filter(_._2 >= 0)
    (ok.map(_._2).sum, ok.map { case (_, v, ts) => rowMin(v, ts) }.sum)
  }

  /** Cap on named error entries: a mass-failure run (every row
    * erroring) must not push the line past the budget via the errors
    * array alone — beyond the cap, `errors_omitted` carries the count
    * (the detail line still names every failure).
    */
  val MaxNamedErrors = 40

  /** rows = (fullName, medianOrMinus1, perRepSeconds). */
  def compactLine(rows: Seq[(String, Double, Seq[Double])], sfDir: String,
                  budget: Int = TailBudget): String = {
    val (total, totalMin) = totals(rows)
    val errKeys = rows.collect { case (k, v, _) if v < 0 => "\"" + shortKey(k) + "\"" }
    val errorsField =
      if (errKeys.isEmpty) ""
      else s""""errors":${errKeys.take(MaxNamedErrors).mkString("[", ",", "]")},"""
    val errorsOmitted = (errKeys.size - MaxNamedErrors).max(0)
    // slowest-first by min (errored rows sort last: the errors array
    // already names them, and a -1 carries no timing signal)
    val ranked = rows.map { case (k, v, ts) => (shortKey(k), rowMin(v, ts)) }
      .sortBy { case (k, mn) => (-mn, k) }
    val entries = ranked.map { case (k, mn) => "\"" + k + "\":" + fmtDs(mn) }
    def lineWith(n: Int): String = {
      val omitted = ranked.drop(n)
      val omittedMax = if (omitted.isEmpty) 0.0 else omitted.map(_._2).max
      val omittedField =
        if (omitted.isEmpty) ""
        else s""""omitted":${omitted.size},"omitted_max":${fmtDs(omittedMax)},"""
      val errOmittedField =
        if (errorsOmitted == 0) "" else s""""errors_omitted":$errorsOmitted,"""
      f"""{"metric":"total","value":$total%.1f,"unit":"sec","total_min":$totalMin%.1f,"qv":"min_ds","queries":${entries.take(n).mkString("{", ",", "}")},$omittedField$errorsField$errOmittedField"sf":"${sfLabel(sfDir)}"}"""
    }
    var n = entries.length
    var line = lineWith(n)
    while (line.length > budget && n > 0) { n -= 1; line = lineWith(n) }
    line
  }
}

/** Benchmark main: runs every registered query on SPARK_GRAFT_SF_DIR
  * (or the SPARK_GRAFT_BENCH_ONLY subset) and reports it in two JSON
  * lines: the DETAIL line (medians, mins, per-rep seconds and JVM
  * counters, full error list) and the [[BenchFormat]] COMPACT line.
  *
  * One timing rule: warm up, time each query [[Reps]] times, report
  * the median ([[BenchFormat.medianOrFailed]]) and the min.
  *
  * Forcing: each query is executed with a noop-sink write
  * (`df.write.format("noop")`), which computes EVERY output column on the
  * executors and discards the rows. Unlike `.count()`, Catalyst cannot
  * prune away the per-row expression work (md5/regex/agg expressions) —
  * the timed number is the cost of producing the full result.
  *
  * Output: both lines are written to bench.json in the working directory
  * after every query, and printed on System.out after spark.stop(),
  * compact line last — the file is the robust channel if a log framework
  * prefixes stdout lines.
  */
object Bench {
  /** Timed reps per query; single-shot numbers swing ±25% on a shared
    * box, the median of three is what the engine actually costs.
    */
  private val Reps = 3

  private def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Cumulative JVM GC time (ms) across all collector beans. */
  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime.max(0L)).sum
  }

  /** Per-rep JVM/engine counters captured AFTER the rep, so a slow rep
    * is attributable from the artifact alone (the round-8 q25 anomaly
    * needed a repro run to even form a hypothesis):
    *   gc  — GC time during the rep (ms, delta)
    *   cgn — whole-stage-codegen compilations so far (cumulative count:
    *         the Janino cache size proxy; a rep that grows it paid a
    *         compile, a warm rep shows +0)
    *   st  — executor storage held by persisted/checkpointed blocks
    *         after the rep (MB): leak detection for the memoized index
    *         artifacts and lineage-cut leaves
    */
  private final case class RepStats(gc: Long, cgn: Long, st: Long)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.get()
    import org.apache.spark.metrics.source.CodegenMetrics
    def storageMb(): Long =
      spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum >> 20
    def repStats(gcBefore: Long): RepStats = RepStats(
      gc = gcMillis() - gcBefore,
      cgn = CodegenMetrics.METRIC_SOURCE_CODE_SIZE.getCount,
      st = storageMb())

    // Optional subset run for perf triage: comma-separated query-name
    // prefixes ("q24,q25,q130"). Warmup + timed passes both honor it.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
    val selected = only match {
      case Some(ps) => SparkEntry.allQueries.filter(q => ps.exists(p =>
        q.name == p || q.name.startsWith(p + "_")))
      case None => SparkEntry.allQueries
    }

    // Warmup: run every query once at the smallest available SF so the
    // timed pass measures steady-state execution, not whole-stage-codegen/
    // janino compilation (measured ~2.5 s of one-time compile on some
    // plans). Generated code is keyed by plan shape, so a small dir warms
    // the same compiled classes the timed sfDir run uses. Warmup dir is
    // the smallest sf* sibling of sfDir; falls back to sfDir itself.
    val warmDir = {
      val parent = Paths.get(sfDir).toAbsolutePath.getParent
      val siblings = Option(parent).map(_.toFile.listFiles()).filter(_ != null)
        .map(_.filter(f => f.isDirectory && f.getName.startsWith("sf")).map(_.getPath))
        .getOrElse(Array.empty[String])
      // NUMERIC sort on the sf suffix: lexicographic would rank sf10
      // before sf2 and warm on a larger dataset than intended
      siblings
        .sortBy(p => Paths.get(p).getFileName.toString.stripPrefix("sf")
          .toDoubleOption.getOrElse(Double.MaxValue))
        .headOption.getOrElse(sfDir)
    }
    selected.foreach { q =>
      // a warmup failure is tolerated (the timed pass reports real
      // failures) but must not be silent: a query that only breaks at
      // warmup scale would otherwise vanish from every artifact
      try force(q.run(spark, warmDir)) catch {
        case e: Throwable =>
          System.err.println(s"[bench] warmup ${q.name} threw: ${e.getMessage}")
      }
    }
    // release warmup-dir index artifacts (shingle/signature/IVF caches):
    // they are useless for the timed dir and would hold executor storage
    // through the run the warmup exists to stabilize
    graft.queries.QueryCaches.clear()

    // (name, median, repsInEXECUTIONorder, perRepStats)
    val results = scala.collection.mutable.ArrayBuffer
      .empty[(String, Double, Seq[Double], Seq[RepStats])]
    def rows = results.toSeq.map { case (k, v, ts, _) => (k, v, ts) }

    def detailLine(): String = {
      def obj(kvs: Iterable[(String, String)]): String =
        kvs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
      def secs(t: Double): String = f"$t%.3f"
      val qs = obj(results.map { case (k, v, _, _) => k -> secs(v) })
      val qsMin = obj(results.map { case (k, v, ts, _) =>
        k -> secs(BenchFormat.rowMin(v, ts)) })
      // per-rep arrays in EXECUTION order: the round-8 q25 anomaly (rep
      // pattern 2.2/2.4/4.4) was only interpretable once order was known
      val qsReps = obj(results.map { case (k, _, ts, _) =>
        k -> ts.map(secs).mkString("[", ",", "]") })
      // per-rep JVM/engine counters, execution order, aligned with
      // queries_reps: [gc_ms, codegen_count, storage_mb] per rep
      val qsJvm = obj(results.map { case (k, _, _, ss) =>
        k -> ss.map(s => s"[${s.gc},${s.cgn},${s.st}]").mkString("[", ",", "]") })
      val errors = results.collect { case (k, v, _, _) if v < 0 => "\"" + k + "\"" }
        .mkString("[", ",", "]")
      val (total, totalMin) = BenchFormat.totals(rows)
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","total_min":$totalMin%.3f,"queries":$qs,"queries_min":$qsMin,"queries_reps":$qsReps,"queries_jvm":$qsJvm,"errors":$errors,"sf":"$sfDir"}"""
    }

    // Snapshot after EVERY timed query: rounds 5 and 6 both lost the whole
    // bench artifact because the driver killed a contended window before
    // the single end-of-run write. Rewriting bench.json and printing the
    // cumulative compact line per query means a killed run still leaves
    // the latest cumulative snapshot as the last parseable stdout line
    // and on disk.
    selected.foreach { q =>
      val stats = scala.collection.mutable.ArrayBuffer.empty[RepStats]
      val times = (0 until Reps).map { _ =>
        val gc0 = gcMillis()
        val t0 = System.nanoTime()
        val ok =
          try { force(q.run(spark, sfDir)); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] ${q.name} FAILED: ${e.getMessage}")
            false
          }
        val dt = (System.nanoTime() - t0) / 1e9
        stats += repStats(gc0)
        if (ok) dt else -1.0
      }
      results += ((q.name, BenchFormat.medianOrFailed(times), times, stats.toSeq))
      val compact = BenchFormat.compactLine(rows, sfDir)
      try Files.writeString(Paths.get("bench.json"), detailLine() + "\n" + compact + "\n")
      catch { case e: Throwable => System.err.println(s"[bench] bench.json write failed: ${e.getMessage}") }
      System.out.println(compact)
      System.out.flush()
    }
    val line = detailLine(); val compact = BenchFormat.compactLine(rows, sfDir)
    spark.stop()
    // print AFTER stop so no log line can interleave; System.out directly.
    // Detail first, compact LAST: the driver's truncated-tail last-line
    // parse must always land on the short, complete line.
    System.out.println(line)
    System.out.println(compact)
    System.out.flush()
  }
}
