package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Engine counters of one operation. */
final class OpCounters {
  val jobs, stages, tasks = new AtomicLong
  val shuffleReadBytes, shuffleWriteBytes, spillBytes = new AtomicLong
  val executorRunMs, taskOverheadMs = new AtomicLong

  def toMap: Map[String, Double] = Map(
    "spark.jobs" -> jobs.get, "spark.stages" -> stages.get, "spark.tasks" -> tasks.get,
    "spark.shuffle_read_bytes" -> shuffleReadBytes.get,
    "spark.shuffle_write_bytes" -> shuffleWriteBytes.get,
    "spark.spill_bytes" -> spillBytes.get,
    "spark.executor_run_ms" -> executorRunMs.get,
    "spark.task_overhead_ms" -> taskOverheadMs.get).map { case (k, v) => k -> v.toDouble }
}

/** Benchmark-owned listener. Every operation runs under its own job
  * group (`SparkCounters.group(op)`); Spark copies the group into the
  * threads a call spawns, so jobs that the program starts from its own
  * pools are charged to the right operation. When tracing, each job also
  * becomes an external span named after the program layer that submitted
  * it (see `layerOf`).
  */
final class SparkCounters(tracer: Tracer) extends SparkListener {
  private val byOp = new ConcurrentHashMap[Long, OpCounters]()
  private val stageOp = new ConcurrentHashMap[Int, Long]()
  private val jobInfo = new ConcurrentHashMap[Int, (Long, String, Long)]()
  private val execLayer = new ConcurrentHashMap[Long, String]()
  private val started, ended = new AtomicLong

  def of(op: Long): OpCounters = byOp.computeIfAbsent(op, _ => new OpCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    started.incrementAndGet()
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    group.flatMap(SparkCounters.opOf).foreach { op =>
      of(op).jobs.incrementAndGet()
      e.stageIds.foreach(s => stageOp.put(s, op))
      // jobs that adaptive execution submits from its own threads lose the
      // caller's stack; the SQL execution they belong to still has it
      val layer = Option(e.properties.getProperty("spark.sql.execution.id"))
        .flatMap(id => Option(execLayer.get(id.toLong)))
        .getOrElse(SparkCounters.layerOf(e.stageInfos.headOption.map(_.details).getOrElse("")))
      jobInfo.put(e.jobId, (op, layer, e.time))
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => execLayer.put(s.executionId, SparkCounters.layerOf(s.details))
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobInfo.remove(e.jobId)).foreach { case (op, layer, t0) =>
      tracer.external("job:" + layer, op, t0 * 1000000L + tracer.epochToNano,
        e.time * 1000000L + tracer.epochToNano)
    }
    ended.incrementAndGet()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageOp.get(e.stageInfo.stageId)).foreach(op => of(op).stages.incrementAndGet())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageOp.get(e.stageId)).foreach { op =>
      val c = of(op)
      c.tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        c.shuffleReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        c.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        c.executorRunMs.addAndGet(m.executorRunTime)
        c.taskOverheadMs.addAndGet(math.max(0L, e.taskInfo.duration - m.executorRunTime))
      }
    }

  /** Wait until every started job has been seen to end (events arrive
    * asynchronously), then a little longer for trailing task events.
    */
  def drain(timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (ended.get < started.get && System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(200)
  }
}

object SparkCounters {
  private val Prefix = "perfbench-op-"
  def group(op: Long): String = s"$Prefix$op"
  def opOf(group: String): Option[Long] =
    if (group.startsWith(Prefix)) group.stripPrefix(Prefix).toLongOption else None

  /** Program layer that submitted a job, from the job's call site (the
    * stack below the Spark API call). Matches on class and method, not on
    * line numbers, so edits inside a method keep its attribution.
    */
  private val Layers: Seq[(String, String, String, String)] = Seq(
    // (class, method fragment, Spark API above the frame or "", layer)
    ("graft.cnpj.Ingest$", "writeSnapshot", "", "ingest.decode_write"),
    ("graft.cnpj.Ingest$", "fetchAndStage", "", "ingest.fetch_stage"),
    ("graft.cnpj.IngestJob$", "processTable", "Dataset.collect", "ingest.fetch_stage"),
    ("graft.cnpj.IngestJob$", "processTable", "Dataset.count", "ingestjob.row_count"),
    ("graft.cnpj.IngestJob$", "runWithListing", "", "manifest.build"),
    ("graft.cnpj.ManifestBuilder$", "", "", "manifest.build"),
    ("graft.cnpj.CatalogOps$", "listPartitions", "", "catalog.list_partitions"),
    ("graft.cnpj.CatalogOps$", "ensureTable", "", "catalog.ensure_table"),
    ("graft.cnpj.CatalogOps$", "listTables", "", "catalog.list_tables"))

  def layerOf(callSite: String): String = {
    val frames = callSite.split('\n').map(_.trim)
    val firstGraft = frames.indexWhere(_.startsWith("graft."))
    if (firstGraft < 0) "spark.job"
    else {
      val frame = frames(firstGraft)
      val method = frame.takeWhile(_ != '(')
      val api = frames.take(firstGraft).mkString("\n")
      Layers.collectFirst {
        case (cls, m, need, layer)
            if method.startsWith(cls) && method.contains(m) && api.contains(need) => layer
      }.getOrElse("spark.job")
    }
  }
}
