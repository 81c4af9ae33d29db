package graft.cnpj

import java.io.{File, FileOutputStream}
import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.zip.{ZipException, ZipFile}
import org.apache.commons.lang3.exception.ExceptionUtils
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructType}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Data-plane ingestion: fetch → unzip → decode CSV → partitioned lake
  * (SURVEY S5/S6/S7, T2/T5, K1-K4, M2, F4).
  *
  * The reference runs one 9 GB lambda per zip (`fetch_data.py:48-88`);
  * here each FileTask is one Spark task (one partition per file, one job
  * per table — SURVEY M2), staging the extracted CSV to `stagingDir`
  * (shared storage on a real cluster), after which the CSV
  * reader splits large files across tasks and streams row groups out —
  * the reference's whole-table-in-RAM blowup (README.md:259-265) does
  * not exist here. Downloads, in the tasks and on the driver, go through
  * Retry.withBackoff (F4 analog).
  */
object Ingest {

  /** S5+S6: download each task's zip and extract the FIRST member only
    * (reference quirk #1, `fetch_data.py:65`: `namelist()[0]`). Returns
    * each task's outcome, lazily: collecting it runs one job of N tasks
    * for N files, with no shuffle. A file that fails comes back as an
    * outcome with its error, not as a failed task, so the job always runs
    * every file to the end and reports every CSV its siblings staged.
    */
  def fetchAndStage(spark: SparkSession, files: Seq[FileTask],
                    stagingDir: String): Dataset[StagedFile] = {
    import spark.implicits._
    spark.sparkContext.parallelize(files, files.size.max(1)).map { task =>
      val zipName = task.url.substring(task.url.lastIndexOf('/') + 1)
      val stem = zipName.split("\\.")(0)
      val local = new File(stagingDir, zipName)
      val out = new File(stagingDir, s"$stem.csv")
      local.getParentFile.mkdirs()
      try {
        Retry.withBackoff(attempts = 3, firstDelayMs = 100) {
          val in = new URI(task.url).toURL.openStream()
          try Files.copy(in, local.toPath,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          finally in.close()
        }
        val zf = new ZipFile(local)
        try {
          val members = zf.entries()
          if (!members.hasMoreElements) throw new ZipException(s"$zipName has no members")
          val first = members.nextElement() // first member ONLY
          val os = new FileOutputStream(out)
          try zf.getInputStream(first).transferTo(os) finally os.close()
          StagedFile(Some(out.getAbsolutePath), None)
        } finally zf.close()
      } catch {
        case NonFatal(e) =>
          out.delete() // a member that failed mid-extract
          StagedFile(None, Some(s"$zipName: ${describe(e)}"))
      } finally local.delete() // K4: a failed download or a bad zip leaves no scratch either
    }.toDS()
  }

  /** A failure's message, then each cause's message that adds to it:
    * Spark reports a task's error (a FAILFAST parse error, say) wrapped
    * in a generic one whose message drops it.
    */
  private[cnpj] def describe(e: Throwable): String =
    ExceptionUtils.getThrowableList(e).asScala
      .map(t => Option(t.getMessage).getOrElse(t.getClass.getName))
      .foldLeft("") { (acc, m) =>
        if (acc.isEmpty) m else if (acc.contains(m)) acc else s"$acc; caused by: $m"
      }

  /** S7+T2+T5: headerless `;`-separated latin-1 CSV with the declared
    * schema. Double columns arrive with decimal COMMAS (reference
    * `fetch_data.py:73`): they are read as strings and converted, which
    * round-trips pyarrow's `decimal_point=','` exactly. FAILFAST so
    * upstream schema drift fails loudly instead of silently misaligning
    * (SURVEY §7.4).
    */
  def readCsv(spark: SparkSession, table: String, paths: Seq[String]): DataFrame = {
    val target = Schemas(table)
    val readSchema = StructType(target.map {
      case f if f.dataType == DoubleType => f.copy(dataType = org.apache.spark.sql.types.StringType)
      case f => f
    })
    val raw = spark.read
      .schema(readSchema)
      .option("sep", ";")
      .option("encoding", "ISO-8859-1")
      .option("header", "false")
      .option("mode", "FAILFAST")
      .csv(paths: _*)
    target.filter(_.dataType == DoubleType).foldLeft(raw) { (df, f) =>
      df.withColumn(f.name, decimalComma(col(f.name)))
    }
  }

  /** T2: decimal-comma string → double ("1234,56" → 1234.56). */
  def decimalComma(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(c, ",", "\\.").cast("double")

  /** K1/K2: write one table snapshot into the partitioned lake:
    * `<lakeRoot>/cnpj_db/<table>/ref_date=<yyyymmdd>/`. Dynamic partition
    * overwrite (GraftSession default) makes re-runs idempotent — the
    * reference gets the same by overwriting fixed S3 keys
    * (`fetch_data.py:82-83`).
    */
  def writeSnapshot(df: DataFrame, lakeRoot: String, table: String, refDate: Int): Unit =
    df.withColumn("ref_date", lit(refDate.toString)) // string partition, quirk #4
      .write
      .partitionBy("ref_date")
      .mode("overwrite")
      .parquet(s"$lakeRoot/cnpj_db/$table")
}

/** F4: bounded retry with exponential backoff (reference: 2 retries,
  * 60 s interval, ×2 backoff — `state_machine.asl:68-77,109-118`).
  */
object Retry {
  def withBackoff[A](attempts: Int, firstDelayMs: Long)(body: => A): A = {
    var remaining = attempts
    var delay = firstDelayMs
    while (true) {
      try return body
      catch {
        // fatal errors and interrupts propagate at once: sleeping and
        // retrying after them would only delay the shutdown they signal
        case NonFatal(e) =>
          remaining -= 1
          if (remaining <= 0) throw e
          Thread.sleep(delay)
          delay *= 2
      }
    }
    throw new IllegalStateException("unreachable")
  }
}
