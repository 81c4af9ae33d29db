package graft.queries

import java.io.File
import java.nio.charset.Charset
import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.cnpj.Ingest

/** Gate-checked queries over a CNPJ-shaped partitioned lake — the
  * reference's own physical design (`ref_date=` string partition dirs,
  * reference `fetch_data.py:82-83`, README.md:81) exercised end to end:
  * deterministic latin-1 `;`-CSV fixtures → `Ingest.readCsv` (decimal-comma
  * doubles, FAILFAST) → `Ingest.writeSnapshot` (hive layout, dynamic
  * partition overwrite) → a partition-pruned star join, oracle-checked by
  * DuckDB reading the SAME hive-partitioned parquet dirs.
  *
  * The lake lives at a FIXED path (`Lake.Root`): the oracle SQL is a static
  * string, so both engines must agree on the location. Content is a pure
  * function of row index — no RNG, no clock — and is rebuilt from scratch
  * once per JVM (stale dirs from older code versions are deleted first).
  * TWO snapshots with different row counts and changed dimension names are
  * written, so the `ref_date` predicate is load-bearing: reading both
  * partitions would change every output row, not just slow the scan.
  *
  * Scale note (100 TB): the query never lists or reads the newer snapshot's
  * files — partition pruning happens at planning time (PartitionFilters,
  * pinned in PlanSpec). Dimensions broadcast; the single fact shuffle is the
  * grouped aggregation.
  */
object CnpjLakeQueries {

  object Lake {
    /** Fixed, absolute, inside the repo's build dir (gitignored). */
    val Root = "/root/repo/target/cnpj_lake"
    val OldSnap = 20230601
    val NewSnap = 20230701
  }

  private val latin1 = Charset.forName("ISO-8859-1")
  private val lock = new Object
  @volatile private var built = false

  private def deleteRec(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRec)
    f.delete()
  }

  // ---- deterministic fixture rows (pure functions of index) ------------

  /** Accented names exercise the latin-1 decode path (T5). */
  private def muniName(i: Int): String = {
    val prefixes = Seq("SÃO", "SANTA", "NOVA", "PORTO", "VILA", "CAMPO")
    s"${prefixes(i % prefixes.size)} CIDADE $i"
  }

  private def muniCsv(n: Int, renamedEvery: Int): String =
    (0 until n).map { i =>
      val name = if (renamedEvery > 0 && i % renamedEvery == 0) muniName(i) + " NOVO" else muniName(i)
      s"${1000 + i};$name"
    }.mkString("", "\n", "\n")

  /** Decimal-COMMA capital (T2) and an accent in the razão social. */
  private def empresasCsv(n: Int): String =
    (0 until n).map { i =>
      val whole = (i * 137) % 90000
      val cents = (i * 53) % 100
      f"$i;AÇO EMPRESA $i LTDA;${2000 + i % 5};49;$whole%d,$cents%02d;${1 + i % 3};SP"
    }.mkString("", "\n", "\n")

  /** Full 30-column estabelecimentos row; only the fields the query touches
    * vary (cnpj_raiz, end_cod_muni), the rest are fixed valid-shaped values.
    */
  private def estabCsv(n: Int, nEmp: Int, nMuni: Int): String =
    (0 until n).map { i =>
      val raiz = (i * 7) % nEmp   // gcd(7, nEmp)=1 for our sizes: covers all
      val muni = 1000 + (i * 13) % nMuni
      Seq(raiz, 1 + i % 4, "11", "1", s"FANT $i", "2", "20230101", "0", "", "105",
        (20200101 + i % 28).toString, "47113", "", "RUA", "DAS FLORES", "100", "",
        "CENTRO", "01000000", "SP", muni.toString, "11", "99999999",
        "", "", "", "", "a@b.c", "", "").mkString(";")
    }.mkString("", "\n", "\n")

  /** Write `snaps` = (refDate, nMuni, nEmp, nEstab, renamedEvery) rows
    * into a fresh lake at `root` through the REAL ingest path (latin-1
    * `;`-CSV staging → readCsv → writeSnapshot hive layout). Staging CSVs
    * are deleted afterwards — at the bench-scale sizes they are tens of
    * MB of scratch.
    */
  private def buildSnapshots(spark: SparkSession, root: String,
                             snaps: Seq[(Int, Int, Int, Int, Int)]): Unit = {
    deleteRec(new File(root))
    val staging = new File(root + "_staging")
    deleteRec(staging); staging.mkdirs()
    def writeCsv(name: String, content: String): String = {
      val f = new File(staging, name)
      Files.write(f.toPath, content.getBytes(latin1))
      f.getAbsolutePath
    }
    snaps.foreach { case (refDate, nMuni, nEmp, nEstab, renamedEvery) =>
      val m = writeCsv(s"municipios_$refDate.csv", muniCsv(nMuni, renamedEvery))
      val e = writeCsv(s"empresas_$refDate.csv", empresasCsv(nEmp))
      val s = writeCsv(s"estabelecimentos_$refDate.csv", estabCsv(nEstab, nEmp, nMuni))
      Ingest.writeSnapshot(Ingest.readCsv(spark, "municipios", Seq(m)), root, "municipios", refDate)
      Ingest.writeSnapshot(Ingest.readCsv(spark, "empresas", Seq(e)), root, "empresas", refDate)
      Ingest.writeSnapshot(Ingest.readCsv(spark, "estabelecimentos", Seq(s)), root, "estabelecimentos", refDate)
    }
    deleteRec(staging)
  }

  /** Build the two-snapshot lake once per JVM through the real ingest path. */
  def ensureLake(spark: SparkSession): String = lock.synchronized {
    if (built) return Lake.Root
    // the newer snapshot is bigger AND renames every 3rd municipality: a
    // broken ref_date filter changes counts and names, not just runtimes
    buildSnapshots(spark, Lake.Root, Seq(
      (Lake.OldSnap, 50, 400, 1600, 0),
      (Lake.NewSnap, 60, 450, 1800, 3)))
    built = true
    Lake.Root
  }

  /** BENCH-SCALE lake (q178): the same physical design at a volume where
    * the plan actually matters — three `ref_date` partitions totalling
    * 280k establishment rows, the queried one carrying 200k (the sf0.1
    * fact-table order of magnitude). Built ONCE per JVM through the same
    * real ingest path (one-time cost lands in the bench warmup, not the
    * timed reps); sizes are fixed (not SF-scaled) so the DuckDB oracle
    * stays a static string over a fixed path.
    */
  object BigLake {
    val Root = "/root/repo/target/cnpj_lake_big"
    val QuerySnap = 20230601
    /** (refDate, nMuni, nEmp, nEstab, renamedEvery): neighbors on BOTH
      * sides of the queried snapshot, with renames in the newest — a
      * broken partition filter changes names and counts, not just cost.
      */
    val Snaps = Seq(
      (20230401, 60, 4000, 30000, 0),
      (QuerySnap, 500, 20000, 200000, 0),
      (20230801, 80, 6000, 50000, 3))
    @volatile private[CnpjLakeQueries] var built = false
    def ensure(spark: SparkSession): String = lock.synchronized {
      if (!built) {
        buildSnapshots(spark, Root, Snaps)
        built = true
      }
      Root
    }
  }

  val queries: Seq[Q] = Seq(
    Q(
      "q61_cnpj_lake_star",
      (s, _) => {   // fixture lake is SF-independent; dir arg unused
        val root = ensureLake(s)
        import s.implicits._
        val e = s.read.parquet(s"$root/cnpj_db/estabelecimentos")
          .where($"ref_date" === Lake.OldSnap)
          .select($"cnpj_raiz", $"end_cod_muni")
        val emp = s.read.parquet(s"$root/cnpj_db/empresas")
          .where($"ref_date" === Lake.OldSnap)
          .select($"cnpj_raiz", $"cap_soc")
        val m = s.read.parquet(s"$root/cnpj_db/municipios")
          .where($"ref_date" === Lake.OldSnap)
          .select($"codigo", $"desc")
        e.join(emp, "cnpj_raiz")
          .join(broadcast(m), $"end_cod_muni" === $"codigo")
          .groupBy($"desc")
          .agg(
            count(lit(1)).as("n_estab"),
            countDistinct($"cnpj_raiz").as("n_empresas"),
            sum($"cap_soc".cast("decimal(28,2)")).cast("double").as("total_capital"))
          .select($"desc".as("municipio"), $"n_estab", $"n_empresas", $"total_capital")
          .orderBy($"municipio")
      },
      Some(s"""
        SELECT m."desc" AS municipio,
               COUNT(*) AS n_estab,
               COUNT(DISTINCT e.cnpj_raiz) AS n_empresas,
               CAST(SUM(CAST(emp.cap_soc AS DECIMAL(28,2))) AS DOUBLE) AS total_capital
        FROM read_parquet('${Lake.Root}/cnpj_db/estabelecimentos/*/*.parquet', hive_partitioning=1) e
        JOIN read_parquet('${Lake.Root}/cnpj_db/empresas/*/*.parquet', hive_partitioning=1) emp
          ON emp.cnpj_raiz = e.cnpj_raiz AND emp.ref_date = ${Lake.OldSnap}
        JOIN read_parquet('${Lake.Root}/cnpj_db/municipios/*/*.parquet', hive_partitioning=1) m
          ON m.codigo = e.end_cod_muni AND m.ref_date = ${Lake.OldSnap}
        WHERE e.ref_date = ${Lake.OldSnap}
        GROUP BY m."desc"
        ORDER BY municipio"""),
      doc = "Partition-pruned CNPJ-lake star join over hive ref_date= dirs; " +
        "oracle reads the SAME partitioned parquet (reference README.md:81 physical design)."),

    Q(
      "q93_freshness_gate",
      (s, _) => {
        // The reference's incremental-update decision (F1-F3, README.md:222)
        // as an ORACLE row, not just a spec: the REAL control-plane path —
        // catalog registration, the catalog's partition listing,
        // FreshnessGate.shouldUpdate — runs per table against fixed
        // manifest dates chosen to land on both sides of the max
        // partition, and DuckDB independently derives the same decision
        // from the same hive dirs. Partition listing is a
        // metadata operation: no data file is read at any scale.
        val root = ensureLake(s)
        import s.implicits._
        val db = "cnpj_gate"
        val manifests = Seq(
          ("municipios", 20230801),        // newer than max → update
          ("empresas", Lake.NewSnap),      // equal to max → no update
          ("estabelecimentos", Lake.OldSnap)) // older than max → no update
        manifests.map { case (t, mdate) =>
          graft.cnpj.CatalogOps.ensureTable(s, t, root, db)
          val parts = graft.cnpj.CatalogOps.listPartitions(s, t, db)
          val decision = graft.cnpj.FreshnessGate.shouldUpdate(
            graft.cnpj.TableManifest(t, exists = true, Seq.empty, mdate), parts)
          (t, parts.map(_.toInt).max, mdate, decision)
        }.toDF("table_name", "max_ref_date", "manifest_date", "should_update")
          .orderBy($"table_name")
      },
      Some(s"""
        SELECT * FROM (
          SELECT 'municipios' AS table_name,
                 MAX(CAST(ref_date AS INT)) AS max_ref_date,
                 20230801 AS manifest_date,
                 20230801 > MAX(CAST(ref_date AS INT)) AS should_update
          FROM read_parquet('${Lake.Root}/cnpj_db/municipios/*/*.parquet', hive_partitioning=1)
          UNION ALL
          SELECT 'empresas', MAX(CAST(ref_date AS INT)),
                 ${Lake.NewSnap}, ${Lake.NewSnap} > MAX(CAST(ref_date AS INT))
          FROM read_parquet('${Lake.Root}/cnpj_db/empresas/*/*.parquet', hive_partitioning=1)
          UNION ALL
          SELECT 'estabelecimentos', MAX(CAST(ref_date AS INT)),
                 ${Lake.OldSnap}, ${Lake.OldSnap} > MAX(CAST(ref_date AS INT))
          FROM read_parquet('${Lake.Root}/cnpj_db/estabelecimentos/*/*.parquet', hive_partitioning=1)
        ) ORDER BY table_name"""),
      doc = "CNPJ freshness gate (F1-F3) as an oracle row: max(ref_date) from the real catalog partition listing + FreshnessGate.shouldUpdate vs per-table manifest dates straddling the max; DuckDB re-derives the decision from the same hive dirs."),

    Q(
      "q94_partition_stats",
      (s, _) => {
        // The crawler's per-partition `recordCount` (reference
        // check_update.py:138) gate-checked: ANALYZE every partition of
        // every lake table, read the persisted stats back off the catalog
        // (DESCRIBE ... PARTITION), and let DuckDB independently COUNT(*)
        // the same hive dirs. The emitted numbers come from CATALOG
        // METADATA, not a query-time scan — the point of publishing stats.
        val root = ensureLake(s)
        import s.implicits._
        val db = "cnpj_stats_gate"
        Seq("municipios", "empresas", "estabelecimentos").flatMap { t =>
          graft.cnpj.CatalogOps.ensureTable(s, t, root, db)
          graft.cnpj.CatalogOps.listPartitions(s, t, db).sorted.map { p =>
            graft.cnpj.CatalogStats.analyzePartition(s, db, t, p)
            val st = graft.cnpj.CatalogStats.partitionStats(s, db, t, p)
              .getOrElse(sys.error(s"no partition stats for $t/$p after ANALYZE"))
            val rows = st.rowCount
              .getOrElse(sys.error(s"no rowCount for $t/$p after ANALYZE"))
            (t, p.toInt, rows)
          }
        }.toDF("table_name", "ref_date", "record_count")
          .orderBy($"table_name", $"ref_date")
      },
      Some(s"""
        SELECT * FROM (
          SELECT 'municipios' AS table_name, CAST(ref_date AS INT) AS ref_date,
                 COUNT(*) AS record_count
          FROM read_parquet('${Lake.Root}/cnpj_db/municipios/*/*.parquet', hive_partitioning=1)
          GROUP BY 2
          UNION ALL
          SELECT 'empresas', CAST(ref_date AS INT), COUNT(*)
          FROM read_parquet('${Lake.Root}/cnpj_db/empresas/*/*.parquet', hive_partitioning=1)
          GROUP BY 2
          UNION ALL
          SELECT 'estabelecimentos', CAST(ref_date AS INT), COUNT(*)
          FROM read_parquet('${Lake.Root}/cnpj_db/estabelecimentos/*/*.parquet', hive_partitioning=1)
          GROUP BY 2
        ) ORDER BY table_name, ref_date"""),
      doc = "Catalog statistics surface: per-partition recordCount published by ANALYZE TABLE ... PARTITION and read back from catalog metadata (the reference crawler's check_update.py:134-139 parameters), gated against DuckDB's independent COUNT(*) over the same dirs.")
  ,
    Q(
      "q178_cnpj_lake_scale",
      (s, _) => {   // fixed-size bench-scale lake; dir arg unused (see BigLake)
        val root = BigLake.ensure(s)
        import s.implicits._
        // the full reference star at bench volume: 200k-row fact
        // partition, neighbors pruned at planning time. JOIN STRATEGY is
        // scale-honest: municipios (500 rows — a TRUE dimension at every
        // scale, ~5 570 rows in the real dataset) is explicitly
        // broadcast; empresas is NOT hinted — in the real dataset it is
        // a 53M-row fact (SURVEY §2 J3: empresas⋈estabelecimentos is the
        // sort-merge/shuffled-hash edge), so the strategy must stay
        // threshold/AQE-driven: broadcast at this lake size because the
        // pruned scan is tiny, SMJ at production size because it isn't.
        // A hard-coded broadcast(emp) would be an OOM pin at 100×.
        // PlanSpec pins PartitionFilters, the municipios broadcast, and
        // that NO hint forces the empresas edge.
        val e = s.read.parquet(s"$root/cnpj_db/estabelecimentos")
          .where($"ref_date" === BigLake.QuerySnap)
          .select($"cnpj_raiz", $"end_cod_muni")
        val emp = s.read.parquet(s"$root/cnpj_db/empresas")
          .where($"ref_date" === BigLake.QuerySnap)
          .select($"cnpj_raiz", $"cap_soc", $"porte")
        val m = s.read.parquet(s"$root/cnpj_db/municipios")
          .where($"ref_date" === BigLake.QuerySnap)
          .select($"codigo", $"desc")
        e.join(emp, "cnpj_raiz")
          .join(broadcast(m), $"end_cod_muni" === $"codigo")
          .groupBy($"desc")
          .agg(
            count(lit(1)).as("n_estab"),
            countDistinct($"cnpj_raiz").as("n_empresas"),
            sum(when($"porte" === 3, 1L).otherwise(0L)).as("n_estab_porte3"),
            sum($"cap_soc".cast("decimal(28,2)")).cast("double").as("total_capital"))
          .select($"desc".as("municipio"), $"n_estab", $"n_empresas",
            $"n_estab_porte3", $"total_capital")
          .orderBy($"municipio")
      },
      Some(s"""
        SELECT m."desc" AS municipio,
               COUNT(*) AS n_estab,
               COUNT(DISTINCT e.cnpj_raiz) AS n_empresas,
               CAST(SUM(CASE WHEN emp.porte = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_estab_porte3,
               CAST(SUM(CAST(emp.cap_soc AS DECIMAL(28,2))) AS DOUBLE) AS total_capital
        FROM read_parquet('${BigLake.Root}/cnpj_db/estabelecimentos/*/*.parquet', hive_partitioning=1) e
        JOIN read_parquet('${BigLake.Root}/cnpj_db/empresas/*/*.parquet', hive_partitioning=1) emp
          ON emp.cnpj_raiz = e.cnpj_raiz AND emp.ref_date = ${BigLake.QuerySnap}
        JOIN read_parquet('${BigLake.Root}/cnpj_db/municipios/*/*.parquet', hive_partitioning=1) m
          ON m.codigo = e.end_cod_muni AND m.ref_date = ${BigLake.QuerySnap}
        WHERE e.ref_date = ${BigLake.QuerySnap}
        GROUP BY m."desc"
        ORDER BY municipio"""),
      doc = "The reference star join at BENCH scale: 280k-row three-partition lake built through the real ingest path, query prunes to the 200k-row snapshot at planning time. Scale-honest strategy: only municipios (a true dimension) carries a broadcast hint; the empresas edge — a 53M-row fact in the real dataset — is threshold/AQE-driven (broadcast here, SMJ at production size). PlanSpec pins PartitionFilters + the hint scope; oracle reads the same hive-partitioned parquet.")
  )
}
