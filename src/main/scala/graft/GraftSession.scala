package graft

import org.apache.spark.sql.SparkSession

/** Central SparkSession factory.
  *
  * One place for every engine-level knob so Verify/Bench/tests all run the
  * same configuration. Sized for local[32] testing but with settings chosen
  * to survive a real multi-executor cluster at 100 TB:
  *   - AQE on (runtime coalesce / skew-join handling replaces static tuning)
  *   - shuffle.partitions=32 locally; AQE coalesces further, and on a real
  *     cluster this is overridden by spark.sql.adaptive settings anyway
  *   - UTC session timezone (oracle parity + sane lake semantics)
  *   - parquet pushdown/pruning left at defaults (on) — the plans rely on it
  */
object GraftSession {

  def builder(master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]"): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      // the one custom optimizer rule the engine carries: naive
      // aggregate(zip_with(...)) dot products become the codegen'd
      // ArrayDot (~30x measured); see plans/HofDotRewrite for the
      // narrow, semantics-preserving match
      .withExtensions(_.injectOptimizerRule(_ => graft.plans.HofDotRewrite))
      // the engine's one whole-operator extension: the native
      // sorted-merge AS-OF join (logical node + strategy + exec);
      // see plans/AsOfJoin for why this can't be a mere expression
      .withExtensions(_.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy))
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // r20 (guide §2.5/§7, measured from the event log): AQE's
      // byte-targeted coalescing squeezed every post-shuffle stage whose
      // INPUT is small but whose OPERATOR is CPU-heavy down to ONE task —
      // q211's whole gram-window chain (1.07 MB of shuffle, ~2.5 s of
      // md5/sort work) ran single-threaded, q218's extraction ladder and
      // the session/window rows likewise. The default minPartitionSize
      // (1 MB) is a BYTES heuristic; 64k keeps compact-key stages (hash
      // keys, gram digests, packed signatures — bytes-per-CPU-second is
      // tiny by design) wide while leaving genuinely large shuffles
      // governed by parallelismFirst/advisory sizing exactly as before.
      // NOT a local[32] tune: nothing here keys on core count, and at
      // cluster scale the same class of stage (a heavily filtered slice
      // feeding a window or regex chain) hits the same 1-task squeeze.
      // Measured back-to-back: q211 2.7 -> 0.6-0.8 s, q218 1.3 -> 0.38,
      // q212 2.3 -> 1.0, q156/q65/q76 -20-30%; cost: ~0.1 s on two
      // text-payload rows (q188/q189) from extra task overhead.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.compression.codec", "snappy")
      // Older testdata eras shipped events.ts as timestamp[ns], which
      // Spark's parquet reader rejects; reading it as long nanos keeps
      // those fixtures loadable (Tables.events normalizes either era;
      // the conf is inert on today's timestamp[us] files).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // The generated-code cache is JVM-wide, keyed by (class loader,
      // code), so driver and executor copies of a class are separate
      // entries, and it is a Guava LRU split into 4 segments of cap/4.
      // Measured at local[4], sf0.01: one pass over two registry rows
      // (q123 pointer doubling, q187 CDC chunking) compiles 98 classes,
      // 4.9 KB of source and 2.2 KB of bytecode each on average. At the
      // default cap of 100, 25 per segment, a second pass after
      // QueryCaches.clear recompiled 51 of them, and a warm pass over
      // five rows (about 230 classes) recompiled 165; at 1000 both
      // recompile none. 1000 entries hold about 7 MB of source and
      // bytecode.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")

  def get(): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)
    spark
  }
}
