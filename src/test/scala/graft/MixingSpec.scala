package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Packing, Sampling}

/** Pins the token-budget mixing family (q221): the grouped two-phase
  * prefix sum equals the single-task per-group window exactly, the
  * sampler respects each group's token budget to within one document,
  * the selection is a pure function of (id, seed) — invariant under
  * repartitioning — and head-heavy budgets realize head-heavy mixes.
  */
class MixingSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder("local[4]").getOrCreate()

  private def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  // skewed synthetic frame: one huge group, one small, one singleton,
  // plus planted ORDER-KEY TIES inside the huge group (tie-break path)
  private lazy val skewed = {
    import spark.implicits._
    val rows = (0 until 2000).map(i =>
      ("g0", i.toLong, math.floorMod(mix(i), 5000L), 1L + math.floorMod(mix(i * 7 + 1), 90L))) ++
      (0 until 50).map(i =>
        ("g1", 10000L + i, math.floorMod(mix(i + 99), 5000L), 1L + math.floorMod(mix(i * 3 + 2), 90L))) ++
      Seq(("g2", 20000L, 17L, 40L)) ++
      // ties: five g0 rows sharing one order key, distinct ids
      (0 until 5).map(i => ("g0", 30000L + i, 4242L, 10L + i))
    rows.toDF("g", "id", "k", "v")
  }

  test("groupedExclusivePrefixSum == single-task per-group window, incl. ties and singleton groups") {
    val got = Packing.groupedExclusivePrefixSum(
        skewed, Seq("g"), "k", "id", "v", "run", numBuckets = 8)
      .select(col("g"), col("id"), col("run"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val w = Window.partitionBy(col("g")).orderBy(col("k"), col("id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val want = skewed
      .withColumn("run", coalesce(sum(col("v")).over(w), lit(0L)))
      .select(col("g"), col("id"), col("run"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == want, "two-phase grouped prefix sum must equal the bottleneck window")
  }

  test("sampleToTokenBudget: per-group budget respected to within ONE document; priority matches the plain-Scala formula") {
    import spark.implicits._
    val budgeted = skewed.withColumn("budget",
      when(col("g") === "g0", 20000L)
        .when(col("g") === "g1", 800L).otherwise(10L))
    val kept = Sampling.sampleToTokenBudget(
        budgeted, Seq("g"), "id", "v", "budget", seed = 7L)
      .select($"g", $"id", $"v", $"priority", $"tokens_before", $"budget")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(kept.nonEmpty)
    // the reference priority: mid-square Lehmer of (id + seed), weight 1
    def prioRef(id: Long): Long = {
      val m = 2147483647L
      val x = (id + 7L) % m
      x * x % m * 48271L % m * 1000000L
    }
    kept.foreach { case (_, id, _, p, _, _) =>
      assert(p == prioRef(id), s"id $id priority $p != ${prioRef(id)}")
    }
    // adherence: every kept doc started under the line, and the total
    // overshoot is bounded by the crossing document
    kept.groupBy(_._1).foreach { case (g, rows) =>
      val budget = rows.head._6
      rows.foreach { case (_, id, _, _, before, _) =>
        assert(before < budget, s"$g doc $id took tokens past the budget line")
      }
      val total = rows.map(_._3).sum
      val maxDoc = rows.map(_._3).max
      assert(total < budget + maxDoc,
        s"$g realized $total tokens vs budget $budget + one doc $maxDoc")
    }
    // the singleton group's one doc (40 tokens, budget 10) IS the
    // crossing doc: tokens_before = 0 < 10 keeps it — overshoot < 1 doc
    assert(kept.count(_._1 == "g2") == 1)
  }

  test("selection is invariant under repartitioning (pure function of id and seed)") {
    val budgeted = skewed.withColumn("budget", lit(1500L))
    def run(df: org.apache.spark.sql.DataFrame): Set[(String, Long, Long)] =
      Sampling.sampleToTokenBudget(df, Seq("g"), "id", "v", "budget", seed = 31L)
        .select(col("g"), col("id"), col("tokens_before"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val a = run(budgeted)
    val b = run(budgeted.repartition(7))
    val c = run(budgeted.repartition(1))
    assert(a == b && b == c, "mix must not depend on physical partitioning")
  }

  test("head-heavy budgets realize head-heavy token shares") {
    import spark.implicits._
    // three equally-sized buckets with equal doc-length distributions;
    // budgets 6000/3000/1000 must order the realized token mass
    val rows = for {
      (b, bi) <- Seq("head", "middle", "tail").zipWithIndex
      i <- 0 until 300
    } yield (b, (bi * 1000 + i).toLong, 20L + math.floorMod(mix(i + bi), 60L))
    val df = rows.toDF("bucket", "id", "n_tok")
      .withColumn("budget",
        when(col("bucket") === "head", 6000L)
          .when(col("bucket") === "middle", 3000L).otherwise(1000L))
    val kept = Sampling.sampleToTokenBudget(
        df, Seq("bucket"), "id", "n_tok", "budget", seed = 5L)
      .groupBy("bucket").agg(sum("n_tok").as("tok"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("head") > kept("middle") && kept("middle") > kept("tail"),
      s"realized mix not head-heavy: $kept")
    // and each realized share is within one mean doc of its budget
    Seq("head" -> 6000L, "middle" -> 3000L, "tail" -> 1000L).foreach {
      case (b, budget) =>
        assert(kept(b) >= budget && kept(b) < budget + 80L,
          s"$b realized ${kept(b)} vs budget $budget")
    }
  }

  test("persisted allocation: save -> load -> sampleWithAllocation reproduces q221's kept set bit-for-bit") {
    val sfDir = "/root/testdata/sf0.001"
    val bt = graft.queries.CurationQueries.bucketTokFrame(spark, sfDir)
    // the allocation IS the |cells|-row decision table the q221 row
    // derives inline: one (lang, bucket) -> token_budget cell each
    val cells = bt.select(col("lang"), col("bucket"), col("token_budget"))
      .distinct()
    val dir = java.nio.file.Files.createTempDirectory("mix_alloc").toString
    Sampling.saveAllocation(dir, cells, Seq("lang", "bucket"),
      "token_budget", graft.queries.CurationQueries.MixSeed)
    val alloc = Sampling.loadAllocation(spark, dir)
    assert(alloc.seed == graft.queries.CurationQueries.MixSeed)
    val direct = Sampling.sampleToTokenBudget(bt, Seq("lang", "bucket"),
        "doc_id", "n_tok", "token_budget",
        graft.queries.CurationQueries.MixSeed)
      .select(col("doc_id"), col("priority"), col("tokens_before"))
      .collect().map(_.toSeq).toSet
    val replayed = Sampling.sampleWithAllocation(
        bt.drop("token_budget"), alloc, "doc_id", "n_tok")
      .select(col("doc_id"), col("priority"), col("tokens_before"))
      .collect().map(_.toSeq).toSet
    assert(replayed == direct,
      "a loaded allocation must reproduce the in-session mix exactly")
    // every skew refused by name:
    // (a) tokenizer fingerprint mismatch — budgets denominated in one
    // tokenizer's units cannot select over another's counts
    val eTok = intercept[IllegalArgumentException] {
      Sampling.sampleWithAllocation(bt.drop("token_budget"), alloc,
        "doc_id", "n_tok",
        merges = graft.operators.Bpe.StandardMerges.take(3))
    }
    assert(eTok.getMessage.contains("fingerprint"), eTok.getMessage)
    // (b) a group with no cell fails by name instead of silently
    // dropping (the CcnetServing.tag lesson)
    import spark.implicits._
    val alien = bt.select(col("lang"), col("bucket"), col("doc_id"), col("n_tok"))
      .unionByName(Seq(("xq", "head", 999999L, 10L))
        .toDF("lang", "bucket", "doc_id", "n_tok"))
    val eCell = intercept[Exception] {
      Sampling.sampleWithAllocation(alien, alloc, "doc_id", "n_tok").collect()
    }
    val msgs = Iterator.iterate(eCell: Throwable)(_.getCause)
      .takeWhile(_ != null).map(m => Option(m.getMessage).getOrElse(""))
      .mkString("\n")
    assert(msgs.contains("no cell in the persisted allocation"), msgs.take(400))
    // (c) version skew
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val mPath = java.nio.file.Paths.get(dir, "MANIFEST.json")
    val mj = om.readTree(java.nio.file.Files.readAllBytes(mPath))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    mj.put("version", 99)
    java.nio.file.Files.write(mPath, om.writeValueAsBytes(mj))
    assert(intercept[IllegalArgumentException] {
      Sampling.loadAllocation(spark, dir)
    }.getMessage.contains("99"))
  }

  test("sampleWithAllocationRemaining: global budget across waves — remainder semantics, exhausted cells, deterministic replay, fingerprint identity") {
    import spark.implicits._
    // the cumulative reading (VERDICT r19 #2): a wave charges the
    // PERSISTED allocation's budgets net of the spend every prior
    // run recorded, so the sum over waves stays within budget plus at
    // most one crossing doc per wave with headroom
    val cells = Seq(("a", 100L), ("b", 60L), ("c", 40L))
      .toDF("g", "token_budget")
    val dir = java.nio.file.Files.createTempDirectory("alloc_rem").toString
    Sampling.saveAllocation(dir, cells, Seq("g"), "token_budget", seed = 7L)
    val alloc = Sampling.loadAllocation(spark, dir)
    val fp = Sampling.allocationFingerprint(alloc)
    // the fingerprint is a pure function of the artifact content
    assert(Sampling.allocationFingerprint(
      Sampling.loadAllocation(spark, dir)) == fp)
    val budgets = Map("a" -> 100L, "b" -> 60L, "c" -> 40L)
    def waveDf(ids: Range) = ids
      .map(i => (Seq("a", "b", "c")(i % 3), i.toLong, 25L))
      .toDF("g", "id", "n_tok")
    // wave 1 under the full budgets: every cell's mass (250) crosses
    // its budget, so realized spend is in [budget, budget + one doc)
    val w1 = Sampling.sampleWithAllocation(waveDf(0 until 30), alloc,
      "id", "n_tok")
    val spent1 = w1.groupBy($"g").agg(sum($"n_tok").as("spent_tokens"))
    val s1 = spent1.as[(String, Long)].collect().toMap
    s1.foreach { case (g, s) =>
      assert(s >= budgets(g) && s < budgets(g) + 25L, s"$g spent $s") }
    // wave 2 against the full ledger: every cell exhausted -> nothing
    assert(Sampling.sampleWithAllocationRemaining(waveDf(100 until 130),
      alloc, "id", "n_tok", spent1, "spent_tokens").count() == 0,
      "exhausted cells must select nothing")
    // a PARTIAL ledger: a spent 40 of 100, b spent its full 60, c
    // untouched — the wave samples a's and c's remainders only
    val partial = Seq(("a", 40L), ("b", 60L)).toDF("g", "spent_tokens")
    val prior = Map("a" -> 40L, "b" -> 60L).withDefaultValue(0L)
    val w2 = Sampling.sampleWithAllocationRemaining(waveDf(100 until 130),
      alloc, "id", "n_tok", partial, "spent_tokens")
    val rows = w2.select($"g", $"id", $"n_tok", $"tokens_before")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(rows.nonEmpty && rows.forall(_._1 != "b"), rows.toString)
    assert(rows.exists(_._1 == "a") && rows.exists(_._1 == "c"))
    // the GLOBAL invariant: prior spend + this wave's running sum stays
    // strictly under the budget for every selected doc...
    rows.foreach { case (g, _, _, tb) =>
      assert(prior(g) + tb < budgets(g), s"$g: ${prior(g)} + $tb") }
    // ...so the sum over waves respects budget + <= one crossing doc
    rows.groupBy(_._1).foreach { case (g, rs) =>
      assert(prior(g) + rs.map(_._3).sum < budgets(g) + 25L, g) }
    // deterministic replay: same ledger, same allocation, same docs ->
    // the same selection, bit for bit
    val again = Sampling.sampleWithAllocationRemaining(waveDf(100 until 130),
      alloc, "id", "n_tok", partial, "spent_tokens")
      .select($"id").as[Long].collect().toSet
    assert(again == rows.map(_._2).toSet)
    // a re-budgeted allocation fingerprints differently (what the job's
    // ledger gate refuses by name on)
    val dir2 = java.nio.file.Files.createTempDirectory("alloc_rem2").toString
    Sampling.saveAllocation(dir2,
      Seq(("a", 101L), ("b", 60L), ("c", 40L)).toDF("g", "token_budget"),
      Seq("g"), "token_budget", seed = 7L)
    assert(Sampling.allocationFingerprint(
      Sampling.loadAllocation(spark, dir2)) != fp)
    // a ledger missing the group columns is refused by name
    val eCols = intercept[IllegalArgumentException] {
      Sampling.sampleWithAllocationRemaining(waveDf(100 until 103), alloc,
        "id", "n_tok", Seq((1L, 2L)).toDF("x", "y"), "spent_tokens")
    }
    assert(eCols.getMessage.contains("spend ledger"), eCols.getMessage)
    // a ledger row for a group the allocation has no cell for would be
    // SILENTLY dropped by the adjustment join (its spend quietly
    // re-spent) — refused by name=value instead
    val eOrphan = intercept[IllegalArgumentException] {
      Sampling.sampleWithAllocationRemaining(waveDf(100 until 103), alloc,
        "id", "n_tok", Seq(("ghost", 10L)).toDF("g", "spent_tokens"),
        "spent_tokens")
    }
    assert(eOrphan.getMessage.contains("g=ghost")
      && eOrphan.getMessage.contains("no cell"), eOrphan.getMessage)
  }

  test("allocation cells with a duplicated group key are refused at SAVE (ADVICE r17 — a dup cell fans out every row in its group)") {
    import spark.implicits._
    val cells = Seq(("en", "head", 100L), ("en", "head", 200L),
      ("en", "tail", 50L)).toDF("lang", "bucket", "token_budget")
    val dir = java.nio.file.Files.createTempDirectory("mix_dup").toString
    val e = intercept[IllegalArgumentException] {
      Sampling.saveAllocation(dir, cells, Seq("lang", "bucket"),
        "token_budget", seed = 7L)
    }
    assert(e.getMessage.contains("more than one row")
      && e.getMessage.contains("lang=en") && e.getMessage.contains("bucket=head"),
      e.getMessage)
    // the refusal happened BEFORE the manifest — nothing half-committed
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "MANIFEST.json")))
  }

  test("the no-cell failure names columns AND values; a NULL group key is refused upstream by name (ADVICE r17)") {
    import spark.implicits._
    val cells = Seq(("en", "head", 100L)).toDF("lang", "bucket", "token_budget")
    val dir = java.nio.file.Files.createTempDirectory("mix_namedkey").toString
    Sampling.saveAllocation(dir, cells, Seq("lang", "bucket"),
      "token_budget", seed = 7L)
    val alloc = Sampling.loadAllocation(spark, dir)
    // (a) a group with no cell: the failure renders name=value pairs,
    // not bare values (the old message printed values only — a reader
    // could not tell WHICH column set defined the group)
    val corpus = Seq(("xq", "head", 1L, 10L), ("en", "head", 2L, 10L))
      .toDF("lang", "bucket", "doc_id", "n_tok")
    val e = intercept[Exception] {
      Sampling.sampleWithAllocation(corpus, alloc, "doc_id", "n_tok").collect()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(m => Option(m.getMessage).getOrElse(""))
      .mkString("\n")
    assert(msgs.contains("lang=xq") && msgs.contains("bucket=head")
      && msgs.contains("no cell in the persisted allocation"), msgs.take(500))
    // (b) a NULL group key never reaches the no-cell raise: the grouped
    // prefix sum refuses it by name FIRST (the r16 null-group gate) —
    // pinned here so the two failure layers stay attributable
    val nullKey = Seq((null.asInstanceOf[String], "head", 1L, 10L))
      .toDF("lang", "bucket", "doc_id", "n_tok")
    val e2 = intercept[Exception] {
      Sampling.sampleWithAllocation(nullKey, alloc, "doc_id", "n_tok").collect()
    }
    val msgs2 = Iterator.iterate(e2: Throwable)(_.getCause)
      .takeWhile(_ != null).map(m => Option(m.getMessage).getOrElse(""))
      .mkString("\n")
    assert(msgs2.contains("contains NULL"), msgs2.take(500))
  }

  test("a tokenizer-skewed allocation refuses INSIDE the composed q226 chain (the r17 wiring, prescription 3)") {
    // the gated q226 row now mixes through its own persisted allocation;
    // this pins the skew gate ON THE CHAIN'S OWN FRAMES — a replacement
    // allocation budgeted under a different merges table must refuse by
    // fingerprint before any selection runs
    val st = graft.queries.PipelineQueries.multiStages(spark)
    val good = Sampling.loadAllocation(spark, st.allocDir)
    val skewDir = java.nio.file.Files.createTempDirectory("mix_skew").toString
    Sampling.saveAllocation(skewDir, good.cells, Seq("lang", "bucket"),
      "token_budget", good.seed,
      merges = graft.operators.Bpe.StandardMerges.take(3))
    val e = intercept[IllegalArgumentException] {
      graft.queries.PipelineQueries.MultiChain.mixed(st.mixIn,
        Sampling.loadAllocation(spark, skewDir))
    }
    assert(e.getMessage.contains("fingerprint"), e.getMessage)
    // and the matching allocation still replays the gated row's mix
    val replay = graft.queries.PipelineQueries.MultiChain
      .mixed(st.mixIn, good)
      .collect().map(_.toSeq).toSet
    assert(replay == st.mixed.collect().map(_.toSeq).toSet)
  }

  test("session temp artifact dirs are tracked for cleanup; the recursive delete removes a populated dir (ADVICE r17)") {
    import graft.queries.{PipelineQueries, QueryCaches}
    // building the composed chains registers their scratch artifact dirs
    // (incremental LID/pair, the q226 allocation) with QueryCaches —
    // QueryCaches.clear deletes exactly this list, so a clear-and-rebuild
    // cycle in a long-lived session no longer leaks dirs on disk
    val st = PipelineQueries.multiStages(spark)
    val tracked = QueryCaches.trackedTempDirs.map(_.toString)
    assert(tracked.contains(st.allocDir),
      s"the q226 allocation dir must be tracked: $tracked")
    val inc = PipelineQueries.incrementalStages(spark)
    val tracked2 = QueryCaches.trackedTempDirs.map(_.toString)
    assert(tracked2.contains(inc.lidDir) && tracked2.contains(inc.pairDir),
      s"the incremental LID/pair dirs must be tracked: $tracked2")
    // the deletion helper itself, on a synthetic populated dir (the
    // tracked dirs stay alive — other suites share the memoized stages)
    val p = java.nio.file.Files.createTempDirectory("cleanup_probe")
    java.nio.file.Files.createDirectories(p.resolve("sub"))
    java.nio.file.Files.writeString(p.resolve("sub/x.txt"), "y")
    QueryCaches.deleteRecursively(p)
    assert(!java.nio.file.Files.exists(p))
  }

  test("groupedExclusivePrefixSum: a NULL group value fails BY NAME (ADVICE r16 — the offset fold joins null-unsafely)") {
    import spark.implicits._
    val bad = skewed.union(
      Seq((null.asInstanceOf[String], 99999L, 17L, 5L)).toDF("g", "id", "k", "v"))
    val e = intercept[IllegalArgumentException] {
      Packing.groupedExclusivePrefixSum(
        bad, Seq("g"), "k", "id", "v", "run", numBuckets = 8)
    }
    assert(e.getMessage.contains("`g` contains NULL"), e.getMessage)
  }

  test("q224 epoch schedule: an out-of-envelope doc_id fails BY NAME instead of colliding shuffle keys (ADVICE r16)") {
    import spark.implicits._
    // doc_id = 2^29 is exactly the first value whose doc_id*8+epoch low
    // bits could collide with a neighbor's — the guard must name it
    val dir = java.nio.file.Files.createTempDirectory("env224").toString
    Seq((536870912L, "boundary doc text", "en", "src0", 17L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val e = intercept[Exception] {
      SparkEntry.queries("q224_epoch_schedule")(spark, dir).collect()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(m => Option(m.getMessage).getOrElse(""))
      .mkString("\n")
    assert(msgs.contains("uniqueness envelope violated"), msgs.take(500))
    // and the in-envelope path still works from the same loader
    Seq((536870911L, "ok doc", "en", "src0", 6L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(SparkEntry.queries("q224_epoch_schedule")(spark, dir).count() == 3L)
  }
}
