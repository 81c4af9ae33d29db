package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup

class DedupSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder("local[4]").getOrCreate()
  val sf = "/root/testdata/sf0.001"

  test("exactDedup keeps exactly one row per key, the ordered-first one") {
    import spark.implicits._
    val df = Seq((1, "a", 10), (1, "a", 5), (1, "b", 7), (2, "a", 3))
      .toDF("k1", "k2", "v")
    val got = Dedup.exactDedup(df, Seq("k1", "k2"), Seq($"v"))
      .orderBy($"k1", $"k2").as[(Int, String, Int)].collect().toSeq
    assert(got == Seq((1, "a", 5), (1, "b", 7), (2, "a", 3)))
  }

  test("jaccardPairs finds identical docs with jaccard 1.0 and skips disjoint") {
    import spark.implicits._
    val docs = Seq(
      (1L, "x y z w v u t s"),
      (2L, "x y z w v u t s"),     // identical to 1
      (3L, "p q r p2 q2 r2 p3 q3") // disjoint shingles
    ).toDF("doc_id", "text")
    val sh = Dedup.shingleSets(docs, "doc_id", "text", 3)
    val got = Dedup.jaccardPairs(sh, 0.5).as[(Long, Long, Double)].collect().toSeq
    assert(got == Seq((1L, 2L, 1.0)))
  }

  test("jaccardPairsPrefix equals the naive inverted-index join exactly") {
    val docs = Tables.documents(spark, sf)
    val sh = Dedup.shingleSets(docs, "doc_id", "text", 3).cache()
    def collectPairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val naive = collectPairs(Dedup.jaccardPairs(sh, 0.5))
    val prefix = collectPairs(Dedup.jaccardPairsPrefix(sh, 0.5))
    assert(naive.nonEmpty)
    assert(prefix == naive)
    // also at a lower threshold where prefixes are longer
    assert(collectPairs(Dedup.jaccardPairsPrefix(sh, 0.3)) ==
      collectPairs(Dedup.jaccardPairs(sh, 0.3)))
    sh.unpersist()
  }

  test("adaptive Jaccard: naive on unskewed data, prefix on boilerplate skew, identical output") {
    import spark.implicits._
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    // real documents: measured cand/rows ≈ 0.5 — the naive join is cheapest
    val real = Dedup.shingleSets(Tables.documents(spark, sf), "doc_id", "text", 3).cache()
    assert(Dedup.chooseJaccardStrategy(real) == Dedup.NaiveInvertedIndex)
    assert(pairSet(Dedup.jaccardPairsAdaptive(real, 0.5)) == pairSet(Dedup.jaccardPairs(real, 0.5)))
    real.unpersist()

    // empty shingle table (all docs shorter than the shingle width):
    // strategy choice must not NPE on the null global aggregates, and
    // the adaptive join returns empty like the direct one
    val empty = Dedup.shingleSets(Seq((1L, "a b")).toDF("doc_id", "text"), "doc_id", "text", 3)
    assert(Dedup.chooseJaccardStrategy(empty) == Dedup.NaiveInvertedIndex)
    assert(Dedup.jaccardPairsAdaptive(empty, 0.5).isEmpty)

    // boilerplate regime: every doc opens with the same sentence, so its
    // shingles appear in all 200 docs — hot-shingle candidate volume is
    // quadratic and the prefix variant must be chosen
    val boiler = "terms of service apply to all content on this site"
    val skewDocs = (0 until 200)
      .map(i => (i.toLong, s"$boiler unique$i token$i word$i tail$i"))
      .toDF("doc_id", "text")
    val skewed = Dedup.shingleSets(skewDocs, "doc_id", "text", 3).cache()
    assert(Dedup.chooseJaccardStrategy(skewed) == Dedup.PrefixFiltered)
    assert(pairSet(Dedup.jaccardPairsAdaptive(skewed, 0.5)) == pairSet(Dedup.jaccardPairs(skewed, 0.5)))
    skewed.unpersist()
  }

  test("jaccardPairsCapped: exact at a high cap; drops only boilerplate-only pairs at a low cap") {
    import spark.implicits._
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // real documents: cap above the max observed frequency → identical output
    val real = Dedup.shingleSets(Tables.documents(spark, sf), "doc_id", "text", 3).cache()
    assert(pairSet(Dedup.jaccardPairsCapped(real, 0.5, maxDocFreq = 1000000)) ==
      pairSet(Dedup.jaccardPairs(real, 0.5)))
    real.unpersist()
    // boilerplate corpus: docs 1/2 are near-dups sharing RARE shingles;
    // docs 3/4 share ONLY the boilerplate. A low cap keeps the rare-shingle
    // pair and (deliberately) drops the boilerplate-only pair.
    val boiler = "terms of service apply here now"
    val docs = Seq(
      (1L, s"$boiler alpha beta gamma delta epsilon zeta"),
      (2L, s"$boiler alpha beta gamma delta epsilon eta"),
      (3L, s"$boiler one two"),
      (4L, s"$boiler six seven")).toDF("doc_id", "text")
    val sh = Dedup.shingleSets(docs, "doc_id", "text", 3).cache()
    val exact = pairSet(Dedup.jaccardPairs(sh, 0.3))
    assert(exact.contains((1L, 2L)) && exact.contains((3L, 4L)))
    val capped = pairSet(Dedup.jaccardPairsCapped(sh, 0.3, maxDocFreq = 2))
    assert(capped.contains((1L, 2L)), "rare-shingle pair must survive the cap")
    assert(!capped.contains((3L, 4L)), "boilerplate-only pair is deliberately dropped")
    sh.unpersist()
  }

  test("incremental jaccardPairsAgainst: batch-vs-index + intra-batch covers the full join") {
    val docs = Tables.documents(spark, sf)
    import org.apache.spark.sql.functions.col
    val shAll = Dedup.shingleSets(docs, "doc_id", "text", 3).cache()
    val shOld = shAll.filter(col("doc") < 400).cache()
    val shNew = shAll.filter(col("doc") >= 400).cache()
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = pairSet(Dedup.jaccardPairs(shAll, 0.5))
    val incremental = pairSet(Dedup.jaccardPairs(shOld, 0.5)) ++
      pairSet(Dedup.jaccardPairsAgainst(shNew, shOld, 0.5)) ++
      pairSet(Dedup.jaccardPairs(shNew, 0.5))
    assert(full.nonEmpty)
    assert(incremental == full,
      s"missing=${(full -- incremental).take(5)} extra=${(incremental -- full).take(5)}")
    // and the cross-batch piece is genuinely non-trivial in this data
    assert(pairSet(Dedup.jaccardPairsAgainst(shNew, shOld, 0.5)).nonEmpty)
    // overlap between the inputs is refused loudly, naming the offender
    val e = intercept[IllegalArgumentException] {
      Dedup.jaccardPairsAgainst(shNew, shAll, 0.5)
    }
    assert(e.getMessage.contains("disjoint"))
    // build-config guard: a batch shingled at another (n, unicode,
    // normalize) has byte-distinct hash keys — the join would silently
    // return "no duplicates"; the recorded cfg refuses first, decoding
    // both sides. Same through the containment twin, and a state
    // predating the record is named as such.
    val shNew4 = Dedup.shingleSets(docs.filter(col("doc_id") >= 400),
      "doc_id", "text", 4)
    val cfgEx = intercept[IllegalArgumentException] {
      Dedup.jaccardPairsAgainst(shNew4, shOld, 0.5)
    }
    assert(cfgEx.getMessage.contains("n=4") && cfgEx.getMessage.contains("n=3"),
      cfgEx.getMessage)
    val shNewNorm = Dedup.shingleSets(docs.filter(col("doc_id") >= 400),
      "doc_id", "text", 3, normalize = true)
    assert(intercept[IllegalArgumentException] {
      Dedup.containmentPairsAgainst(shNewNorm, shOld, 0.5)
    }.getMessage.contains("normalize=true"))
    assert(intercept[IllegalArgumentException] {
      Dedup.jaccardPairsAgainst(shNew.drop("cfg"), shOld, 0.5)
    }.getMessage.contains("records no"))
    // the cross-ARTIFACT boundary: signatures mined from one shingle
    // space verified against another silently mis-verify every pair —
    // the propagated record refuses first
    val sigOf3 = Dedup.minhashSignatures(shOld)
    assert(intercept[IllegalArgumentException] {
      Dedup.minhashLshPairsFromSignatures(sigOf3, shNew4, 0.5)
    }.getMessage.contains("n=4"))
    // matching artifacts still run (the guard is not over-broad)
    assert(Dedup.minhashLshPairsFromSignatures(sigOf3, shOld, 0.5)
      .count() >= 0L)
    Seq(shAll, shOld, shNew).foreach(_.unpersist())
  }

  test("drift-prone threshold t=0.07: prefix bound stays exact where double ceil over-rounds") {
    import spark.implicits._
    // 0.07*100 in double arithmetic is 7.000000000000001 — a bare ceil
    // returns 8 (exact rational ceil: 7), shortening the prefix window
    // by one. Fixture engineered to sit ON that boundary: doc 1 has 100
    // shingles, doc 2's 7 shingles are all shared, so the shared
    // shingles (frequency 2) rank LAST in doc 1's rarest-first order —
    // positions 94..100. J = 7/100 = 0.07 and C(1→2) = 0.07, both
    // exactly at threshold; the correct prefix (94) reaches position 94,
    // the over-rounded one (93) does not and silently drops the pair.
    val sh = ((1 to 100).map(i => (1L, i.toLong)) ++
      (94 to 100).map(i => (2L, i.toLong))).toDF("doc", "sh")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val naiveJ = pairs(Dedup.jaccardPairs(sh, 0.07))
    assert(naiveJ.contains((1L, 2L)), "fixture must sit at the threshold boundary")
    assert(pairs(Dedup.jaccardPairsPrefix(sh, 0.07)) == naiveJ,
      "prefix-filtered Jaccard dropped the boundary pair — the double-ceil drift is back")
    val naiveC = pairs(Dedup.containmentPairs(sh, 0.07))
    assert(naiveC.contains((1L, 2L)) && naiveC.contains((2L, 1L)))
    assert(pairs(Dedup.containmentPairsPrefix(sh, 0.07)) == naiveC,
      "prefix-filtered containment dropped the boundary orientation — the double-ceil drift is back")
  }

  test("incremental containmentPairsAgainst: batch-vs-index (both orientations) + intra covers the full oriented join") {
    val docs = Tables.documents(spark, sf)
    import org.apache.spark.sql.functions.col
    val shAll = Dedup.shingleSets(docs, "doc_id", "text", 3).cache()
    val shOld = shAll.filter(col("doc") < 400).cache()
    val shNew = shAll.filter(col("doc") >= 400).cache()
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val t = 0.6
    val full = pairSet(Dedup.containmentPairs(shAll, t))
    val cross = pairSet(Dedup.containmentPairsAgainst(shNew, shOld, t))
    val incremental = pairSet(Dedup.containmentPairs(shOld, t)) ++ cross ++
      pairSet(Dedup.containmentPairs(shNew, t))
    assert(full.nonEmpty)
    assert(incremental == full,
      s"missing=${(full -- incremental).take(5)} extra=${(incremental -- full).take(5)}")
    // both orientations genuinely occur across the boundary in this data
    assert(cross.exists(p => p._1 >= 400 && p._2 < 400), "new-contained-in-old missing")
    assert(cross.exists(p => p._1 < 400 && p._2 >= 400), "old-contained-in-new missing")
    // overlap between the inputs is refused loudly
    val e = intercept[IllegalArgumentException] {
      Dedup.containmentPairsAgainst(shNew, shAll, t)
    }
    assert(e.getMessage.contains("disjoint"))
    Seq(shAll, shOld, shNew).foreach(_.unpersist())
  }

  test("adaptive-chooser verdict is memoized with the shingle index: the stats pass runs once per (session, dir)") {
    import graft.queries.DedupQueries
    // a path-equivalent alias of the suite dir that no other test has
    // touched: cache-key-distinct, so this test owns its entry even when
    // other suites in the same JVM already populated the real key
    val key = sf + "/."
    val before = DedupQueries.strategyStatsRuns
    val s1 = DedupQueries.sharedStrategy(spark, key)
    assert(DedupQueries.strategyStatsRuns == before + 1,
      "first call must run the stats aggregation exactly once")
    val s2 = DedupQueries.sharedStrategy(spark, key)
    val s3 = DedupQueries.sharedStrategy(spark, key)
    assert(DedupQueries.strategyStatsRuns == before + 1,
      "the Σf·(f−1)/2 stats pass re-ran for an already-memoized index")
    assert(s1 == s2 && s2 == s3, "memoized verdict must be stable")
  }

  test("minhashLshPairs equals exact jaccardPairs on real documents") {
    val docs = Tables.documents(spark, sf)
    val sh = Dedup.shingleSets(docs, "doc_id", "text", 3).cache()
    val exact = Dedup.jaccardPairs(sh, 0.7)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(sh, 0.7)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "testdata should contain near-dup documents")
    assert(lsh == exact)
    sh.unpersist()
  }

  test("connectedComponents: chains collapse to the min id, singletons excluded") {
    import spark.implicits._
    // chain 1-2-3 plus pair 10-11: transitive closure must label 3 with 1
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("pointerDoublingComponents: a 64-node chain converges within log-bounded rounds where plain propagation cannot") {
    import spark.implicits._
    // path graph 1-2-...-64: diameter 63. Min-label PROPAGATION moves the
    // label one hop per round, so 10 rounds provably cannot converge; the
    // pointer-doubling path halves label chains per round and finishes in
    // ~log2(63) rounds — the log(diameter) claim, pinned adversarially.
    val chain = (1L until 64L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    assertThrows[IllegalStateException](
      Dedup.labelPropComponents(chain, maxIters = 10))
    val got = Dedup.pointerDoublingComponents(chain, maxIters = 10)
      .as[(Long, Long)].collect().toMap
    assert(got.keySet == (1L to 64L).toSet)
    assert(got.values.forall(_ == 1L), s"all labels must be the chain min: $got")
  }

  test("reliable checkpoint mode: loops write round state to the checkpoint dir, same labels") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    spark.conf.set(graft.operators.Lineage.ReliableConf, "true")
    try {
      val chain = (1L until 32L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
      val got = Dedup.pointerDoublingComponents(chain, maxIters = 10)
        .as[(Long, Long)].collect().toMap
      assert(got.keySet == (1L to 32L).toSet && got.values.forall(_ == 1L))
      // round state actually landed in durable storage
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(p => java.nio.file.Files.isRegularFile(p)).count()
      assert(files > 0, "reliable mode must write checkpoint files")
    } finally spark.conf.set(graft.operators.Lineage.ReliableConf, "false")
  }

  test("all three CC algorithms produce identical labels on the same pair graph") {
    import spark.implicits._
    // two chains, one pair, one triangle-with-tail — enough shape to
    // catch an algorithm that mislabels merges of distinct local minima
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L), (20L, 21L),
      (30L, 31L), (31L, 32L), (30L, 32L), (32L, 33L)).toDF("doc_a", "doc_b")
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long)].collect().toMap
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val uf = toMap(Dedup.connectedComponents(pairs)) // driver union-find
    val lpFrame = Dedup.labelPropComponents(pairs)
    val pdFrame = Dedup.pointerDoublingComponents(pairs)
    val (lp, pd) = (toMap(lpFrame), toMap(pdFrame))
    assert(uf == lp, "union-find vs label-prop")
    assert(uf == pd, "union-find vs pointer doubling")
    // both distributed loops release every superseded round; releasing
    // their results leaves the block manager exactly as found
    graft.operators.Lineage.release(lpFrame)
    graft.operators.Lineage.release(pdFrame)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"CC loops + release must free every round's blocks; leaked: $leaked")
  }

  test("round budgets: the smallest maxIters each CC loop needs converges, one fewer throws") {
    import spark.implicits._
    import graft.operators.Lineage
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // budgets recorded on these fixed inputs; the no-change probe that
    // detects the fixpoint counts as a round, so an off-by-one in the
    // loop condition moves the smallest budget and fails here
    val chain64 = (1L until 64L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val pd = Dedup.pointerDoublingComponents(chain64, maxIters = 6)
    assert(pd.as[(Long, Long)].collect().toMap == (1L to 64L).map(_ -> 1L).toMap)
    Lineage.release(pd)
    assertThrows[IllegalStateException](
      Dedup.pointerDoublingComponents(chain64, maxIters = 5))
    // a 6-node chain: propagation moves the min label one hop per round
    // (5 rounds) plus the no-change round
    val chain6 = (1L until 6L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val lp = Dedup.labelPropComponents(chain6, maxIters = 6)
    assert(lp.as[(Long, Long)].collect().toMap == (1L to 6L).map(_ -> 1L).toMap)
    Lineage.release(lp)
    assertThrows[IllegalStateException](
      Dedup.labelPropComponents(chain6, maxIters = 5))
    // the throwing runs free their last round too
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"budget runs leaked RDD ids: $leaked")
  }

  test("Lineage.iterate: probes round 0 without a predecessor, counts steps, stops at the budget") {
    import spark.implicits._
    import graft.operators.Lineage
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // one counter row; each step adds 1 and the probe accepts 3, so the
    // smallest budget is 3 steps
    def run(maxSteps: Int) = {
      val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Option[Long])]
      val fix = Lineage.iterate(Seq(0L).toDF("v"), maxSteps)(_.select(($"v" + 1).as("v"))) {
        (state, prev) =>
          val v = state.as[Long].head()
          seen += (v -> prev.map(_.as[Long].head()))
          v >= 3
      }
      (fix, seen.toSeq)
    }
    val (ok, okSeen) = run(3)
    assert(ok.converged && ok.steps == 3)
    assert(okSeen == Seq(0L -> None, 1L -> Some(0L), 2L -> Some(1L), 3L -> Some(2L)))
    assert(ok.orThrow("unreachable").as[Long].head() == 3L)
    Lineage.release(ok.state)
    val (short, shortSeen) = run(2)
    assert(!short.converged && short.steps == 2 && shortSeen.map(_._1) == Seq(0L, 1L, 2L))
    val e = intercept[IllegalStateException](short.orThrow("budget 2 is one short"))
    assert(e.getMessage == "budget 2 is one short")
    // a negative budget runs no round, not even the round-0 probe
    val (none, noneSeen) = run(-1)
    assert(!none.converged && none.steps == 0 && noneSeen.isEmpty)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"iterate + release/orThrow leaked RDD ids: $leaked")
  }

  test("Lineage.release frees a cut frame's checkpoint blocks immediately") {
    import spark.implicits._
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val cut = graft.operators.Lineage.cut(
      spark.range(1000).select($"id", ($"id" * 2).as("v")))
    assert(cut.count() == 1000) // materialize the checkpoint blocks
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.nonEmpty, "a materialized local checkpoint must register persisted RDDs")
    graft.operators.Lineage.release(cut)
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert((added -- after) == added,
      s"release must unpersist the checkpoint RDDs now, not wait for GC: still present ${added & after}")
  }

  test("iterative loops release superseded rounds: CC leaves no extra persisted RDDs behind") {
    import spark.implicits._
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // 64-node chain: many rounds, many superseded label tables
    val pairs = (0L until 63L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val labels = Dedup.pointerDoublingComponents(pairs)
    assert(labels.as[(Long, Long)].collect().forall(_._2 == 0L))
    graft.operators.Lineage.release(labels)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty,
      s"pointer doubling + release must free every round's blocks; leaked RDD ids: $leaked")
  }

  test("pointer doubling on a 1e5-spoke hub star: log-bounded rounds, no single-task straggler stage") {
    import spark.implicits._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    // adversarial SKEW shape: one hub carries EVERY edge (1e5 spokes), so
    // any plan that reduces or joins the raw per-key edge list in one
    // task turns the hub into a straggler. The operator's defenses are
    // structural — the neighbor-min is map-side partially aggregated
    // (the hub key crosses the shuffle as one record per map partition,
    // not 1e5) and the label table is small enough to broadcast into the
    // edge join — and this spec holds BOTH: a skew-concentrated stage
    // shows up as one task owning most of its stage's shuffle records.
    val n = 100000L
    val hub = 50000L // NOT the min id: labels must still converge to 0
    val pairs = spark.range(n).filter($"id" =!= hub)
      .select(least($"id", lit(hub)).as("doc_a"),
        greatest($"id", lit(hub)).as("doc_b"))
    // (stageId, shuffleRecordsRead) per finished task, listener-collected
    val taskEvents = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]()
    @volatile var lastEventNs = System.nanoTime()
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        lastEventNs = System.nanoTime()
        val m = t.taskMetrics
        if (m != null)
          taskEvents.add((t.stageId, m.shuffleReadMetrics.recordsRead))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val labels =
      try {
        // star diameter is 2: init + jump round + no-change round. A
        // maxIters beyond 4 would hide a convergence regression; the
        // operator throws (not partial labels) when the bound is hit.
        val got = Dedup.pointerDoublingComponents(pairs, maxIters = 4)
        val byLabel = got.groupBy($"component").count()
          .as[(Long, Long)].collect().toMap
        assert(byLabel == Map(0L -> n),
          s"one component labeled by the min id expected: $byLabel")
        got
      } finally {
        // drain the async listener bus before reading taskEvents: poll
        // until no event lands for 1 s (bounded), then detach
        val deadline = System.nanoTime() + 15e9.toLong
        while (System.nanoTime() - lastEventNs < 1e9.toLong &&
               System.nanoTime() < deadline) Thread.sleep(100)
        spark.sparkContext.removeSparkListener(listener)
      }
    import scala.jdk.CollectionConverters._
    val byStage = taskEvents.asScala.toSeq.groupBy(_._1)
      .map { case (sid, evs) => sid -> evs.map(_._2) }
    val heavy = byStage.filter { case (_, recs) =>
      recs.size >= 4 && recs.sum >= 10000L }
    assert(byStage.values.exists(_.sum > 0), "expected shuffling stages")
    heavy.foreach { case (sid, recs) =>
      val share = recs.max.toDouble / recs.sum
      assert(share <= 0.6,
        s"stage $sid: one task read ${recs.max} of ${recs.sum} shuffle " +
          s"records (${(share * 100).round}%) — the hub key concentrated " +
          "into a straggler task")
    }
    graft.operators.Lineage.release(labels)
  }

  /** Runs `body` under a listener; returns its result, the stage ids of
    * each of its jobs in start order, and its finished tasks per stage.
    * The bus delivers events in order, so a marker job run before and
    * after `body` fences off the backlog of earlier work and waits for
    * the last of `body`'s own events.
    */
  private def recordTasks[T](body: => T): (T, Seq[Set[Int]], Map[Int, Int]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
    import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, LinkedBlockingQueue, TimeUnit}
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val marker = "recordTasks marker"
    val jobs = new ConcurrentLinkedQueue[(Int, Set[Int])]()
    val tasks = new ConcurrentLinkedQueue[Int]()
    val markerJobs = ConcurrentHashMap.newKeySet[Int]()
    val markersDone = new LinkedBlockingQueue[Int]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.job.description") == marker))
          markerJobs.add(j.jobId)
        else jobs.add((j.jobId, j.stageIds.toSet))
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        if (markerJobs.contains(j.jobId)) markersDone.add(j.jobId)
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = tasks.add(t.stageId)
    }
    def fence(): Unit = {
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(0), 1).count() finally sc.setJobDescription(null)
      assert(markersDone.poll(60, TimeUnit.SECONDS) != null, "listener bus did not drain")
    }
    sc.addSparkListener(listener)
    try {
      fence(); jobs.clear(); tasks.clear()
      val result = body
      fence()
      val stages = jobs.asScala.toSeq.sortBy(_._1).map(_._2)
      val own = stages.flatten.toSet
      (result, stages,
        tasks.asScala.toSeq.filter(own).groupBy(identity).map { case (sid, ts) => sid -> ts.size })
    } finally sc.removeSparkListener(listener)
  }

  test("q123 at sf0.01, warm: at most 32 tasks in all (pair set and CC edges are byte-wide)") {
    // The near-dup pairs (25 rows here) come out of broadcast joins off
    // the core-wide shingle index; kept at that width, and doubled by
    // the edge union, every scan of them cost 64 tasks: 206 tasks per
    // warm run. Compacted, the whole row is ~14.
    val q123 = SparkEntry.queries("q123_doubling_components")
    val dir = "/root/testdata/sf0.01"
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val warm = q123(spark, dir)
    warm.collect() // builds the shingle index and the pair set
    // building the frame runs the fixpoint loop, so it is measured too
    val ((timed, rows), _, tasksByStage) = recordTasks {
      val df = q123(spark, dir)
      (df, df.collect())
    }
    assert(rows.nonEmpty)
    val total = tasksByStage.values.sum
    assert(total <= 32, s"warm q123 ran $total tasks (per stage: $tasksByStage)")
    // the label leaves belong to the caller; QueryCaches.clear frees
    // the compacted pair set with the rest of the index
    Seq(warm, timed).foreach(graft.operators.Lineage.release)
    graft.queries.QueryCaches.clear()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"QueryCaches.clear left persisted RDD ids: $leaked")
  }

  test("pointer doubling on a 32-partition pair frame: no stage wider than 4 tasks after the edge cut") {
    import spark.implicits._
    val pairs = (0L until 63L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
      .repartition(32).persist()
    assert(pairs.count() == 63L)
    val (labels, jobs, tasksByStage) = recordTasks {
      val got = Dedup.pointerDoublingComponents(pairs)
      assert(got.as[(Long, Long)].collect().forall(_._2 == 0L))
      got
    }
    // the first job is the edge cut's exchange, which reads all 32
    // partitions (twice: both edge directions); what follows reads the cut
    val edgeCut = jobs.head
    val after = tasksByStage.filter { case (sid, _) => !edgeCut(sid) }
    assert(after.nonEmpty && after.values.max <= 4,
      s"stages after the edge cut, with task counts: $after")
    graft.operators.Lineage.release(labels)
    pairs.unpersist()
  }

  test("simhashPairs equals exact brute-force hamming pairs (recall 1 by pigeonhole)") {
    val docs = Tables.documents(spark, sf).limit(100)
    val fps = Dedup.simhashFingerprints(docs, "doc_id", "text").cache()
    val banded = Dedup.simhashPairs(fps, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val brute = fps.as("a").join(fps.as("b"), col("a.doc") < col("b.doc"))
      .select(col("a.doc"), col("b.doc"),
        bit_count(col("a.fp").bitwiseXOR(col("b.fp"))).cast("int").as("h"))
      .filter(col("h") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(banded == brute)
    fps.unpersist()
  }

  test("containmentPairs: a contained doc surfaces oriented with C=1 where Jaccard stays silent") {
    import spark.implicits._
    val long = (0 until 200).map(i => s"w$i").mkString(" ")
    val short = (0 until 30).map(i => s"w$i").mkString(" ") // strict prefix of `long`
    val other = (1000 until 1200).map(i => s"x$i").mkString(" ")
    val docs = Seq((1L, long), (2L, short), (3L, other)).toDF("doc_id", "text")
    val sh = Dedup.shingleSets(docs, "doc_id", "text")
    val cp = Dedup.containmentPairs(sh, 0.9).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // the SHORT doc is fully contained in the long one — oriented (2, 1)
    assert(cp.get((2L, 1L)).contains(1.0), s"contained doc missing: $cp")
    // the reverse orientation is NOT contained (28 of 198 shingles)
    assert(!cp.contains((1L, 2L)))
    // the unrelated doc pairs with nothing
    assert(!cp.keys.exists { case (a, b) => a == 3L || b == 3L })
    // and symmetric Jaccard is structurally blind to this pair
    val jp = Dedup.jaccardPairs(sh, 0.5).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!jp.contains((1L, 2L)) && !jp.contains((2L, 1L)),
      "J ~ |A|/|B| must stay under 0.5 for the planted subset pair")
  }

  test("containmentPairsPrefix == containmentPairs; candidate volume provably shrinks on a heavy-tailed corpus") {
    import spark.implicits._
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap

    // 1. planted-prefix fixture (the containmentPairs one): output
    //    equality at a tight and a loose threshold, both orientations
    val long = (0 until 200).map(i => s"w$i").mkString(" ")
    val short = (0 until 30).map(i => s"w$i").mkString(" ")
    val other = (1000 until 1200).map(i => s"x$i").mkString(" ")
    val docs = Seq((1L, long), (2L, short), (3L, other)).toDF("doc_id", "text")
    val sh = Dedup.shingleSets(docs, "doc_id", "text").cache()
    for (t <- Seq(0.9, 0.3)) {
      val naive = pairs(Dedup.containmentPairs(sh, t))
      assert(pairs(Dedup.containmentPairsPrefix(sh, t)) == naive,
        s"prefix-filtered output must equal the naive join at t=$t")
      assert(pairs(Dedup.containmentPairsAdaptive(sh, t)) == naive)
    }
    assert(pairs(Dedup.containmentPairsPrefix(sh, 0.9)).get((2L, 1L)).contains(1.0),
      "the planted strict-prefix doc must survive prefix filtering oriented C=1")
    sh.unpersist()

    // 2. heavy-tailed fixture: 40 docs each carrying 10 unique shingles
    //    plus ONE boilerplate shingle shared by ALL, and one doc (100)
    //    genuinely contained in doc 0. The naive join candidates every
    //    ordered cross pair through the boilerplate key (41*40 = 1640);
    //    the prefix join indexes only each doc's RAREST shingles, where
    //    the boilerplate never sits — candidates collapse to the two
    //    true orientations.
    val rows = (0 until 40).flatMap { dnum =>
      (0 until 10).map(i => (dnum.toLong, s"u${dnum}_$i")) :+ ((dnum.toLong, "boiler"))
    } ++ ((0 until 9).map(i => (100L, s"u0_$i")) :+ ((100L, "boiler")))
    val sh2 = rows.toDF("doc", "sh").cache()
    val naiveCand = sh2.as("a")
      .join(sh2.as("b"), col("a.sh") === col("b.sh") && col("a.doc") =!= col("b.doc"))
      .select(col("a.doc"), col("b.doc")).distinct().count()
    assert(naiveCand == 41L * 40, s"fixture sanity: boilerplate must candidate all pairs, got $naiveCand")
    val prefCand = Dedup.containmentCandidates(sh2, 0.8).count()
    assert(prefCand <= 4, s"prefix filtering must collapse the boilerplate blowup, got $prefCand candidates")
    // and the verified outputs still agree exactly: C(100→0) = 1.0 and
    // C(0→100) = 10/11 both clear 0.8; nothing else does
    val np = pairs(Dedup.containmentPairs(sh2, 0.8))
    assert(pairs(Dedup.containmentPairsPrefix(sh2, 0.8)) == np)
    assert(np.keySet == Set((100L, 0L), (0L, 100L)), np.toString)
    assert(np((100L, 0L)) == 1.0)
    // the adaptive chooser must route THIS distribution to the prefix
    // variant (cand/rows = 1640-ish incidences per 419 rows >> 16 needs
    // the hot-shingle term: sum f(f-1)/2 = 41*40/2 + small = 820+)
    assert(Dedup.chooseJaccardStrategy(sh2, candFactor = 1.0) == Dedup.PrefixFiltered)
    sh2.unpersist()
  }

  test("unicode dedup family: simhash sees CJK near-dups whitespace tokens cannot; minhash-LSH == jaccard over unicode shingles") {
    import spark.implicits._
    // three near-identical unspaced CJK docs (one char edited) + one
    // unrelated doc. Whitespace tokenization makes each CJK doc ONE
    // token, so a single-char edit produces an unrelated md5 hash and an
    // unrelated fingerprint — near-dups are INVISIBLE. Unicode unigram
    // tokens share 299/300 characters: a one-token edit flips a sign
    // bit only where the ±1 bit-sum sits at exactly ±1, which at 300
    // tokens is <1 expected bit — comfortably inside the banding's
    // hamming-3 radius. (At ~40 tokens the expected flip count is ~3-4:
    // SimHash's radius is calibrated for LONG documents, which is why
    // the fixture is, too.)
    val base = (0 until 300).map(i => (0x4E00 + i * 7).toChar).mkString
    val docs = Seq(
      (1L, base),
      (2L, base.updated(50, '鼠')),  // one substitution
      (3L, base.updated(200, '鼡')), // a different substitution
      (4L, "the quick brown fox jumps over the lazy dog entirely unrelated")
    ).toDF("doc_id", "text")
    def pairs(unicode: Boolean): Set[(Long, Long)] =
      Dedup.simhashPairs(
          Dedup.simhashFingerprints(docs, "doc_id", "text", unicode = unicode))
        .select($"doc_a", $"doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(unicode = false).isEmpty,
      "whitespace simhash must NOT see the CJK near-dups (the documented degeneration)")
    val uni = pairs(unicode = true)
    assert(uni.contains((1L, 2L)) && uni.contains((1L, 3L)),
      s"unicode simhash must surface the single-edit near-dups, got $uni")
    assert(!uni.exists { case (a, b) => a == 4L || b == 4L },
      "the unrelated English doc must not pair with CJK docs")
    // MinHash is unicode-capable transitively (it consumes shingleSets):
    // LSH candidates + exact verification over unicode shingles must
    // equal the exact Jaccard join on the same shingle sets
    val sh = Dedup.shingleSets(docs, "doc_id", "text", unicode = true)
    def keyOf(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_a", $"doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(keyOf(Dedup.minhashLshPairs(sh, 0.5)) == keyOf(Dedup.jaccardPairs(sh, 0.5)))
  }
}
