package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic pins for the round-6 analytics operators beyond the DuckDB
  * hash-equality gate: the *properties* each operator promises.
  */
class AnalyticsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder("local[4]").getOrCreate()
  val sf = "/root/testdata/sf0.001"

  test("q76: pairs canonical, cosine in (0,1], and bit-equal to a from-scratch recompute") {
    val rows = SparkEntry.queries("q76_tfidf_cosine")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1), "pair not canonical")
      val c = r.getDouble(3)
      assert(c > 0.0 && c <= 1.0, s"cosine out of range: $c")
    }
    assert(rows.exists(_.getDouble(3) == 1.0),
      "near-dup clusters should yield proportional pruned vectors (cosine exactly 1.0)")

    // independent pure-Scala recompute (tokenize → df cap → tf vectors →
    // integer dot/norms → same IEEE finishing sequence) for every pair of
    // the first reported cluster plus the single highest-id pair
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val tf: Map[Long, Map[String, Long]] = docs.map { case (id, text) =>
      id -> text.toLowerCase.split("[^a-z]+").filter(_.nonEmpty)
        .groupBy(identity).map { case (t, xs) => t -> xs.length.toLong }
    }
    val dfCap = docs.size / 10
    val df = tf.values.flatMap(_.keys).groupBy(identity).map { case (t, xs) => t -> xs.size }
    val kept: Map[Long, Map[String, Long]] =
      tf.map { case (id, v) => id -> v.filter { case (t, _) => df(t) <= dfCap } }
    def cosine(a: Long, b: Long): Double = {
      val (va, vb) = (kept(a), kept(b))
      val dot = va.iterator.map { case (t, f) => f * vb.getOrElse(t, 0L) }.sum
      val na = va.values.map(f => f * f).sum
      val nb = vb.values.map(f => f * f).sum
      dot.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
    }
    (rows.take(20) ++ rows.takeRight(1)).foreach { r =>
      val expect = cosine(r.getLong(0), r.getLong(1))
      assert(r.getDouble(3) == expect,
        s"pair (${r.getLong(0)},${r.getLong(1)}): got ${r.getDouble(3)}, recompute $expect")
    }
  }

  test("q77: flagged buckets are exactly the buckets touched by the planted divergence") {
    val o = Tables.orders(spark, sf)
    val expected = o
      .filter(col("o_orderkey") % 97 === 0 || col("o_orderkey") % 101 === 0)
      .select((col("o_orderkey") % 256).as("bucket"))
      .distinct().collect().map(_.getLong(0)).toSet
    val got = SparkEntry.queries("q77_table_diff")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    assert(got == expected, s"flagged ${got.size} buckets, planted ${expected.size}")
  }

  test("q77: count deltas localize deletions per bucket") {
    val o = Tables.orders(spark, sf)
    val deletes = o.filter(col("o_orderkey") % 101 === 0)
      .groupBy((col("o_orderkey") % 256).as("bucket")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    SparkEntry.queries("q77_table_diff")(spark, sf).collect().foreach { r =>
      val (bucket, nA, nB) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(nA - nB == deletes.getOrElse(bucket, 0L),
        s"bucket $bucket: count delta ${nA - nB} != planted deletes ${deletes.getOrElse(bucket, 0L)}")
    }
  }

  test("q78: per-key intervals are contiguous, non-overlapping, with exactly one open row") {
    val rows = SparkEntry.queries("q78_scd2_history")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(3), r.getString(4), r.getBoolean(6)))
      .groupBy(_._1)
    assert(rows.nonEmpty)
    rows.foreach { case (cust, hist) =>
      val sorted = hist.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1L to sorted.length).toSeq,
        s"cust $cust: versions not contiguous")
      assert(sorted.count(_._5) == 1, s"cust $cust: open-row count != 1")
      assert(sorted.last._5, s"cust $cust: open row is not the last version")
      sorted.sliding(2).foreach {
        case Array((_, _, _, effTo, _), (_, _, effFromNext, _, _)) =>
          assert(effTo == effFromNext, s"cust $cust: interval gap $effTo vs $effFromNext")
        case _ => ()
      }
      sorted.foreach { case (_, _, from, to, _) =>
        assert(from < to, s"cust $cust: empty/inverted interval [$from, $to)")
      }
    }
  }

  test("q83: triangle count equals a from-scratch adjacency-set recount; orientation caps wedge work") {
    val row = SparkEntry.queries("q83_triangle_count")(spark, sf).head()
    val (nEdges, nTri) = (row.getLong(0), row.getLong(1))

    val li = Tables.lineitem(spark, sf)
      .filter(col("l_partkey") % 4 === 0)
      .select(col("l_orderkey"), col("l_partkey"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges = li.groupBy(_._1).values.flatMap { lines =>
      val ps = lines.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- i + 1 until ps.length) yield (ps(i), ps(j))
    }.toSet
    assert(edges.size.toLong == nEdges)
    val adj = edges.groupBy(_._1).map { case (u, es) => u -> es.map(_._2).toSet }
    val expected = edges.toSeq.map { case (u, v) =>
      adj.getOrElse(u, Set.empty).count(w => v < w && adj.getOrElse(v, Set.empty).contains(w))
    }.sum.toLong
    assert(nTri == expected, s"got $nTri triangles, brute force $expected")
    assert(nTri > 0, "degenerate fixture: no triangles")

    // orientation bounds the wedge fan-out: Σ outdeg² < Σ deg²
    val degMap = edges.toSeq.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
      .map { case (n, xs) => n -> xs.size.toLong }
    val outdeg = edges.toSeq.map { case (u, v) =>
      if (degMap(u) < degMap(v) || (degMap(u) == degMap(v) && u < v)) u else v
    }.groupBy(identity).map(_._2.size.toLong)
    assert(outdeg.map(d => d * d).sum < degMap.values.map(d => d * d).sum,
      "orientation did not reduce wedge work on this graph")
  }

  test("q84: heavy hitters equal the single-shuffle groupBy-HAVING answer exactly") {
    import org.apache.spark.sql.functions.{count => fcount}
    val got = SparkEntry.queries("q84_heavy_hitters")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val tok = Tables.documents(spark, sf)
      .select(explode(split(lower(col("text")), "[^a-z]+")).as("token"))
      .filter(col("token") =!= "")
    val thr = math.max(1L, tok.count() / 500)
    val expected = tok.groupBy(col("token")).agg(fcount(lit(1)).as("n"))
      .filter(col("n") >= thr)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == expected, s"heavy-hitter sets differ: got ${got.size}, expected ${expected.size}")
    assert(got.nonEmpty)
  }

  test("q85: monoid merge of base+delta equals the full recompute at a different split too") {
    val merged = SparkEntry.queries("q85_incremental_agg")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val full = Tables.orders(spark, sf)
      .select(col("o_custkey"), round(col("o_totalprice") * 100).cast("long").as("pc"))
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n"), sum(col("pc")).as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(merged == full, "incremental merge diverged from full recompute")
  }

  test("q86: integer pagerank equals a from-scratch Scala recompute bit-for-bit; mass conserved") {
    val got = SparkEntry.queries("q86_pagerank")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.nonEmpty)
    val S = 1000000000000L
    assert(math.abs(got.values.sum - S) < S / 10000000L, "mass drifted beyond floor losses")

    val li = Tables.lineitem(spark, sf)
      .filter(col("l_partkey") % 4 === 0)
      .select(col("l_orderkey"), col("l_partkey"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val eu = li.groupBy(_._1).values.flatMap { lines =>
      val ps = lines.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- i + 1 until ps.length) yield (ps(i), ps(j))
    }.toSet
    val el = eu.toSeq ++ eu.toSeq.map(e => (e._2, e._1))
    val deg = el.groupBy(_._1).map { case (u, es) => u -> es.size.toLong }
    val n = deg.size.toLong
    val base = (S * 15L) / (100L * n)
    var pr: Map[Long, Long] = deg.map { case (node, _) => node -> S / n }
    for (_ <- 1 to 2) {
      val sums = scala.collection.mutable.HashMap.empty[Long, Long]
      el.foreach { case (u, v) =>
        sums.update(v, sums.getOrElse(v, 0L) + pr(u) / deg(u))
      }
      pr = sums.map { case (node, c) => node -> (base + (85L * c) / 100L) }.toMap
    }
    assert(got == pr, "distributed integer pagerank diverged from the sequential recompute")
  }

  test("PageRank.converge reaches an integer-L1 fixpoint under the cap and one further step stays inside eps") {
    import graft.operators.{Lineage, PageRank}
    val li = Tables.lineitem(spark, sf)
      .filter(col("l_partkey") % 4 === 0)
      .select(col("l_orderkey"), col("l_partkey"))
    val eu = li.as("a")
      .join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") && col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
      .distinct()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val el = PageRank.bothWays(eu).persist()
    val deg = PageRank.degrees(el).persist()
    val S = PageRank.Scale
    val eps = S / 1000L
    val (pr, iters, delta) = PageRank.converge(el, deg, eps, maxIter = 60)
    assert(delta <= eps, s"no fixpoint: delta=$delta after $iters rounds")
    assert(iters == 5, s"this graph reaches eps in exactly 5 rounds, got $iters")
    // round budget: the smallest cap that converges returns the same
    // fixpoint; one fewer returns unconverged (delta > eps), not a throw
    val (atCap, capIters, capDelta) = PageRank.converge(el, deg, eps, maxIter = 5)
    assert(capIters == 5 && capDelta == delta)
    Lineage.release(atCap)
    val (short, shortIters, shortDelta) = PageRank.converge(el, deg, eps, maxIter = 4)
    assert(shortIters == 4 && shortDelta > eps,
      s"cap 4 must stop unconverged: ($shortIters, $shortDelta)")
    Lineage.release(short)
    // mass is conserved at the fixpoint up to accumulated floor losses
    val mass = pr.agg(sum(col("pr"))).head().getLong(0)
    assert(math.abs(mass - S) < S / 100000L, s"mass drifted: $mass vs $S")
    // stability: the integer delta is a contraction (factor 0.85 plus
    // bounded floor noise), so one more synchronous round stays inside eps
    val n = deg.count()
    val next = PageRank.step(el, deg, pr, n)
    val delta2 = next.select(col("node"), col("pr").as("__npr"))
      .join(pr, "node")
      .agg(sum(abs(col("__npr") - col("pr")))).head().getLong(0)
    assert(delta2 <= eps, s"fixpoint not stable: a further round moved L1 by $delta2")
    // unpersist() cannot reach the result's checkpoint blocks; release can
    Lineage.release(pr); el.unpersist(); deg.unpersist()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"converge + release must free every round's blocks; leaked: $leaked")
  }

  test("q87: bloom-prefiltered semi-join equals the plain semi-join; might_contain is in the plan") {
    val df = SparkEntry.queries("q87_bloom_semijoin")(spark, sf)
    val got = df.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    val keys = Tables.orders(spark, sf)
      .filter(col("o_orderpriority") === "1-URGENT").select(col("o_orderkey"))
    val expected = Tables.lineitem(spark, sf)
      .join(keys, col("l_orderkey") === col("o_orderkey"), "left_semi")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("revenue"))
      .orderBy(col("l_returnflag"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == expected, "bloom prefilter changed the exact result")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), "bloom prefilter missing from the physical plan")
  }

  test("q78: version count equals observed attribute changes (reconstructed independently)") {
    val o = Tables.orders(spark, sf)
      .select(col("o_custkey"), col("o_orderpriority"),
        date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("d"), col("o_orderkey"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .groupBy(_._1)
    val got = SparkEntry.queries("q78_scd2_history")(spark, sf)
      .groupBy(col("o_custkey")).agg(max(col("version")).as("v"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    o.foreach { case (cust, obs) =>
      // snapshot semantics: last orderkey per date wins, then count runs
      val seq = obs.groupBy(_._3).map { case (d, xs) => d -> xs.maxBy(_._4)._2 }
        .toSeq.sortBy(_._1).map(_._2)
      val changes = 1 + seq.sliding(2).count(w => w.length == 2 && w(0) != w(1))
      assert(got(cust) == changes.toLong, s"cust $cust: ${got(cust)} versions, expected $changes")
    }
  }

  test("CountMin: one-sided guarantee over EVERY key, exact merge of split sketches, zero for unseen") {
    import graft.operators.CountMin
    val k = Tables.events(spark, sf).select(col("user_id").cast("string").as("key"))
    val (depth, width) = (4, 8) // narrow: force real collisions at sf0.001 (15 users)
    val sk = CountMin.sketch(k, "key", depth, width)
    val truth = k.groupBy(col("key")).agg(count(lit(1)).as("true_cnt"))
    val est = CountMin.estimate(sk, truth.select(col("key")), "key", depth, width)
      .join(truth, "key")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(est.nonEmpty)
    est.foreach { case (key, e, t) =>
      assert(e >= t, s"CMS under-estimated $key: $e < $t")
    }
    // the narrow sketch must actually collide somewhere, or the test is vacuous
    assert(est.exists { case (_, e, t) => e > t },
      s"no collisions at width $width - widen the test's claim")

    // merge: sketch(A ++ B) == merge(sketch(A), sketch(B)) cell-for-cell
    val a = k.filter(col("key").cast("long") % 2 === 0)
    val b = k.filter(col("key").cast("long") % 2 =!= 0)
    val merged = CountMin.merge(
        CountMin.sketch(a, "key", depth, width),
        CountMin.sketch(b, "key", depth, width))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val whole = sk.collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(merged == whole, "merged split sketches differ from the whole-corpus sketch")

    // a key that never occurred estimates 0 (untouched cells join to null -> 0)
    val unseen = spark.range(1).select(lit("graft-unseen-key-xyzzy").as("key"))
    val z = CountMin.estimate(sk, unseen, "key", depth, width).collect()
    assert(z.length == 1 && z(0).getLong(1) >= 0, "unseen key must estimate >= 0")
  }

  test("SpaceSaving: bounds sandwich every true count; skewed heavy hitter cannot be missed; exact at full capacity") {
    import graft.functions.SpaceSavingAgg
    import org.apache.spark.sql.{DataFrame, Row}
    import spark.implicits._
    // (floor, [(key, lb, ub)]) of the capacity-k summary of `rows`' `key`
    def summarize(rows: DataFrame, key: String, k: Int): (Long, Seq[(String, Long, Long)]) = {
      val r = rows.agg(SpaceSavingAgg(col(key), k).as("hh")).select("hh.*").head()
      (r.getLong(0), r.getSeq[Row](1).map(e => (e.getString(0), e.getLong(1), e.getLong(2))))
    }
    val tok = Tables.documents(spark, sf)
      .select(explode(split(lower(col("text")), "[^a-z]+")).as("token"))
      .filter(col("token") =!= "")
    val truth = tok.groupBy(col("token")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    // capacity 8 over a ~31-token vocabulary: heavy eviction churn, and
    // the [lb, ub] sandwich must still hold for every surviving key
    val (floor8, rows8) = summarize(tok, "token", 8)
    assert(rows8.nonEmpty)
    rows8.foreach { case (k, lb, ub) =>
      assert(lb <= truth(k), s"$k: lb $lb > true ${truth(k)}")
      assert(ub >= truth(k), s"$k: ub $ub < true ${truth(k)}")
    }
    truth.foreach { case (k, n) =>
      if (!rows8.exists(_._1 == k)) assert(n <= floor8, s"absent $k: true $n > floor $floor8")
    }

    // containment: a key holding 50% of a skewed stream sits above the
    // floor and MUST survive into the merged summary
    val skewed = ((1 to 500).map(_ => "hot") ++
        (1 to 100).flatMap(i => Seq.fill(5)(s"cold$i")))
      .toDF("key").repartition(4)
    val (floor, sk) = summarize(skewed, "key", 8)
    assert(500L > floor, s"test graph not skewed enough: floor $floor")
    val hot = sk.find(_._1 == "hot")
    assert(hot.isDefined, "the 50% key was evicted - containment guarantee broken")
    assert(hot.get._2 <= 500L && hot.get._3 >= 500L, s"hot bounds wrong: ${hot.get}")

    // capacity >= cardinality: no evictions anywhere, so lb == ub == truth
    val (floorExact, exact) = summarize(tok, "token", 1000)
    assert(floorExact == 0L, s"full-capacity floor $floorExact != 0")
    assert(exact.map(_._1).toSet == truth.keySet, "full-capacity summary must cover every key")
    exact.foreach { case (k, lb, ub) =>
      assert(lb == truth(k) && ub == truth(k), s"$k: ($lb, $ub) != exact ${truth(k)}")
    }
  }

  test("Bfs: levels match a sequential BFS recompute; depth cap respected; unreachable absent") {
    import graft.operators.{Bfs, Lineage, PageRank}
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // small deterministic graph: path 1-2-3-4-5-6 plus a triangle 1-7-8
    // and an isolated edge 100-101 (unreachable from 1)
    val edges = Seq((1L,2L),(2L,3L),(3L,4L),(4L,5L),(5L,6L),(1L,7L),(7L,8L),(8L,1L),(100L,101L))
    val el = PageRank.bothWays(
      spark.createDataFrame(edges).toDF("u", "v"))
    val result = Bfs.levels(el, 1L, 3)
    val got = result.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // per-level frontiers are freed once the result leaf consolidates
    // them; releasing the result leaves the block manager as found
    Lineage.release(result)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"levels + release must free every frontier's blocks; leaked: $leaked")
    // sequential BFS truth
    val adj = edges.flatMap { case (u, v) => Seq(u -> v, v -> u) }
      .groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).toSet }
    var dist = Map(1L -> 0)
    var frontier = Set(1L)
    for (lvl <- 1 to 3) {
      val nxt = frontier.flatMap(n => adj.getOrElse(n, Set.empty)) -- dist.keySet
      dist = dist ++ nxt.map(_ -> lvl)
      frontier = nxt
    }
    assert(got == dist, s"got $got, expected $dist")
    assert(!got.contains(100L) && !got.contains(101L), "unreachable nodes leaked in")
    assert(got.values.max <= 3, "depth cap violated")
    assert(got(4L) == 3 && !got.contains(5L), "path distances wrong at the cap boundary")
  }

  test("Sssp: weighted distances beat hop-count routing; budget prunes; bad weights rejected; no block leak") {
    import spark.implicits._
    import graft.operators.{Lineage, Sssp}
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // 1→2 costs 5 direct but 4 via 3 (2+2): the weighted answer MUST
    // differ from BFS's one-hop preference. 1→4 costs 9 via the cheap
    // detour (4 + 5); 1→5 only via a cost-20 edge — outside budget 10.
    val el = Seq(
      (1L, 2L, 5L), (1L, 3L, 2L), (3L, 2L, 2L),
      (2L, 4L, 5L), (1L, 5L, 20L)).toDF("u", "v", "w")
    val result = Sssp.distances(el, 1L, maxCost = 10L)
    val got = result.as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 4L, 3L -> 2L, 4L -> 9L),
      s"weighted relaxation wrong: $got")
    assert(!got.contains(5L), "budget-exceeding node leaked in")
    // round budget at the maxCost boundary: a unit-weight chain 1→…→5
    // under maxCost 4 reaches node 5 in round 4 and needs round 5 =
    // maxCost + 1 to see no improvement; one round fewer would throw
    val unitChain = (1L until 5L).map(i => (i, i + 1, 1L)).toDF("u", "v", "w")
    val boundary = Sssp.distances(unitChain, 1L, maxCost = 4L)
    assert(boundary.as[(Long, Long)].collect().toMap == (1L to 5L).map(i => i -> (i - 1)).toMap)
    Lineage.release(boundary)
    // superseded rounds were released eagerly inside the loop; releasing
    // the result leaves the block manager exactly as found
    Lineage.release(result)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"rounds must release eagerly; leaked: $leaked")
    val e = intercept[IllegalArgumentException] {
      Sssp.distances(Seq((1L, 2L, 0L)).toDF("u", "v", "w"), 1L, 10L)
    }
    assert(e.getMessage.contains("weights >= 1"), e.getMessage)
  }

  test("KCore: peel cascades through the tail, keeps the clique, empty when over-asked; no block leak") {
    import spark.implicits._
    import graft.operators.{KCore, Lineage, PageRank}
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // 4-clique {1,2,3,4} (degrees 3) + a chain 4-5-6-7 hanging off it.
    // k=3: the whole chain (degrees 2, 2, 1) peels in the first round and
    // node 4's degree drops 4→3 yet it must survive. k=2: the chain must
    // peel node by node ACROSS ROUNDS (7 first, then 6, then 5 — the
    // cascade parallel peeling exists to handle).
    val pairs = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L), (6L, 7L)).toDF("doc_a", "doc_b")
    val el = PageRank.bothWays(
      pairs.select($"doc_a".as("u"), $"doc_b".as("v")))
    val core3 = KCore.kCore(el, k = 3)
    val got = core3.as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L),
      s"3-core must be exactly the clique with in-core degrees: $got")
    Lineage.release(core3)
    // round budget: k=2 peels 7, 6, 5 in three rounds and the final
    // empty-`bad` probe counts as a fourth; a cap of 3 must throw
    val core2 = KCore.kCore(el, k = 2, maxIters = 4)
    assert(core2.as[(Long, Long)].collect().toMap == got, "2-core is the same clique")
    Lineage.release(core2)
    assertThrows[IllegalStateException](KCore.kCore(el, k = 2, maxIters = 3))
    // k beyond any degree: peeling empties the graph, result has 0 rows
    val core9 = KCore.kCore(el, k = 9)
    assert(core9.isEmpty)
    Lineage.release(core9)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"peel rounds must release eagerly; leaked: $leaked")
  }

  test("KCore equals a sequential peel reference on the corpus co-occurrence graph") {
    import spark.implicits._
    import graft.operators.{KCore, Lineage, PageRank}
    val li = Tables.lineitem(spark, sf)
    val pairs = li.as("a").join(li.as("b"),
        $"a.l_orderkey" === $"b.l_orderkey" && $"a.l_partkey" < $"b.l_partkey")
      .filter($"a.l_partkey" % 4 === 0 && $"b.l_partkey" % 4 === 0)
      .select($"a.l_partkey".as("u"), $"b.l_partkey".as("v")).distinct()
    val el = PageRank.bothWays(pairs)
    val result = KCore.kCore(el, k = 12) // sf0.001 graph: nontrivial peel (50 -> 48 nodes)
    val got = result.as[(Long, Long)].collect().toMap
    Lineage.release(result)
    // independent sequential reference: peel ONE minimum-degree node at
    // a time (classic degeneracy peel) — a different schedule than the
    // operator's delete-all-per-round, same fixpoint by k-core maximality
    var adj = el.as[(Long, Long)].collect().groupBy(_._1)
      .map { case (u, es) => u -> es.map(_._2).toSet }
    var changed = true
    while (changed) {
      adj.find { case (_, ns) => ns.size < 12 } match {
        case Some((v, _)) =>
          adj = (adj - v).map { case (u, ns) => u -> (ns - v) }
        case None => changed = false
      }
    }
    val want = adj.map { case (u, ns) => u -> ns.size.toLong }
    assert(got == want, s"operator (${got.size} nodes) != sequential peel (${want.size})")
    assert(got.nonEmpty && got.size < 50 && got.values.forall(_ >= 12))
  }
}
