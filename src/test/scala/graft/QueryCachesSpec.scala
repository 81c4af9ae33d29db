package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.{PipelineQueries, QueryCaches}

/** The query layer's artifact registry: every memoized index, pair set,
  * model, held cut and scratch dir a row makes is released by ONE call,
  * `QueryCaches.clear()`.
  */
class QueryCachesSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder("local[4]").getOrCreate()
  val dir = "/root/testdata/sf0.01"

  test("QueryCaches.clear releases every persist, held cut and temp dir the query rows made") {
    val sc = spark.sparkContext
    QueryCaches.clear() // every row below builds its artifacts afresh
    val before = sc.getPersistentRDDs.keySet
    // the cheapest row per memo kind, in each registry object. Left out:
    // q116/q123, whose CC label leaves belong to the caller, and the
    // Packing rows (q42, q141, q225, q220), whose snapshot cut only the
    // ContextCleaner frees.
    Seq(
      "q22_dedup_minhash",   // persisted index (shingles, signatures)
      "q21_dedup_jaccard",   // the compacted pair set, a held cut
      "q96_bfs_levels",      // a BFS result leaf over a persisted graph
      "q192_lm_score",       // a model persisted through `prepare`
      "q135_pq_rerank_topk"  // a tuple artifact (PQ index, persisted codes)
    ).foreach(n => SparkEntry.queries(n)(spark, dir).collect())
    // a composed chain: persisted stages, a held final cut, a temp dir
    val st = PipelineQueries.multiStages(spark)
    st.mixed.collect()
    assert(Files.exists(Paths.get(st.allocDir)))
    val made = sc.getPersistentRDDs.keySet -- before
    assert(made.nonEmpty, "the rows persisted nothing")
    QueryCaches.clear()
    val left = sc.getPersistentRDDs.keySet.intersect(made)
    assert(left.isEmpty, s"QueryCaches.clear left ${left.size} of ${made.size} RDDs: $left")
    assert(!Files.exists(Paths.get(st.allocDir)), s"temp dir survived: ${st.allocDir}")
  }

  test("only QueryCaches persists a query-layer frame; no registry keeps its own clearCaches") {
    import scala.jdk.CollectionConverters._
    val comment = """^\s*(//|/\*|\*)""".r
    val ownPersist = """(?<!QueryCaches)\.(persist|cache)\(""".r
    val walk = Files.list(Paths.get("src/main/scala/graft/queries"))
    val files = try walk.iterator().asScala.toVector finally walk.close()
    assert(files.exists(_.getFileName.toString == "QueryCaches.scala"))
    val offenders = for {
      f <- files if f.getFileName.toString != "QueryCaches.scala"
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if comment.findPrefixOf(line).isEmpty &&
        (ownPersist.findFirstIn(line).nonEmpty || line.contains("def clearCaches"))
    } yield s"${f.getFileName}:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty,
      s"register artifacts through QueryCaches instead:\n${offenders.mkString("\n")}")
  }
}
