package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.TextFns

/** Deduplication operators for training-data pipelines.
  *
  * Four families, each with an explicit 100 TB scale story:
  *
  *  - exact: hash-groupBy on a key (one shuffle, map-side combine);
  *  - n-gram Jaccard: inverted-index join on shingles — pairs are only
  *    generated for documents sharing at least one shingle, never O(n²);
  *  - MinHash+LSH: constant-size signatures (64 hashes), banded bucketing,
  *    candidate verification — shuffle carries signatures, not documents;
  *  - SimHash: 60-bit fingerprint + pigeonhole banding for hamming ≤ k —
  *    recall is exactly 1 (any pair within hamming 3 shares one of 4 bands).
  *
  * Fingerprints/hashes are md5-derived where the DuckDB oracle must
  * reproduce them, xxhash64 (cheaper) where only Spark-side agreement
  * matters (MinHash candidates are re-verified with exact Jaccard, so the
  * hash function never leaks into the result).
  */
object Dedup {

  /** Exact dedup: keep the first row per key under `orderCols` ordering.
    * One shuffle on the key; at 100 TB prefer this over dropDuplicates
    * because the tie-break is explicit and deterministic.
    */
  def exactDedup(df: DataFrame, keys: Seq[String], orderCols: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(orderCols: _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** (id, shingle) pairs, distinct, from a text column: word `n`-grams,
    * pre-hashed to 8-byte keys BEFORE the distinct so the dedup shuffle
    * carries (long, long) rows instead of strings.
    *
    * `unicode = true` shingles over the codepoint-class tokenizer
    * (CJK character n-grams) instead of whitespace words — the
    * whitespace default produces ZERO shingles on unsegmented scripts,
    * silently exempting those documents from dedup.
    *
    * `normalize = true` NFC-normalizes the text BEFORE shingling (the
    * q206/q207 lesson applied to this tier's hash keys): an NFD- or
    * mixed-encoded variant of a page produces byte-distinct shingles
    * for every accented word, so encoding variance silently defeats
    * hash-keyed near-dup detection exactly like the unsegmented-script
    * trap — normalize before any hash-keyed stage. Per-row scalar, no
    * extra shuffle; off by default (byte-exact semantics preserved).
    */
  def shingleSets(df: DataFrame, idCol: String, textCol: String, n: Int = 3,
                  unicode: Boolean = false,
                  normalize: Boolean = false): DataFrame = {
    val t = if (normalize) graft.functions.NfcNormalize(col(textCol))
            else col(textCol)
    df.select(col(idCol).as("doc"),
        explode(TextFns.shingles(t, n, unicode)).as("s"))
      .select(col("doc"), xxhash64(col("s")).as("sh"))
      .distinct()
      // the BUILD-CONFIG record (constant — free under parquet RLE): a
      // persisted shingle table probed by a batch built at another
      // (n, unicode, normalize) has byte-distinct hash keys and the
      // incremental joins silently return nothing; the *Against legs
      // validate this record instead (the SubstrDedup norm-column
      // discipline)
      .withColumn("cfg", lit(shingleCfg(n, unicode, normalize)))
  }

  /** Build-config encoding recorded on every shingle table:
    * `n * 4 + unicode-bit * 2 + normalize-bit`.
    */
  private[operators] def shingleCfg(n: Int, unicode: Boolean,
                                    normalize: Boolean): Int =
    n * 4 + (if (unicode) 2 else 0) + (if (normalize) 1 else 0)

  private def decodeShingleCfg(cfg: Int): String =
    s"n=${cfg / 4}, unicode=${(cfg & 2) != 0}, normalize=${(cfg & 1) != 0}"

  /** Loud build-config validation for the incremental shingle legs: the
    * batch and the persisted index must have been built at the SAME
    * (n, unicode, normalize) — mismatched keys join to nothing and the
    * silent answer would be "no duplicates". One limit-1 read per side
    * (the recorded column is constant by construction).
    */
  private def requireShingleCompat(dfA: DataFrame, sideA: String,
                                   dfB: DataFrame, sideB: String,
                                   what: String): Unit = {
    import org.apache.spark.sql.types.IntegerType
    def cfgOf(df: DataFrame, side: String): Option[Int] = {
      df.schema.fields.find(_.name == "cfg").map(_.dataType) match {
        case Some(IntegerType) =>
          df.select(col("cfg")).limit(1).collect().headOption.map(_.getInt(0))
        case None => throw new IllegalArgumentException(
          s"$what: the $side records no `cfg` column — a pre-record artifact; " +
            "rebuild with shingleSets/minhashSignatures so build-config " +
            "compatibility is verifiable")
        case other => throw new IllegalArgumentException(
          s"$what: expected an IntegerType cfg column on the $side, found $other")
      }
    }
    (cfgOf(dfA, sideA), cfgOf(dfB, sideB)) match {
      case (Some(a), Some(b)) => require(a == b,
        s"$what: $sideA built with (${decodeShingleCfg(a)}) but the " +
          s"$sideB with (${decodeShingleCfg(b)}) — hash keys cannot match and " +
          "every duplicate would be silently missed; rebuild one side")
      case _ => () // an empty side carries no recorded value to contradict
    }
  }

  /** Exact Jaccard-similar pairs (doc_a < doc_b, jaccard >= threshold) via
    * inverted-index join on shingles. `sh` must be (doc, sh) distinct —
    * shingleSets output (8-byte hashed keys, so shuffles stay compact).
    *
    * Scale: the self-join only touches shingles shared by ≥2 docs; hot
    * shingles (boilerplate) are the skew risk — AQE skew-join splits them.
    */
  def jaccardPairs(sh: DataFrame, threshold: Double): DataFrame = {
    val sizes = sh.groupBy("doc").agg(count(lit(1)).as("n"))
    val inter = sh.as("a").join(sh.as("b"), col("a.sh") === col("b.sh") && col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .agg(count(lit(1)).as("c"))
    inter
      .join(sizes.withColumnRenamed("doc", "doc_a").withColumnRenamed("n", "na"), "doc_a")
      .join(sizes.withColumnRenamed("doc", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
      .withColumn("jaccard", col("c").cast("double") / (col("na") + col("nb") - col("c")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Asymmetric CONTAINMENT pairs: C(A→B) = |sh(A) ∩ sh(B)| / |sh(A)|
    * >= threshold, doc_a ≠ doc_b (oriented — A is the CONTAINED side).
    * Detects subset duplication symmetric Jaccard structurally misses:
    * a 100-shingle document fully quoted inside a 10000-shingle one has
    * J ≈ 0.01 but C(A→B) = 1.0 — the boilerplate-inclusion /
    * quote-extraction case a pretraining dedup actually needs. Same
    * inverted-index join as [[jaccardPairs]] (candidates only where a
    * shingle is shared); the filter divides by the contained side's size
    * only, so the orientation is part of the result.
    *
    * Like [[jaccardPairs]], the naive join's candidate volume is
    * Σ c_s² over shingle document-frequencies — quadratic in hot-shingle
    * document count, and web boilerplate (exactly containment's use
    * case) IS hot shingles. Choose [[containmentPairsPrefix]] on
    * heavy-tailed corpora; this variant wins only when the frequency
    * distribution is flat (same measured trade as the Jaccard pair).
    */
  def containmentPairs(sh: DataFrame, threshold: Double): DataFrame = {
    val sizes = sh.groupBy("doc").agg(count(lit(1)).as("n"))
    val inter = sh.as("a").join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc") =!= col("b.doc"))
      .groupBy(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .agg(count(lit(1)).as("c"))
    inter
      .join(sizes.withColumnRenamed("doc", "doc_a").withColumnRenamed("n", "na"), "doc_a")
      .withColumn("containment", col("c").cast("double") / col("na"))
      .filter(col("containment") >= threshold)
      .select("doc_a", "doc_b", "containment")
  }

  /** Oriented candidate pairs for prefix-filtered containment: the
    * CONTAINED side (doc_a) restricted to its prefix under the global
    * rarest-first shingle order, joined against the FULL index on the
    * doc_b side. Asymmetry is the point — containment places no bound
    * on B's non-shared shingles, so only A's side admits pruning:
    * C(A→B) ≥ t ⇒ |A∩B| ≥ ⌈t·|A|⌉ ⇒ if every shared shingle sat
    * outside A's first |A| − ⌈t·|A|⌉ + 1 positions, at most
    * ⌈t·|A|⌉ − 1 < t·|A| could be shared — contradiction. Exposed
    * `private[graft]` so the spec can pin the candidate-volume shrink
    * independently of the verified output.
    */
  private[graft] def containmentCandidates(sh: DataFrame, threshold: Double): DataFrame = {
    val freq = sh.groupBy("sh").agg(count(lit(1)).as("f"))
    val w = Window.partitionBy("doc")
    val prefix = sh.join(freq, "sh")
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("rank", row_number().over(w.orderBy(col("f"), col("sh"))))
      .filter(col("rank") <= col("n") - minOverlap(col("n"), threshold) + 1)
      .select("doc", "sh")
    prefix.as("a").join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc") =!= col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .distinct()
  }

  /** Exact containment pairs via prefix filtering — output ==
    * [[containmentPairs]] (spec-pinned), candidate volume bounded by the
    * asymmetric prefix bound instead of the naive join's Σ c_s². The
    * rarest-first order puts hot shingles LAST in every doc, so a
    * boilerplate shingle shared by millions of docs enters the candidate
    * join only from docs whose prefix window reaches it (near-total
    * containment thresholds on tiny docs) — on web-scale boilerplate the
    * naive join's quadratic hot-shingle blowup disappears. Verification
    * re-scores candidates against the full shingle sets, so reported
    * containment values stay exact.
    */
  def containmentPairsPrefix(sh: DataFrame, threshold: Double): DataFrame =
    verifyContainment(containmentCandidates(sh, threshold), sh, threshold)

  /** Exact-containment verification of oriented candidate (doc_a, doc_b)
    * pairs against the full shingle sets — the [[verifyJaccard]] shape
    * with the contained side's size as the sole denominator.
    */
  private def verifyContainment(candidates: DataFrame, sh: DataFrame,
                                threshold: Double): DataFrame = {
    val aSh = sh.select(col("doc").as("doc_a"), col("sh").as("sha"))
    val bSh = sh.select(col("doc").as("cand_b"), col("sh").as("shb"))
    val inter = candidates
      .join(aSh, "doc_a")
      .join(bSh, col("doc_b") === col("cand_b") && col("sha") === col("shb"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("c"))
    val sizes = sh.groupBy("doc").agg(count(lit(1)).as("n"))
    inter
      .join(sizes.withColumnRenamed("doc", "doc_a").withColumnRenamed("n", "na"), "doc_a")
      .withColumn("containment", col("c").cast("double") / col("na"))
      .filter(col("containment") >= threshold)
      .select("doc_a", "doc_b", "containment")
  }

  /** Exact Jaccard pairs via PPJoin-style prefix filtering: under any
    * fixed global shingle order, two docs with J >= t must share a
    * shingle within each doc's first |d| - ceil(t*|d|) + 1 shingles.
    * Ordering ascending by global frequency puts the RAREST shingles in
    * the prefix, so the candidate join touches only low-fanout keys —
    * the quadratic hot-shingle blowup of the naive inverted-index join
    * disappears. Candidates are verified with the exact intersection, so
    * output == jaccardPairs (spec-pinned).
    *
    * Measured on the (unskewed, 31-word-vocabulary) testdata the extra
    * ranking stages cost more than they save — jaccardPairs wins there.
    * Choose THIS variant when the shingle frequency distribution is
    * heavy-tailed (web-scale boilerplate), where the naive join's
    * Σ c_s² term explodes on hot shingles.
    */
  def jaccardPairsPrefix(sh: DataFrame, threshold: Double): DataFrame = {
    val freq = sh.groupBy("sh").agg(count(lit(1)).as("f"))
    val w = Window.partitionBy("doc")
    val ranked = sh.join(freq, "sh")
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("rank", row_number().over(w.orderBy(col("f"), col("sh"))))
    val prefix = ranked
      .filter(col("rank") <= col("n") - minOverlap(col("n"), threshold) + 1)
      .select("doc", "sh")
    verifyJaccard(candidatePairs(prefix), sh, threshold)
  }

  /** ⌈t·n⌉ as a column, robust to double rounding: when t·n's DOUBLE
    * representation lands a hair ABOVE the exact rational (t=0.07,
    * n=100: 7.000000000000001), a bare ceil returns 8 — one too high —
    * which SHORTENS the prefix window and silently drops a true pair
    * whose shared shingles sit exactly at the boundary, breaking the
    * documented output == naive exactness. Subtracting 1e-9 before the
    * ceil restores the exact rational ceiling for every t·n whose true
    * value is ≥ 1e-9 away from the representation error (double ulp at
    * corpus-plausible n is ≤ ~1e-12·n); when the epsilon itself tips a
    * borderline value DOWN, the prefix only LENGTHENS — extra candidates
    * that verification re-scores away, never a missed pair.
    */
  private def minOverlap(n: Column, threshold: Double): Column =
    ceil(lit(threshold) * n - lit(1e-9)).cast("int")

  /** Frequency-capped candidate generation: drop shingles whose document
    * frequency exceeds `maxDocFreq` from the CANDIDATE join only —
    * verification still scores the full shingle sets, so reported
    * jaccard values stay exact. This is the web-scale stop-shingle
    * mitigation (boilerplate appears in millions of docs and generates
    * c² candidates while carrying no discriminative signal).
    *
    * APPROXIMATE: a pair whose shared shingles are ALL hotter than the
    * cap produces no candidate and is missed — that is the deliberate
    * trade (such pairs share only boilerplate). With a cap at or above
    * the max observed frequency the output equals `jaccardPairs` exactly
    * (spec-pinned). Prefer `jaccardPairsAdaptive` when exactness is
    * required; use this when the corpus carries heavy boilerplate AND
    * recall on boilerplate-only pairs is explicitly not wanted.
    */
  def jaccardPairsCapped(sh: DataFrame, threshold: Double,
                         maxDocFreq: Long): DataFrame = {
    require(maxDocFreq >= 1, s"maxDocFreq must be >= 1, got $maxDocFreq")
    val rare = sh.groupBy("sh").agg(count(lit(1)).as("f"))
      .filter(col("f") <= maxDocFreq)
      .select("sh")
    val indexable = sh.join(rare, Seq("sh"), "left_semi")
    verifyJaccard(candidatePairs(indexable), sh, threshold)
  }

  /** Incremental exact Jaccard: near-dup pairs between a NEW batch and an
    * EXISTING corpus index (doc sets must be disjoint), plus nothing else.
    * This is how dedup runs in a production pipeline: the corpus shingle
    * index is materialized once; each incoming batch joins against it
    * (and self-joins internally) instead of recomputing the corpus
    * self-join. Candidates touch only shingles present in the NEW batch —
    * cost scales with the batch, not the corpus.
    *
    * Completeness: pairs(old ∪ new) == pairs(old) ∪ pairsAgainst(new, old)
    * ∪ pairs(new) — spec-pinned. Output keeps (doc_a, doc_b) ordered
    * doc_a < doc_b like the batch API.
    */
  def jaccardPairsAgainst(shNew: DataFrame, shIndex: DataFrame,
                          threshold: Double): DataFrame = {
    requireShingleCompat(shNew, "batch shingles", shIndex, "index",
      "jaccardPairsAgainst")
    // loud disjointness probe (the Bm25.append discipline): a doc in
    // BOTH inputs would emit mirror-duplicate pairs and defeat the
    // per-side sizing — one O(batch) semi-join names the offender
    // instead of silently corrupting the pair set
    // the semi join's RIGHT side needs no distinct (duplicates are
    // ignored by semi semantics); a corpus-side .distinct() would add a
    // full corpus-scale exchange to every incremental batch, breaking
    // the batch-scaled-cost contract
    val dup = shNew.select(col("doc")).distinct()
      .join(shIndex.select(col("doc")), Seq("doc"), "left_semi")
      .limit(1).collect()
    require(dup.isEmpty,
      s"jaccardPairsAgainst batch overlaps the index (e.g. doc=${dup.headOption.map(_.get(0)).orNull}): " +
        "the incremental contract requires disjoint doc sets")
    // ONE inverted-index probe computes the intersection counts directly
    // (the jaccardPairs shape) — NOT candidatePairs + verifyJaccard: that
    // pattern pays off when candidates are few (LSH buckets), but on a
    // shingle join "shares >= 1 shingle" can be most cross pairs, and
    // materializing the distinct pair set then RE-joining both full
    // shingle sets multiplies the heavy stage by the pair fan-out
    // (measured 12 s vs 1 s at sf0.1 on the 31-word-vocabulary corpus,
    // where ~half of all cross pairs share a trigram). The aggregation
    // keyed on (new doc, old doc) is map-side-combinable and touches
    // only shingles present in the NEW batch.
    val inter = shNew.as("a")
      .join(shIndex.as("b"), col("a.sh") === col("b.sh") &&
        // overlap between the inputs would otherwise surface as
        // jaccard-1.0 self pairs; the disjointness contract still holds
        // for SIZES (an overlapping doc's shingles would double-count),
        // but self pairs are cheap to exclude structurally
        col("a.doc") =!= col("b.doc"))
      .groupBy(col("a.doc").as("dn"), col("b.doc").as("do"))
      .agg(count(lit(1)).as("c"))
    // sizes scale with the BATCH: the new side is O(batch); the corpus
    // side is left-semi-restricted to docs that actually intersect a
    // batch doc BEFORE its groupBy — never an O(corpus) aggregation
    val sizesNew = shNew.groupBy("doc").agg(count(lit(1)).as("n"))
    val sizesOld = shIndex
      .join(inter.select(col("do").as("doc")).distinct(), Seq("doc"), "left_semi")
      .groupBy("doc").agg(count(lit(1)).as("n"))
    inter
      .join(sizesNew.select(col("doc").as("dn"), col("n").as("nn")), "dn")
      .join(sizesOld.select(col("doc").as("do"), col("n").as("no")), "do")
      .withColumn("jaccard", col("c").cast("double") / (col("nn") + col("no") - col("c")))
      .filter(col("jaccard") >= threshold)
      .select(least(col("dn"), col("do")).as("doc_a"),
        greatest(col("dn"), col("do")).as("doc_b"), col("jaccard"))
  }

  /** Incremental exact CONTAINMENT: oriented pairs BETWEEN a new batch
    * and an existing corpus index (disjoint doc sets — the
    * [[jaccardPairsAgainst]] contract, enforced by the same loud probe).
    * BOTH orientations cross the boundary and both matter: a new doc
    * quoting an indexed one (doc_a ∈ new) AND an indexed doc that is a
    * subset of a new arrival (doc_a ∈ old — the fresh superset that
    * should replace the stored fragment). One inverted-index aggregation
    * computes the intersection counts; each orientation divides by its
    * own contained-side size, so one probe yields both directions.
    *
    * Completeness (spec-pinned): containmentPairs(old ∪ new) ==
    * containmentPairs(old) ∪ containmentPairsAgainst(new, old) ∪
    * containmentPairs(new). Candidates touch only shingles present in
    * the NEW batch — per-batch cost scales with the batch, not the
    * corpus, exactly like the Jaccard twin.
    */
  def containmentPairsAgainst(shNew: DataFrame, shIndex: DataFrame,
                              threshold: Double): DataFrame = {
    requireShingleCompat(shNew, "batch shingles", shIndex, "index",
      "containmentPairsAgainst")
    // the semi join's RIGHT side needs no distinct (duplicates are
    // ignored by semi semantics); a corpus-side .distinct() would add a
    // full corpus-scale exchange to every incremental batch, breaking
    // the batch-scaled-cost contract
    val dup = shNew.select(col("doc")).distinct()
      .join(shIndex.select(col("doc")), Seq("doc"), "left_semi")
      .limit(1).collect()
    require(dup.isEmpty,
      s"containmentPairsAgainst batch overlaps the index (e.g. doc=${dup.headOption.map(_.get(0)).orNull}): " +
        "the incremental contract requires disjoint doc sets")
    val inter = shNew.as("a")
      .join(shIndex.as("b"), col("a.sh") === col("b.sh"))
      .groupBy(col("a.doc").as("dn"), col("b.doc").as("do"))
      .agg(count(lit(1)).as("c"))
    val sizesNew = shNew.groupBy("doc").agg(count(lit(1)).as("n"))
    // corpus sizes only for docs that actually intersect a batch doc —
    // semi-join-restricted BEFORE the groupBy, never an O(corpus) agg
    val sizesOld = shIndex
      .join(inter.select(col("do").as("doc")).distinct(), Seq("doc"), "left_semi")
      .groupBy("doc").agg(count(lit(1)).as("n"))
    val scored = inter
      .join(sizesNew.select(col("doc").as("dn"), col("n").as("nn")), "dn")
      .join(sizesOld.select(col("doc").as("do"), col("n").as("no")), "do")
    // orientation 1: new doc contained in indexed doc (C = c/|new|)
    val newInOld = scored
      .withColumn("containment", col("c").cast("double") / col("nn"))
      .filter(col("containment") >= threshold)
      .select(col("dn").as("doc_a"), col("do").as("doc_b"), col("containment"))
    // orientation 2: indexed doc contained in new doc (C = c/|old|)
    val oldInNew = scored
      .withColumn("containment", col("c").cast("double") / col("no"))
      .filter(col("containment") >= threshold)
      .select(col("do").as("doc_a"), col("dn").as("doc_b"), col("containment"))
    newInOld.unionByName(oldInNew)
  }

  /** Physical strategy for the exact Jaccard pair join — the logical
    * result is identical either way (both are spec-pinned equal).
    */
  sealed trait JaccardStrategy
  case object NaiveInvertedIndex extends JaccardStrategy
  case object PrefixFiltered extends JaccardStrategy

  /** Pick the Jaccard join strategy from the measured shingle frequency
    * distribution, so the caller doesn't need to know whether the corpus
    * is boilerplate-skewed.
    *
    * The naive inverted-index join materializes Σ_s f_s·(f_s−1)/2
    * candidate incidences (f_s = docs containing shingle s) — the term a
    * hot boilerplate shingle turns quadratic. One cheap aggregate over
    * the shingle table measures that sum exactly; when it exceeds
    * `candFactor` × |shingle rows| the candidate volume dominates the
    * join and the prefix-filtered variant (which never joins on hot
    * shingles) wins. Measured on the unskewed testdata cand/rows is
    * 0.5–5 (naive wins, the ranking windows aren't free); a corpus where
    * one shingle appears in n docs has cand/rows ≈ n/20 (prefix wins).
    */
  def chooseJaccardStrategy(sh: DataFrame, candFactor: Double = 16.0): JaccardStrategy = {
    val r = sh.groupBy("sh").agg(count(lit(1)).as("f"))
      .agg(sum(col("f")).as("rows"),
        sum(col("f") * (col("f") - 1) / 2).as("cand"))
      .head()
    // empty shingle table → global sums are NULL; either strategy returns
    // an empty result, so pick the naive one rather than NPE
    if (r.isNullAt(0)) return NaiveInvertedIndex
    val rows = r.getLong(0)
    val cand = r.getDouble(1)
    if (rows > 0 && cand > candFactor * rows) PrefixFiltered else NaiveInvertedIndex
  }

  /** Skew-adaptive exact Jaccard pairs: one aggregate over the shingle
    * table decides between `jaccardPairs` (unskewed: cheapest) and
    * `jaccardPairsPrefix` (heavy-tailed: avoids the hot-shingle Σf²
    * blowup). Same output either way — the choice is purely physical, so
    * at 100 TB the pipeline doesn't depend on the operator knowing the
    * corpus' boilerplate profile up front.
    */
  def jaccardPairsAdaptive(sh: DataFrame, threshold: Double,
                           candFactor: Double = 16.0): DataFrame =
    jaccardPairs(sh, threshold, chooseJaccardStrategy(sh, candFactor))

  /** Strategy-explicit entry point — the ONE place the
    * strategy→implementation routing lives. Callers that memoize the
    * [[chooseJaccardStrategy]] verdict (the query layer caches it
    * beside the shingle index) route through here, so a new strategy
    * is wired exactly once.
    */
  def jaccardPairs(sh: DataFrame, threshold: Double,
                   strategy: JaccardStrategy): DataFrame =
    strategy match {
      case NaiveInvertedIndex => jaccardPairs(sh, threshold)
      case PrefixFiltered     => jaccardPairsPrefix(sh, threshold)
    }

  /** Skew-adaptive exact containment pairs — the [[jaccardPairsAdaptive]]
    * decision applied to the oriented measure: the SAME Σ f_s·(f_s−1)/2
    * statistic governs both (the naive candidate joins are identical up
    * to the `<` vs `≠` doc predicate, a constant factor of 2), so the
    * chooser is shared. Same output either way (spec-pinned).
    */
  def containmentPairsAdaptive(sh: DataFrame, threshold: Double,
                               candFactor: Double = 16.0): DataFrame =
    containmentPairs(sh, threshold, chooseJaccardStrategy(sh, candFactor))

  /** Strategy-explicit containment twin of the [[jaccardPairs]]
    * strategy overload — same single-routing-site rationale.
    */
  def containmentPairs(sh: DataFrame, threshold: Double,
                       strategy: JaccardStrategy): DataFrame =
    strategy match {
      case NaiveInvertedIndex => containmentPairs(sh, threshold)
      case PrefixFiltered     => containmentPairsPrefix(sh, threshold)
    }

  /** Candidate (doc_a < doc_b) pairs from a (doc, sh) table: self-join on
    * the shingle key, deduplicated. Shared by the prefix-filtered and
    * frequency-capped variants so a future change to the candidate join
    * cannot silently diverge between them.
    */
  private def candidatePairs(indexed: DataFrame): DataFrame =
    indexed.as("a")
      .join(indexed.as("b"), col("a.sh") === col("b.sh") && col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .distinct()

  /** Exact-Jaccard verification of candidate (doc_a, doc_b) pairs against
    * the full shingle sets (restricted inverted-index join).
    */
  private def verifyJaccard(candidates: DataFrame, sh: DataFrame, threshold: Double): DataFrame = {
    val aSh = sh.select(col("doc").as("doc_a"), col("sh").as("sha"))
    val bSh = sh.select(col("doc").as("cand_b"), col("sh").as("shb"))
    val inter = candidates
      .join(aSh, "doc_a")
      .join(bSh, col("doc_b") === col("cand_b") && col("sha") === col("shb"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("c"))
    val sizes = sh.groupBy("doc").agg(count(lit(1)).as("n"))
    inter
      .join(sizes.withColumnRenamed("doc", "doc_a").withColumnRenamed("n", "na"), "doc_a")
      .join(sizes.withColumnRenamed("doc", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
      .withColumn("jaccard", col("c").cast("double") / (col("na") + col("nb") - col("c")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** MinHash+LSH near-dup pairs, verified: signature of `numHashes`
    * min-hashes over the shingle set, banded `bands` × rows; bucket
    * collisions become candidates; candidates are verified with exact
    * Jaccard, so the output equals exact `jaccardPairs` up to LSH recall
    * (1 - (1-t^r)^b, ≈1 for near-dup thresholds with r=2,b=32).
    */
  /** MinHash signature table: one constant-size sketch per doc
    * (TypedImperativeAggregate — the shuffle carries sketches, not 64
    * separate agg columns). The materialize-once index artifact of the
    * MinHash family; `minhashLshPairsFromSignatures` consumes it.
    */
  def minhashSignatures(sh: DataFrame, numHashes: Int = 64): DataFrame = {
    // propagate the shingle table's build-config record into the
    // signature artifact (constant — grouping by it changes nothing):
    // the two persisted artifacts must agree when
    // [[minhashLshPairsFromSignatures]] joins candidates from one
    // against verification sets from the other; a hand-built shingle
    // frame carries the explicit "unrecorded" sentinel (-1)
    val src = if (sh.columns.contains("cfg")) sh
              else sh.withColumn("cfg", lit(-1))
    src.groupBy(col("doc"), col("cfg"))
      .agg(graft.functions.MinHashSketch(col("sh"), numHashes).as("sig"))
      .select(col("doc"), col("sig"), col("cfg"))
  }

  def minhashLshPairs(sh: DataFrame, threshold: Double,
                      numHashes: Int = 64, bands: Int = 32): DataFrame =
    minhashLshPairsFromSignatures(minhashSignatures(sh, numHashes), sh,
      threshold, numHashes, bands)

  /** Banded bucketing + exact verification against pre-materialized
    * signatures (`sig`) and shingle sets (`sh`).
    */
  def minhashLshPairsFromSignatures(sig: DataFrame, sh: DataFrame, threshold: Double,
                                    numHashes: Int = 64, bands: Int = 32): DataFrame = {
    // the two persisted artifacts must come from ONE shingle space:
    // candidates mined from signatures of one config verified against
    // shingle sets of another silently mis-verify every pair
    requireShingleCompat(sig, "signature table", sh, "shingle table",
      "minhashLshPairsFromSignatures")
    val rows = numHashes / bands
    val bandCols = (0 until bands).map { b =>
      val parts = (0 until rows).map(r => element_at(col("sig"), b * rows + r + 1))
      struct(lit(b).as("band"), xxhash64(parts: _*).as("bv"))
    }
    val buckets = sig.select(col("doc"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc"), col("bk.band"), col("bk.bv"))

    val candidates = buckets.as("a")
      .join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .distinct()

    verifyJaccard(candidates, sh, threshold)
  }

  /** Connected components over an undirected near-dup pair graph
    * (doc_a, doc_b): returns (doc, component) where component is the
    * MINIMUM doc id in the component — the canonical dedup survivor.
    *
    * Hybrid execution: driver-side union-find when the pair graph fits
    * (the common case — pairs are the output of the similarity filter),
    * distributed pointer-doubling min-label propagation otherwise. Same labels
    * either way.
    */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 20,
                          driverThreshold: Int = 1000000): DataFrame = {
    require(driverThreshold >= 0 && driverThreshold < Int.MaxValue,
      s"driverThreshold must be in [0, ${Int.MaxValue - 1}]; got $driverThreshold")
    // The near-dup pair graph is tiny relative to the corpus (it's the
    // OUTPUT of the similarity filter). When it fits on the driver,
    // union-find there beats a multi-job distributed loop by orders of
    // magnitude in stage overhead; the distributed propagation below is
    // the fallback for pathological pair volumes.
    val spark = pairs.sparkSession
    // Persist the edge projection before the sizing collect so the
    // fallback path reuses it instead of re-running the whole upstream
    // similarity pipeline; callers that already persisted are respected.
    val wasCached = pairs.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val edges = if (wasCached) pairs.select(col("doc_a"), col("doc_b"))
      else pairs.select(col("doc_a"), col("doc_b"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val edgeList = edges.limit(driverThreshold + 1)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      if (edgeList.length <= driverThreshold) {
        import spark.implicits._
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
          var c = x
          while (parent.getOrElse(c, c) != c) { val nxt = parent(c); parent(c) = r; c = nxt }
          r
        }
        edgeList.foreach { case (a, b) =>
          parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) // min-id root
        }
        parent.keys.toSeq.sorted
          .map(d => (d, find(d))).toDF("doc", "component")
      } else pointerDoublingComponents(edges, maxIters)
    } finally {
      // the distributed path materializes its labels before returning, so
      // releasing the edge cache here is safe on both paths
      if (!wasCached) edges.unpersist()
    }
  }

  /** Pointer-doubling min-label connected components — the distributed
    * scale path of [[connectedComponents]]. Labels start at
    * parent(v) = min(v, min neighbor); each round composes
    *
    *   1. a pointer JUMP  parent(v) ← parent(parent(v))   (one self-join), and
    *   2. a neighbor-min  parent(v) ← min over edges       (one join + grouped min),
    *
    * so label chains HALVE per round: a diameter-d path converges in
    * ~log₂(d) rounds where plain propagation ([[labelPropComponents]])
    * needs d — at 100 TB web-graph scale (diameter 50+) that is ~6
    * synchronous job launches instead of ~50. Labels are monotone
    * non-increasing and always node ids inside the same component (the
    * jump target is a label, hence a node; the neighbor min is a
    * neighbor's label), so the self-join key always resolves and the
    * fixpoint is exactly the component minimum — the identical answer
    * q32 (union-find) and q116 (label-prop) pin; q123 pins this path.
    */
  private[graft] def pointerDoublingComponents(pairs: DataFrame, maxIters: Int = 20): DataFrame = {
    // loop-invariant, scanned twice per round: compacted, so its width
    // follows its bytes instead of twice the caller's partition count
    val edges = Lineage.compact(pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst"))))
    val init = Lineage.cut(edges.groupBy(col("src").as("doc"))
      .agg(min(col("dst")).as("nmin"))
      .select(col("doc"), least(col("doc"), col("nmin")).as("component")))
    val fix = Lineage.iterate(init, maxIters) { parent =>
      // explicit aliases: parent self-joins on its own label column
      val jumped = parent.as("p")
        .join(parent.as("q"), col("p.component") === col("q.doc"))
        .select(col("p.doc").as("doc"), col("q.component").as("component"))
      val nmin = edges
        .join(jumped.select(col("doc").as("dst2"), col("component")),
          col("dst") === col("dst2"))
        .groupBy(col("src").as("doc")).agg(min(col("component")).as("nmin"))
      jumped
        .join(nmin, Seq("doc"), "left")
        .select(col("doc"),
          least(col("component"), coalesce(col("nmin"), col("component"))).as("component"))
    } { (next, prev) =>
      // ONE action per round: the inequality join materializes `next`
      prev.exists(parent => next.join(parent.withColumnRenamed("component", "old"), "doc")
        .filter(col("component") =!= col("old")).isEmpty)
    }
    Lineage.release(edges)
    fix.orThrow(s"pointerDoublingComponents did not converge in $maxIters iterations " +
      "— raise maxIters; returning partial labels would silently mislabel survivors")
  }

  /** Distributed min-label propagation (synchronous fixpoint, rounds ∝
    * component diameter). Kept as the simplest distributed CC — q116 pins
    * it to the same oracle as q32/q123 — but the production fallback of
    * [[connectedComponents]] is [[pointerDoublingComponents]], which
    * converges in log(diameter) rounds instead.
    */
  private[graft] def labelPropComponents(pairs: DataFrame, maxIters: Int = 20): DataFrame = {
    // Compacted like pointer doubling's edges: the width follows the
    // bytes, not the caller. The leaf carries the optimizer's size
    // estimate, not a cache's measured bytes, so each round is planned
    // as sort-merge joins that AQE turns into broadcast joins once their
    // 1-task shuffle stages have run (q116 at sf0.01: 14 -> 17 jobs,
    // 266 -> 18 tasks). Not hash-partitioned on dst to spare the round's
    // join an edge exchange (r19): measured SLOWER, since at near-dup
    // volumes that join is a broadcast hash join anyway.
    val edges = Lineage.compact(pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst"))))
    val init = Lineage.cut(edges.select(col("src").as("doc")).distinct()
      .withColumn("component", col("doc")))
    val fix = Lineage.iterate(init, maxIters) { labels =>
      val neighborMin = edges
        .join(labels, edges("dst") === labels("doc"))
        .groupBy(col("src").as("doc2")).agg(min(col("component")).as("nmin"))
      // the round carries its own change bit (r19): the convergence
      // probe reads the checkpointed round's blocks instead of
      // re-joining next against labels — one join + one shuffle fewer
      // per round, same fixpoint predicate
      labels
        .join(neighborMin, labels("doc") === neighborMin("doc2"), "left")
        .select(col("doc"),
          least(col("component"), coalesce(col("nmin"), col("component"))).as("component"),
          (coalesce(col("nmin"), col("component")) < col("component")).as("__chg"))
    } ((next, prev) => prev.isDefined && next.filter(col("__chg")).isEmpty)
    Lineage.release(edges)
    fix.orThrow(s"labelPropComponents did not converge in $maxIters iterations " +
      "(component diameter exceeds maxIters) — raise maxIters; returning " +
      "partial labels would silently mislabel survivors")
      .select(col("doc"), col("component"))
  }

  /** 60-bit SimHash fingerprint per document over distinct whitespace
    * tokens. Bit k of the fingerprint is the sign of Σ_tokens ±1 where the
    * sign is bit k of the token's md5-derived 60-bit hash. md5 (not
    * xxhash64) so external engines can reproduce fingerprints exactly.
    *
    * `unicode = true` tokenizes with the codepoint-class segmenter —
    * whitespace tokens degenerate on unsegmented scripts (a pure-CJK
    * document is ONE token, so any edit yields an unrelated fingerprint
    * and near-dups are invisible; DedupSpec pins both behaviors).
    */
  def simhashFingerprints(df: DataFrame, idCol: String, textCol: String,
                          unicode: Boolean = false,
                          normalize: Boolean = false): DataFrame = {
    // normalize = true: NFC before tokenizing, so an encoding variant's
    // tokens hash to the SAME 60-bit features instead of 60 unrelated
    // bits per accented word (the shingleSets flag's rationale)
    val t = if (normalize) graft.functions.NfcNormalize(col(textCol))
            else col(textCol)
    val tokCol = if (unicode) TextFns.uniTokens(t) else TextFns.tokens(t)
    val toks = df
      .select(col(idCol).as("doc"), explode(tokCol).as("tok"))
      .distinct()
      .withColumn("hv", conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long"))
    // One shuffle of 60 map-side-combined counter columns per doc — not an
    // explode×60, which would shuffle 60x the token rows at cluster scale.
    val bitSums = (0 until 60).map { b =>
      sum(when(expr(s"shiftright(hv, $b) & 1") === 1, 1).otherwise(-1)).as(s"s$b")
    }
    toks
      .groupBy("doc")
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc"),
        (0 until 60).map(b => when(col(s"s$b") > 0, lit(1L << b)).otherwise(0L))
          .reduce(_ + _).cast("long").as("fp"))
  }

  /** Near-dup pairs with hamming(fp_a, fp_b) <= maxHamming, via pigeonhole
    * banding: 4 bands of 15 bits — any pair within hamming 3 must agree on
    * at least one full band, so banding has recall exactly 1. Verified with
    * exact bit_count(xor), so the result is exact.
    */
  def simhashPairs(fps: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4x15-bit pigeonhole banding guarantees recall only to hamming 3")
    val bands = (0 until 4).map { k =>
      struct(lit(k).as("band"), shiftright(col("fp"), k * 15).bitwiseAND(0x7fffL).as("bv"))
    }
    val banded = fps.select(col("doc"), col("fp"), explode(array(bands: _*)).as("bk"))
      .select(col("doc"), col("fp"), col("bk.band"), col("bk.bv"))
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
        bit_count(col("a.fp").bitwiseXOR(col("b.fp"))).cast("int").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }
}
