package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Dedup, Lineage}

/** Dedup queries: exact, n-gram Jaccard, MinHash+LSH, SimHash.
  * The Jaccard brute-force SQL is the oracle for both the exact
  * inverted-index implementation and the LSH one (candidates are
  * verified, and the LSH miss probability at the near-dup thresholds in
  * this data is < 1e-20, so outputs are identical).
  *
  * The shingle set (explode + distinct — the most expensive stage of the
  * dedup family) is materialized ONCE per sf dir and shared by
  * q21/q22/q32, exactly as a cluster pipeline would materialize a shingle
  * table once and run every dedup pass against it. Likewise the t=0.5
  * Jaccard pair set is shared by q21 and every row that clusters it.
  * One memo entry per (session, dir) — nothing accumulates across
  * queries, and [[QueryCaches.clear]] releases the storage.
  */
object DedupQueries {

  private val shingleCache = QueryCaches.memo[(SparkSession, String), DataFrame]()
  private val pairsCache = QueryCaches.memo[(SparkSession, String), DataFrame]()

  /** Word-trigram shingle set for `documents` at `d`, materialized once
    * per (session, dir) and shared across the dedup queries.
    */
  private def sharedShingles(s: SparkSession, d: String): DataFrame =
    shingleCache((s, d)) {
      // persist WIDE (r19): the distinct's AQE-coalesced output is 1-2
      // small partitions, so every consumer's first stage (sketch agg,
      // pair mining, against-probes) ran near-single-threaded off the
      // cache. Doc-keyed hash partitioning at cluster width keeps all
      // cores busy AND already satisfies the per-doc aggregations'
      // clustering (minhash signatures group by doc — no re-exchange).
      val sh = Dedup.shingleSets(Tables.documents(s, d), "doc_id", "text", 3)
      QueryCaches.persist(sh.repartition(graft.operators.Scatter.cores(s), col("doc")))
    }

  private val strategyCache =
    QueryCaches.memo[(SparkSession, String), Dedup.JaccardStrategy]()

  /** How many times the Σf·(f−1)/2 stats aggregation actually ran —
    * spec-pinned to 1 per (session, dir) so the memoization can't rot.
    */
  private[graft] var strategyStatsRuns = 0

  /** The skew-adaptive strategy VERDICT, memoized with the shingle index
    * it was measured on: the Σf·(f−1)/2 aggregation is linear but not
    * free (measured +0.23 s per q183 invocation at sf0.1), and the
    * distribution it measures is a property of the MATERIALIZED index —
    * re-measuring it per query execution is pure waste. One decision per
    * (session, dir), shared by the Jaccard family (sharedPairs) and the
    * containment row (q183); dropped with the index by [[QueryCaches.clear]].
    */
  private[graft] def sharedStrategy(s: SparkSession, d: String): Dedup.JaccardStrategy =
    strategyCache((s, d)) {
      strategyStatsRuns += 1
      Dedup.chooseJaccardStrategy(sharedShingles(s, d))
    }

  /** Exact t=0.5 Jaccard pair set, shared by q21 (reports it), the
    * three CC rows (q32, q116, q123) and the curation manifests (q39,
    * q200). Routed by the memoized skew-adaptive strategy: the stats
    * aggregate runs once per dir and picks naive vs prefix-filtered from
    * the measured shingle distribution. Kept as a [[Lineage.compact]]
    * leaf, not a persist: the pairs (25 rows at sf0.01) come out of
    * broadcast joins off the core-wide shingle index and would keep its
    * 32 partitions, so every consumer's scan paid 32 tasks; compacted
    * they are 1 partition. Held by [[QueryCaches]], which frees it.
    */
  private[queries] def sharedPairs(s: SparkSession, d: String): DataFrame =
    pairsCache((s, d)) {
      QueryCaches.hold(Lineage.compact(
        Dedup.jaccardPairs(sharedShingles(s, d), 0.5, sharedStrategy(s, d))))
    }

  private val fpCache = QueryCaches.memo[(SparkSession, String), DataFrame]()
  private val sigCache = QueryCaches.memo[(SparkSession, String), DataFrame]()

  /** MinHash signature table over the shared shingle set, materialized
    * once per (session, dir) — the MinHash family's index artifact.
    */
  private def sharedSignatures(s: SparkSession, d: String): DataFrame =
    sigCache((s, d)) {
      // persist WIDE like sharedShingles: band mining explodes each
      // signature 32× — off a 1-partition cache that ran single-threaded
      val sig = Dedup.minhashSignatures(sharedShingles(s, d), numHashes = 64)
      QueryCaches.persist(sig.repartition(graft.operators.Scatter.cores(s), col("doc")))
    }

  /** SimHash fingerprint table, materialized once per (session, dir) —
    * the fingerprint is the simhash family's per-corpus index artifact;
    * pair mining bands + joins against it.
    */
  private def sharedFingerprints(s: SparkSession, d: String): DataFrame =
    fpCache((s, d)) {
      val fp = Dedup.simhashFingerprints(Tables.documents(s, d), "doc_id", "text")
      QueryCaches.persist(fp.repartition(graft.operators.Scatter.cores(s), col("doc")))
    }

  // the exact-substring span table over the (scale-independent)
  // SubstrFixture, shared by the q201/q202/q203 trio — the detection
  // pass (anchors + exact window scan) is the expensive part and the
  // profile/strip rows are aggregations over its output, so one
  // materialization serves all three (the sharedPairs discipline);
  // keyed by session only: the fixture does not vary with the dir
  private val substrSpansCache = QueryCaches.memo[SparkSession, DataFrame]()
  private def sharedSubstrSpans(s: SparkSession): DataFrame =
    substrSpansCache(s) {
      QueryCaches.persist(graft.operators.SubstrDedup.dupSpans(
        s.read.parquet(SubstrFixture.ensure(s))))
    }

  /** Shared oracle CTE prefix: distinct trigram shingles per doc over a
    * pluggable tokenization (`docsCte` must yield (doc_id, toks)).
    */
  private def jaccardOracle(
      threshold: String,
      docsCte: String = "SELECT doc_id, STRING_SPLIT(text, ' ') AS toks FROM documents"): String = s"""
    WITH docs AS ($docsCte),
    sh AS (SELECT DISTINCT doc_id AS doc, UNNEST(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(toks) - 1, 1)),
             i -> ARRAY_TO_STRING(toks[i:i+2], ' '))) AS s FROM docs),
    sizes AS (SELECT doc, COUNT(*) AS n FROM sh GROUP BY doc),
    inter AS (SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS c
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc < b.doc GROUP BY 1, 2)
    SELECT doc_a, doc_b, CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc = inter.doc_a
    JOIN sizes sb ON sb.doc = inter.doc_b
    WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= $threshold
    ORDER BY doc_a, doc_b"""

  val queries: Seq[Q] = Seq(
    Q(
      "q20_dedup_exact",
      (s, d) => {
        import s.implicits._
        Dedup.exactDedup(Tables.events(s, d),
            Seq("user_id", "event_type"), Seq($"ts", $"event_id"))
          .select($"user_id", $"event_type", $"event_id")
          .orderBy($"user_id", $"event_type")
      },
      Some("""
        SELECT user_id, event_type, event_id FROM (
          SELECT user_id, event_type, event_id,
                 ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
          FROM events) t
        WHERE rn = 1
        ORDER BY user_id, event_type"""),
      doc = "Exact dedup: first event per (user_id, event_type) by (ts, event_id)."),

    Q(
      "q21_dedup_jaccard",
      (s, d) => sharedPairs(s, d).orderBy(col("doc_a"), col("doc_b")),
      Some(jaccardOracle("0.5")),
      doc = "Exact n-gram Jaccard near-dup pairs via inverted-index join (word trigrams, t=0.5); jaccardPairsPrefix is the skew-robust variant."),

    Q(
      "q22_dedup_minhash",
      (s, d) => Dedup.minhashLshPairsFromSignatures(
          sharedSignatures(s, d), sharedShingles(s, d), 0.7, numHashes = 64, bands = 32)
        .orderBy(col("doc_a"), col("doc_b")),
      Some(jaccardOracle("0.7")),
      doc = "MinHash(64)+LSH(32 bands x 2 rows) near-dup pairs, candidates verified with exact Jaccard (t=0.7); output equals brute force."),

    Q(
      "q32_dedup_survivors",
      (s, d) => Dedup.connectedComponents(sharedPairs(s, d))
        .withColumnRenamed("doc", "doc_id")
        .withColumnRenamed("component", "survivor_id")
        .orderBy(col("doc_id")),
      Some(s"""
        WITH RECURSIVE ${OracleCtes.jaccardReach()}
        SELECT doc AS doc_id, MIN(r) AS survivor_id
        FROM reach GROUP BY doc
        ORDER BY doc_id"""),
      doc = "Dedup survivor selection: connected components over Jaccard pairs, min-id representative per cluster."),

    Q(
      "q23_dedup_simhash",
      (s, d) => Dedup.simhashPairs(sharedFingerprints(s, d), maxHamming = 3)
        .orderBy(col("doc_a"), col("doc_b")),
      Some("""
        WITH toks AS (SELECT DISTINCT doc_id AS doc, UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents),
        h AS (SELECT doc, CAST('0x' || SUBSTR(MD5(tok), 1, 15) AS BIGINT) AS hv FROM toks),
        bits AS (SELECT doc, b, SUM(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END) AS sgn
                 FROM h CROSS JOIN (SELECT UNNEST(RANGE(60)) AS b) bb GROUP BY doc, b),
        fp AS (SELECT doc, CAST(SUM(CASE WHEN sgn > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS f
               FROM bits GROUP BY doc)
        SELECT a.doc AS doc_a, b.doc AS doc_b, CAST(BIT_COUNT(XOR(a.f, b.f)) AS INT) AS hamming
        FROM fp a JOIN fp b ON a.doc < b.doc
        WHERE BIT_COUNT(XOR(a.f, b.f)) <= 3
        ORDER BY doc_a, doc_b"""),
      doc = "SimHash (60-bit, md5-derived) near-dup pairs with hamming<=3 via 4x15-bit pigeonhole banding (recall exactly 1)."),

    Q(
      "q175_incremental_dedup",
      (s, d) => {
        import s.implicits._
        // Incremental dedup — how dedup actually runs in a production
        // pipeline: the corpus shingle index is a persisted artifact;
        // each arriving crawl batch joins against it instead of
        // re-running the corpus self-join. Batch = doc_id % 7 == 0,
        // index = the rest (both carved from the shared shingle table —
        // one scan). Candidate generation touches only shingles present
        // in the BATCH, and verification restricts the corpus side to
        // candidate docs before sizing, so per-batch cost scales with
        // the batch, not the corpus (Dedup.jaccardPairsAgainst).
        // Output: exact cross-batch Jaccard pairs at t=0.5 — a strict,
        // independently-derived subset of q21's full pair set.
        val sh = sharedShingles(s, d)
        val shNew = sh.filter($"doc" % 7 === 0)
        val shOld = sh.filter($"doc" % 7 =!= 0)
        Dedup.jaccardPairsAgainst(shNew, shOld, 0.5)
          .orderBy($"doc_a", $"doc_b")
      },
      Some("""
        WITH docs AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS toks FROM documents),
        sh AS (SELECT DISTINCT doc_id AS doc, UNNEST(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(toks) - 1, 1)),
                 i -> ARRAY_TO_STRING(toks[i:i+2], ' '))) AS s FROM docs),
        sizes AS (SELECT doc, COUNT(*) AS n FROM sh GROUP BY doc),
        inter AS (SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS c
                  FROM sh a JOIN sh b ON a.s = b.s AND a.doc < b.doc GROUP BY 1, 2)
        SELECT doc_a, doc_b, CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc = inter.doc_a
        JOIN sizes sb ON sb.doc = inter.doc_b
        WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5
          AND ((doc_a % 7 = 0) <> (doc_b % 7 = 0))
        ORDER BY doc_a, doc_b"""),
      doc = "Incremental dedup: exact Jaccard near-dup pairs between an arriving batch (doc_id % 7 == 0) and the persisted corpus shingle index — candidates touch only batch shingles and verification is semi-join-restricted to candidate docs, so each batch costs O(batch), not O(corpus); oracle is the brute-force pair join filtered to cross-batch pairs."),

    Q(
      "q116_labelprop_components",
      // Same clustering task as q32, but through the distributed
      // min-label-propagation algorithm — the simplest >driver-memory
      // path. q32 oracle-verifies the union-find fast path; this row
      // oracle-verifies label propagation against the identical
      // recursive-CTE closure, and q123 pins the pointer-doubling
      // variant (the production fallback), so ALL THREE algorithms are
      // pinned to the same answer. Convergence here is a synchronous
      // fixpoint: one join + one grouped min per round, labels
      // materialized and lineage cut per round, rounds bounded by
      // component diameter.
      (s, d) => QueryCaches.hold(Dedup.labelPropComponents(sharedPairs(s, d)))
        .withColumnRenamed("doc", "doc_id")
        .withColumnRenamed("component", "survivor_id")
        .orderBy(col("doc_id")),
      Some(ccClosureOracle),
      doc = "Distributed min-label-propagation connected components (the simplest >driver-memory scale path of q32's operator) verified against the same recursive-closure oracle — pinned to the identical clusters as the union-find (q32) and pointer-doubling (q123) algorithms."),

    Q(
      "q123_doubling_components",
      // The PRODUCTION >driver-memory path: forcing driverThreshold=0
      // routes connectedComponents through pointerDoublingComponents —
      // per round one pointer-jump self-join plus one neighbor-min, so
      // label chains halve and rounds scale with log(diameter), not
      // diameter (q116's propagation). Third algorithm pinned to the
      // same recursive-closure answer: union-find (q32), label-prop
      // (q116), pointer doubling (here).
      (s, d) => QueryCaches.hold(Dedup.connectedComponents(sharedPairs(s, d), driverThreshold = 0))
        .withColumnRenamed("doc", "doc_id")
        .withColumnRenamed("component", "survivor_id")
        .orderBy(col("doc_id")),
      Some(ccClosureOracle),
      doc = "Pointer-doubling connected components (the production distributed path, forced via driverThreshold=0): jump + neighbor-min per round, log(diameter) convergence — third CC algorithm pinned to the identical recursive-closure oracle as q32/q116.")
  ,

    Q(
      "q155_entity_resolution",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.functions._
        // ENTITY RESOLUTION / record linkage (the MDM pipeline) as one
        // composite: plant deterministic dirty variants of customer
        // records (last-char typo for %10=0, appended char for %10=5,
        // re-keyed), then resolve: BLOCK on the 16-char name prefix
        // (typo-insensitive, ~100 records/block — the knob that keeps
        // candidate pairs at block² not corpus²), VERIFY with
        // levenshtein <= 1 plus exact side-field agreement (acctbal,
        // nation — multi-field matching is what separates true variants
        // from one-digit neighbors), CLUSTER with the shared CC
        // operator, and pick the min-key GOLDEN RECORD; singletons are
        // their own golden record (left join + coalesce — q32 only
        // emits clustered docs).
        val base = Tables.customer(s, d)
          .select($"c_custkey".as("k"), $"c_name".as("nm"),
            $"c_nationkey".cast("long").as("nat"), $"c_acctbal".as("bal"))
        val typo = base.filter($"k" % 10 === 0)
          .select(($"k" + 1000000L).as("k"),
            concat(substring($"nm", 1, 17), lit("x")).as("nm"), $"nat", $"bal")
        val appended = base.filter($"k" % 10 === 5)
          .select(($"k" + 2000000L).as("k"), concat($"nm", lit("q")).as("nm"),
            $"nat", $"bal")
        val dirty = base.unionByName(typo).unionByName(appended)
        val blocked = dirty.withColumn("blk", substring($"nm", 1, 16))
        val pairs = blocked.as("a").join(blocked.as("b"),
            $"a.blk" === $"b.blk" && $"a.k" < $"b.k" &&
              $"a.nat" === $"b.nat" && $"a.bal" === $"b.bal" &&
              levenshtein($"a.nm", $"b.nm") <= 1)
          .select($"a.k".as("doc_a"), $"b.k".as("doc_b"))
        val clusters = graft.operators.Dedup.connectedComponents(pairs)
          .select($"doc".as("k"), $"component".as("golden"))
        dirty.join(clusters, Seq("k"), "left")
          .select($"k".as("rec_key"), coalesce($"golden", $"k").as("golden_key"))
          .orderBy($"rec_key")
      },
      Some("""
        WITH RECURSIVE
        base AS (SELECT c_custkey AS k, c_name AS nm,
                        CAST(c_nationkey AS BIGINT) AS nat, c_acctbal AS bal
                 FROM customer),
        dirty AS (
          SELECT * FROM base
          UNION ALL
          SELECT k + 1000000, SUBSTR(nm, 1, 17) || 'x', nat, bal
          FROM base WHERE k % 10 = 0
          UNION ALL
          SELECT k + 2000000, nm || 'q', nat, bal
          FROM base WHERE k % 10 = 5),
        blocked AS (SELECT k, nm, nat, bal, SUBSTR(nm, 1, 16) AS blk FROM dirty),
        jp AS (SELECT a.k AS doc_a, b.k AS doc_b
               FROM blocked a JOIN blocked b
                 ON a.blk = b.blk AND a.k < b.k
                AND a.nat = b.nat AND a.bal = b.bal
                AND LEVENSHTEIN(a.nm, b.nm) <= 1),
        edges AS (SELECT doc_a AS src, doc_b AS dst FROM jp
                  UNION ALL SELECT doc_b, doc_a FROM jp),
        reach(doc, r) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.doc),
        clusters AS (SELECT doc AS k, MIN(r) AS golden FROM reach GROUP BY doc)
        SELECT d.k AS rec_key, COALESCE(c.golden, d.k) AS golden_key
        FROM dirty d LEFT JOIN clusters c USING (k)
        ORDER BY rec_key"""),
      doc = "Entity resolution / record linkage (MDM): planted dirty variants resolved by prefix BLOCKING (candidates bounded at block-squared, the scale knob), multi-field VERIFY (levenshtein <= 1 plus exact acctbal/nation agreement — what separates true variants from one-digit neighbors), the shared CC operator for clustering, and min-key golden-record selection with singleton passthrough; oracle replays the full pipeline including the recursive closure.")
  ,

    Q(
      "q183_containment",
      (s, d) => {
        // ASYMMETRIC containment dedup: C(A→B) = |sh(A)∩sh(B)| / |sh(A)|
        // — the subset-duplication measure (a short doc quoted inside a
        // long one scores J ≈ |A|/|B| but C = 1). Reuses the memoized
        // shingle index; the oriented output names WHICH side is
        // contained, the signal a curation pipeline needs to keep the
        // superset and drop the quote. ADAPTIVE strategy: the measured
        // shingle-frequency statistic picks the naive inverted-index
        // join here (flat testdata distribution) and the prefix-filtered
        // join on boilerplate-skewed corpora — containment's actual
        // use case — without the caller knowing the profile up front.
        // The strategy VERDICT is memoized with the shingle index
        // (sharedStrategy): the stats pass runs once per (session, dir),
        // not per execution — same routing as containmentPairsAdaptive.
        Dedup.containmentPairs(sharedShingles(s, d), 0.6, sharedStrategy(s, d))
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some(s"""
        WITH docs AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS toks FROM documents),
        sh AS (SELECT DISTINCT doc_id AS doc, UNNEST(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(toks) - 1, 1)),
                 i -> ARRAY_TO_STRING(toks[i:i+2], ' '))) AS s FROM docs),
        sizes AS (SELECT doc, COUNT(*) AS n FROM sh GROUP BY doc),
        inter AS (SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS c
                  FROM sh a JOIN sh b ON a.s = b.s AND a.doc <> b.doc GROUP BY 1, 2)
        SELECT doc_a, doc_b, CAST(c AS DOUBLE) / sa.n AS containment
        FROM inter JOIN sizes sa ON sa.doc = inter.doc_a
        WHERE CAST(c AS DOUBLE) / sa.n >= 0.6
        ORDER BY doc_a, doc_b"""),
      doc = "Asymmetric shingle CONTAINMENT pairs (|A∩B|/|A| >= 0.6, oriented): subset duplication symmetric Jaccard misses — a short doc quoted inside a long one has J ~ |A|/|B| but C = 1; skew-adaptive join strategy over the memoized shingle index (naive inverted-index here, asymmetric prefix-filtered on boilerplate-heavy corpora), division by the contained side only."),

    Q(
      "q180_dedup_unicode",
      (s, _) => {   // multilingual fixture is SF-independent; dir arg unused
        // NEAR-DUP DEDUP ON UNSEGMENTED SCRIPTS: the whitespace shingle
        // default produces ZERO shingles on CJK text, silently exempting
        // those documents from dedup entirely — the highest-frequency
        // failure a multilingual corpus hits. Unicode shingles (q176's
        // tokenizer: character trigrams for CJK, word trigrams
        // elsewhere) restore the exact inverted-index Jaccard machinery
        // of q21 unchanged; the fixture's same-template docs (differing
        // only in their trailing number) are the planted near-dups.
        val docs = s.read.parquet(TextQueries.UniFixture.ensure(s))
        Dedup.jaccardPairs(
          Dedup.shingleSets(docs, "doc_id", "txt", unicode = true), 0.5)
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some(jaccardOracle("0.5", docsCte =
        s"SELECT doc_id, REGEXP_EXTRACT_ALL(LOWER(txt), '${graft.functions.UniTok.oracleRegex}') AS toks " +
          s"FROM read_parquet('${TextQueries.UniFixture.Root}/*.parquet')")),
      doc = "Exact Jaccard near-dup pairs over UNICODE shingles (CJK character trigrams via the q176 codepoint-class tokenizer) on the multilingual fixture — the dedup case whitespace shingles miss entirely (CJK docs yield zero word shingles and silently escape dedup); same q21 inverted-index join, oracle replays tokenization via the generated regex inside the shared Jaccard CTE.")
  ,

    Q(
      "q187_chunk_dedup_cdc",
      (s, d) => {
        // SUBSTRING-LEVEL dedup (the Lee et al. "Deduplicating Training
        // Data Makes Language Models Better" tier): web corpora repeat
        // PARAGRAPHS (licenses, boilerplate, quoted articles) inside
        // otherwise-distinct documents — invisible to whole-doc hashing
        // (q20) and diluted below threshold for whole-doc similarity
        // (q21/q22) once the hosts are long. CDC chunking (q55's
        // codegen'd rolling hash) makes chunk frames a pure function of
        // LOCAL content, so a shared passage chunks identically at any
        // offset; detection is then one exact groupBy on the chunk
        // hash — corpus-linear, no pairwise compare, output bounded by
        // the duplicated mass. ChunkDedupSpec pins the lossless-chunking
        // invariant and the shifted-paragraph case fixed-width framing
        // structurally misses.
        graft.operators.ChunkDedup.crossDocChunks(
          graft.operators.ChunkDedup.cdcChunks(Tables.documents(s, d), "doc_id", "text"))
          .orderBy(col("chunk_hash"))
      },
      Some(s"""
        $cdcHashedChunksCte
        SELECT chunk_hash,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(COUNT(*) AS BIGINT) AS n_occurrences,
               MIN(len) AS chunk_len,
               ARRAY_TO_STRING(LIST_SORT(LIST(DISTINCT doc_id)), ',') AS docs
        FROM hashed
        GROUP BY chunk_hash
        HAVING COUNT(DISTINCT doc_id) >= 2
        ORDER BY chunk_hash"""),
      doc = "Cross-document repeated-chunk clusters via content-defined chunking (CDC window 8 / div 64, min chunk 16 chars): substring-granular dedup robust to insertions/offsets, one shuffle on the chunk hash, never pairwise; oracle replays the CDC fold, the span arithmetic, and the cluster aggregation."),

    Q(
      "q188_duplicated_mass",
      (s, d) => {
        // Per-document DUPLICATED-MASS profile over the same CDC chunk
        // space: how many of each doc's chunks (and characters) also
        // appear in some OTHER document — the curation gate's quality
        // signal (a doc that is mostly repeated passages is boilerplate
        // even when no single whole-doc duplicate exists). Totals cover
        // ALL chunks (== q189's total_chars); sharing is assessed on
        // the >=16-char subset, and zero rows are kept, so the profile
        // covers every chunked doc. Plan: one agg on chunk_hash + one
        // left join back co-partitioned on the same key + one final agg
        // on doc_id — no broadcast assumption about the duplicated-mass
        // volume, which at corpus scale is unbounded.
        graft.operators.ChunkDedup.duplicatedMass(
          graft.operators.ChunkDedup.cdcChunks(Tables.documents(s, d), "doc_id", "text"))
          .orderBy(col("doc_id"))
      },
      Some(s"""
        $cdcHashedChunksCte,
        counts AS (SELECT chunk_hash, COUNT(DISTINCT doc_id) AS nd FROM hashed GROUP BY 1),
        base AS (SELECT doc_id, MD5(chunk) AS chunk_hash,
                        CAST(LENGTH(chunk) AS BIGINT) AS len
                 FROM chunks)
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_chunks,
               CAST(SUM(len) AS BIGINT) AS total_chars,
               CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_chunks,
               CAST(SUM(CASE WHEN nd >= 2 THEN len ELSE 0 END) AS BIGINT) AS shared_chars
        FROM base LEFT JOIN counts USING (chunk_hash)
        GROUP BY doc_id
        ORDER BY doc_id"""),
      doc = "Per-document duplicated-mass profile over the CDC chunk space (chunks and characters also present in another document): the boilerplate-fraction quality gate; totals cover all chunks so they agree with q189's accounting, sharing is assessed on the >=16-char subset, and zero-share docs keep explicit zero rows so the profile covers the whole corpus."),

    Q(
      "q189_chunk_strip",
      (s, d) => {
        // The REMOVAL transform completing the chunk tier (q187 detects,
        // q188 profiles, this row strips): every cross-document repeated
        // chunk is removed from all but its first occurrence (owner =
        // min doc_id — deterministic across engines), hosts otherwise
        // intact. Output is the per-doc stripped-mass accounting plus
        // the md5 of the kept text, so the rewrite is exactly verifiable
        // without shipping corpus-sized text through the gate. Plan: one
        // shuffle on chunk_hash (owner agg + co-partitioned join back),
        // one on doc_id to reassemble — owner table is corpus-scale, no
        // broadcast assumption.
        graft.operators.ChunkDedup.stripShared(
          graft.operators.ChunkDedup.cdcChunks(Tables.documents(s, d), "doc_id", "text"))
          .orderBy(col("doc_id"))
      },
      Some(s"""
        $cdcHashedChunksCte,
        owners AS (SELECT chunk_hash, MIN(doc_id) AS owner FROM hashed GROUP BY 1),
        flags AS (SELECT c.doc_id, c.chunk_idx, c.chunk,
                         CAST(LENGTH(c.chunk) AS BIGINT) AS len,
                         COALESCE(LENGTH(c.chunk) >= 16 AND c.doc_id > o.owner, FALSE) AS strip
                  FROM chunks c LEFT JOIN owners o ON MD5(c.chunk) = o.chunk_hash)
        SELECT doc_id,
               CAST(SUM(len) AS BIGINT) AS total_chars,
               CAST(SUM(CASE WHEN strip THEN len ELSE 0 END) AS BIGINT) AS stripped_chars,
               CAST(SUM(CASE WHEN strip THEN 1 ELSE 0 END) AS BIGINT) AS n_stripped_chunks,
               MD5(STRING_AGG(CASE WHEN strip THEN '' ELSE chunk END, '' ORDER BY chunk_idx)) AS kept_md5
        FROM flags
        GROUP BY doc_id
        ORDER BY doc_id"""),
      doc = "Cross-document repeated-chunk REMOVAL (keep-first-owner = min doc_id): per-doc stripped mass plus md5 of the rewritten text, chunks below 16 chars never stripped; oracle replays the CDC chunking, the owner election, and the ordered re-concatenation."),

    Q(
      "q201_substring_dedup_spans",
      (s, _) => {   // SubstrFixture; dir arg unused
        // EXACT-SUBSTRING dedup (Lee et al. 2022 ExactSubstr, the
        // suffix-array tier re-architected for a cluster): min-length-L
        // VERBATIM duplicate spans at ARBITRARY offsets — the dedup
        // modality the CDC chunk tier structurally cannot see (spans
        // shorter than the expected chunk or straddling an h%64==0
        // boundary; SubstrDedupSpec plants the 60-char case q187
        // provably misses). Two passes: lossless winnowed-anchor
        // candidate pruning (the SIGMOD'03 guarantee at t = w+k-1 = L),
        // then the exact every-window pass over candidates only. The
        // oracle replays the DEFINITION (all windows, no pruning) — the
        // guarantee is what makes the two answers equal.
        sharedSubstrSpans(s)
          .orderBy(col("doc_id"), col("span_idx"))
      },
      Some(s"""
        WITH ${substrSpansCte()}
        SELECT doc_id, span_idx, span_start, span_end, span_len
        FROM spansx
        ORDER BY doc_id, span_idx"""),
      doc = "Exact-substring cross-document dedup (min 40-code-point verbatim spans at arbitrary offsets): winnowed k-gram anchors (k=20, w=21 — the published winnowing guarantee makes pruning lossless at t=40) into one anchor-hash shuffle, then the exact md5-keyed window pass over candidate docs only; maximal spans merged where coverages touch; oracle replays the exhaustive definition window by window."),

    Q(
      "q202_substring_dedup_profile",
      (s, _) => {   // SubstrFixture; dir arg unused
        // The per-doc duplicated-mass profile over the SAME span space
        // (q188's accounting at substring granularity): total vs
        // duplicated code points and span count, zero rows kept so the
        // profile covers every doc — the curation gate thresholds this
        // (a doc that is mostly verbatim-repeated text is boilerplate
        // even when no chunk or whole-doc duplicate exists).
        graft.operators.SubstrDedup.dupProfileFrom(
            s.read.parquet(SubstrFixture.ensure(s)), sharedSubstrSpans(s))
          .orderBy(col("doc_id"))
      },
      Some(s"""
        WITH ${substrSpansCte()}
        SELECT d.doc_id,
               CAST(LENGTH(d.text) AS BIGINT) AS total_chars,
               CAST(COALESCE(SUM(sp.span_len), 0) AS BIGINT) AS dup_chars,
               CAST(COUNT(sp.span_start) AS BIGINT) AS n_spans
        FROM docs d LEFT JOIN spansx sp USING (doc_id)
        GROUP BY d.doc_id, d.text
        ORDER BY d.doc_id"""),
      doc = "Per-document exact-substring duplicated-mass profile: total and duplicated code points plus maximal-span count for EVERY doc (zero rows kept), the substring-granular boilerplate-fraction signal; same two-pass detection as q201, one extra doc_id aggregation."),

    Q(
      "q203_substring_strip",
      (s, _) => {   // SubstrFixture; dir arg unused
        // The removal transform completing the tier (q201 detects, q202
        // profiles, this strips): every duplicated span removed from
        // EVERY doc holding it — the published ExactSubstr semantics
        // (spans are not aligned entities across docs, so the chunk
        // tier's owner election is ill-posed here; Lee et al. drop all
        // copies). Output is the per-doc accounting plus md5 of the
        // kept text, exactly verifiable without shipping text.
        graft.operators.SubstrDedup.stripSpansFrom(
            s.read.parquet(SubstrFixture.ensure(s)), sharedSubstrSpans(s))
          .orderBy(col("doc_id"))
      },
      Some(s"""
        WITH ${substrSpansCte()},
        segs AS (
          SELECT doc_id, span_start, span_end,
                 COALESCE(LAG(span_end) OVER (PARTITION BY doc_id ORDER BY span_start), 0) AS prev_end
          FROM spansx),
        mids AS (
          SELECT s.doc_id,
                 STRING_AGG(d.text[CAST(s.prev_end + 1 AS INT) : CAST(s.span_start - 1 AS INT)],
                            '' ORDER BY s.span_start) AS mid,
                 MAX(s.span_end) AS last_end,
                 CAST(SUM(s.span_end - s.span_start + 1) AS BIGINT) AS stripped,
                 CAST(COUNT(*) AS BIGINT) AS n_spans
          FROM segs s JOIN docs d USING (doc_id)
          GROUP BY s.doc_id)
        SELECT d.doc_id,
               CAST(LENGTH(d.text) AS BIGINT) AS total_chars,
               COALESCE(m.stripped, 0) AS stripped_chars,
               COALESCE(m.n_spans, 0) AS n_spans,
               MD5(CASE WHEN m.doc_id IS NULL THEN d.text
                        ELSE m.mid || d.text[CAST(m.last_end + 1 AS INT) : LENGTH(d.text)]
                   END) AS kept_md5
        FROM docs d LEFT JOIN mids m USING (doc_id)
        ORDER BY d.doc_id"""),
      doc = "Exact-substring span REMOVAL (all copies dropped — the published ExactSubstr behavior; owner election is ill-posed at span granularity): per-doc stripped mass plus md5 of the kept text re-concatenated in order; oracle replays the span set and the between-span segment stitching."),

    Q(
      "q208_substring_decontam",
      (s, _) => {   // SubstrFixture; dir arg unused
        // EXACT-SUBSTRING DECONTAMINATION (Lee et al.'s second use;
        // the GPT-3/FLAN verbatim-overlap studies): which characters of
        // which TRAIN docs occur verbatim (>= 40 code points, arbitrary
        // offset) in a benchmark set. q52 is the shingle-count proxy;
        // this is the exact character-level answer, same lossless
        // anchor pruning as q201 (bench anchors select suspicious train
        // docs, the exact window pass confirms). Fixture split: main
        // docs are the training corpus, the edge docs the benchmark —
        // the license-twice bench doc 9010 contaminates every
        // license-carrying train doc.
        val fx = s.read.parquet(SubstrFixture.ensure(s))
        graft.operators.SubstrDedup.contaminationSpans(
            fx.filter(col("doc_id") < 1000L), fx.filter(col("doc_id") >= 9000L))
          .orderBy(col("doc_id"), col("span_idx"))
      },
      Some(s"""
        WITH docs AS (SELECT doc_id, text FROM read_parquet('${SubstrFixture.Root}/*.parquet')),
        train AS (SELECT * FROM docs WHERE doc_id < 1000),
        tg AS (
          SELECT doc_id, CAST(pos AS BIGINT) AS pos, text[pos : pos + 39] AS g
          FROM (SELECT doc_id, UNNEST(RANGE(1, GREATEST(LENGTH(text) - 38, 1))) AS pos, text
                FROM train) t),
        bg AS (
          SELECT DISTINCT text[pos : pos + 39] AS g
          FROM (SELECT UNNEST(RANGE(1, GREATEST(LENGTH(text) - 38, 1))) AS pos, text
                FROM docs WHERE doc_id >= 9000) t),
        hits AS (SELECT doc_id, pos FROM tg JOIN bg USING (g)),
        marked AS (SELECT doc_id, pos,
                     CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 40
                          THEN 1 ELSE 0 END AS brk
                   FROM hits),
        isl AS (SELECT doc_id, pos,
                  SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island
                FROM marked),
        spans AS (SELECT doc_id,
                    CAST(MIN(pos) AS BIGINT) AS span_start,
                    CAST(MAX(pos) + 39 AS BIGINT) AS span_end
                  FROM isl GROUP BY doc_id, island)
        SELECT doc_id,
               CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY span_start) AS BIGINT) AS span_idx,
               span_start, span_end,
               span_end - span_start + 1 AS span_len
        FROM spans
        ORDER BY doc_id, span_idx"""),
      doc = "Exact-substring decontamination (train docs carrying verbatim >=40-code-point spans from a benchmark set, at arbitrary offsets): lossless winnowed-anchor pruning on the benchmark's anchors, exact md5-keyed window confirmation against the distinct benchmark window set, maximal spans per train doc — the character-level answer the q52 shingle proxy approximates; oracle replays the exhaustive cross-set definition."),

    Q(
      "q210_dedup_nfc_jaccard",
      (s, _) => {   // NfcFixture; dir arg unused
        // The normalize flag promoted to a gated corpus row: exact
        // Jaccard near-dup pairs over NFC-NORMALIZED shingles on the
        // q206 encoding-variance fixture. Every logical page there is
        // emitted composed / decomposed / mixed — raw shingling sees
        // three unrelated documents (every accented word byte-differs,
        // raw trigram Jaccard ~0 to ~1/3, all under the 0.5 threshold;
        // NfcSpec pins raw finds NOTHING), while the flag collapses each
        // triple into three J=1.0 pairs. The q207 exact tier catches
        // byte-identical-after-NFC docs; THIS row is the near-dup tier's
        // flag — the two compose for variants that are both re-encoded
        // AND edited. Oracle re-tokenizes over DuckDB's utf8proc
        // nfc_normalize (the independent UAX#15 oracle pair, as q206).
        val docs = s.read.parquet(TextQueries.NfcFixture.ensure(s))
        Dedup.jaccardPairs(
            Dedup.shingleSets(docs, "doc_id", "text", 3, normalize = true), 0.5)
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some(jaccardOracle("0.5", docsCte =
        "SELECT doc_id, STRING_SPLIT(nfc_normalize(text), ' ') AS toks " +
          s"FROM read_parquet('${TextQueries.NfcFixture.Root}/*.parquet')")),
      doc = "Normalization-keyed NEAR-dup detection (the NFC flag on the shingle tier, gated): exact trigram-Jaccard pairs over NFC-normalized text on the encoding-variance fixture — composed/decomposed/mixed variants of one page are invisible to raw shingling (every accented word byte-differs) and collapse to J=1.0 pairs under the flag; oracle replays tokenization over DuckDB's independent utf8proc NFC."),

    Q(
      "q213_token_decontam",
      (s, _) => {   // TokenFixture; dir arg unused
        // TOKEN-level decontamination — the published methodology
        // verbatim (GPT-3 appendix C / PaLM §7 both match 13-grams of
        // TOKENIZER tokens, not characters): maximal contaminated
        // token spans of train docs against the benchmark set, with
        // the q140 BPE stream as the coordinate space. The fixture
        // plants the case the char tier (q208, L=40) provably misses —
        // an out-of-vocabulary phrase whose 2-letter words explode to
        // ~3 sub-word tokens each, carrying 14 tokens in 14 characters
        // — plus a sharp-threshold pair (a 13-token shared run flags,
        // a 12-token one does not) and a long sentence BOTH tiers see.
        // Oracle replays the whole pass: the
        // per-word REPLACE-chain BPE (generated from the same merges
        // constant as the Spark expression), window md5s, the
        // broadcast-shaped semi-join, and the token-island union.
        val fx = s.read.parquet(TokenFixture.ensure(s))
        graft.operators.TokenDecontam.contaminationTokenSpans(
            fx.filter(col("doc_id") < 900L), fx.filter(col("doc_id") >= 900L))
          .orderBy(col("doc_id"), col("span_idx"))
      },
      Some(s"""
        WITH fdocs AS (SELECT doc_id, text FROM read_parquet('${TokenFixture.Root}/*.parquet')),
        words AS (SELECT doc_id, pos, w FROM (
            SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w,
                   GENERATE_SUBSCRIPTS(STRING_SPLIT(text, ' '), 1) AS pos
            FROM fdocs) t
          WHERE LENGTH(w) > 0),
        enc AS (SELECT doc_id, pos, ${graft.operators.Bpe.oracleEncodeSql("w")} AS e
                FROM words),
        toks AS (SELECT doc_id, STRING_SPLIT(STRING_AGG(e, ' ' ORDER BY pos), ' ') AS ts
                 FROM enc GROUP BY doc_id),
        tw AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
                      MD5(ARRAY_TO_STRING(ts[pos : pos + 12], ' ')) AS g
               FROM (SELECT doc_id, UNNEST(RANGE(1, GREATEST(LEN(ts) - 11, 1))) AS pos, ts
                     FROM toks WHERE doc_id < 900) t),
        bw AS (SELECT DISTINCT MD5(ARRAY_TO_STRING(ts[pos : pos + 12], ' ')) AS g
               FROM (SELECT UNNEST(RANGE(1, GREATEST(LEN(ts) - 11, 1))) AS pos, ts
                     FROM toks WHERE doc_id >= 900) t),
        hits AS (SELECT doc_id, pos FROM tw JOIN bw USING (g)),
        marked AS (SELECT doc_id, pos,
                     CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 13
                          THEN 1 ELSE 0 END AS brk
                   FROM hits),
        isl AS (SELECT doc_id, pos,
                  SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island
                FROM marked),
        spans AS (SELECT doc_id,
                    CAST(MIN(pos) AS BIGINT) AS span_start,
                    CAST(MAX(pos) + 12 AS BIGINT) AS span_end
                  FROM isl GROUP BY doc_id, island)
        SELECT doc_id,
               CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY span_start) AS BIGINT) AS span_idx,
               span_start, span_end,
               span_end - span_start + 1 AS span_len
        FROM spans
        ORDER BY doc_id, span_idx"""),
      doc = "Token-level exact decontamination (the GPT-3/PaLM 13-token-gram methodology): maximal contaminated TOKEN spans of train docs against a benchmark set over the q140 BPE stream — catches short token-dense leaks (an OOV phrase carrying 14 tokens in 14 chars) that the char-level L=40 tier provably misses, with a sharp 13-vs-12-token threshold pinned by the fixture; oracle replays the per-word REPLACE-chain BPE from the same merges constant, the window join, and the token-island union.")
  )

  /** The exact-substring span set replayed in DuckDB, shared by
    * q201/q202/q203 and the q209 composed manifest — the DEFINITION
    * itself, with no candidate pruning: every length-L window of every
    * doc, windows shared by >= 2 distinct docs are hits, hits with gap
    * <= L merge into maximal spans. The Spark side prunes through
    * winnowed anchors first; the winnowing guarantee (t = w + k - 1 =
    * L) is exactly the claim that the two answers are equal, so the
    * gate proves it per run. Emits docs/grams/g2/sharedg/hits/marked/
    * isl/spans/spansx as a BODY-ONLY chain (no leading WITH) so it
    * composes into a caller's WITH/WITH RECURSIVE prefix; `source` is
    * the corpus relation (defaults to the q201 fixture) and `docsName`
    * renames the corpus CTE when the caller's chain already binds
    * `docs` (q209 composes this with jaccardReach, which does).
    */
  private[queries] def substrSpansCte(
      minLen: Int = graft.operators.SubstrDedup.DefaultMinLen,
      source: String = s"read_parquet('${SubstrFixture.Root}/*.parquet')",
      docsName: String = "docs"): String = s"""
        $docsName AS (SELECT doc_id, text FROM $source),
        grams AS (
          SELECT doc_id, UNNEST(RANGE(1, GREATEST(LENGTH(text) - $minLen + 2, 1))) AS pos, text
          FROM $docsName),
        g2 AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
                      text[pos : pos + $minLen - 1] AS g
               FROM grams),
        sharedg AS (SELECT g FROM g2 GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2),
        hits AS (SELECT doc_id, pos FROM g2 JOIN sharedg USING (g)),
        marked AS (SELECT doc_id, pos,
                     CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) > $minLen
                          THEN 1 ELSE 0 END AS brk
                   FROM hits),
        isl AS (SELECT doc_id, pos,
                  SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island
                FROM marked),
        spans AS (SELECT doc_id,
                    CAST(MIN(pos) AS BIGINT) AS span_start,
                    CAST(MAX(pos) + $minLen - 1 AS BIGINT) AS span_end
                  FROM isl GROUP BY doc_id, island),
        spansx AS (SELECT doc_id,
                     CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY span_start) AS BIGINT) AS span_idx,
                     span_start, span_end,
                     span_end - span_start + 1 AS span_len
                   FROM spans)"""

  /** Deterministic corpus for the exact-substring tier: 1 000 generated
    * prose docs (~240 unique chars each) with planted verbatim overlap —
    * a ~120-char license paragraph in every 10th doc at a rotating
    * offset (prefix / mid-word insertion at a varying split / suffix), a
    * ~60-char sentence in every 50th doc (prefix for the first half of
    * the id space, suffix for the rest — arbitrary-offset sharing), and
    * a 30-char fragment (UNDER the 40 threshold — must never be
    * detected) in every 4th doc. Edge docs: empty; under-threshold;
    * exactly-40-char identical pair; whole-doc duplicate pair; the
    * adjacent-vs-separated two-span pair (same two 44-char spans,
    * contiguous in one doc — one merged maximal span — and 80 chars
    * apart in the other — two spans); a unicode pair sharing a span with
    * multi-byte and astral code points (pins code-point arithmetic in
    * both engines); a doc carrying the license TWICE (two maximal
    * spans, 20-char gap stays split because the gap rule measures hit
    * positions, not span edges); and an intra-doc-only repeat (a 50-char
    * phrase twice in ONE doc, nowhere else — zero spans, pinning the
    * cross-doc countDistinct).
    */
  object SubstrFixture {
    val Root = "/root/repo/target/substr_fixture"
    // splitmix64 finalizer, NOT the (seed % 26)-cycle generator the
    // regex-tier fixtures use: this tier's negatives depend on prose
    // being genuinely collision-free at 40-gram granularity, and any
    // LINEAR char generator (even multiplied by big constants) keeps
    // arithmetic correlations that repeat whole word streams across
    // docs and plant accidental verbatim spans everywhere
    private def mix(x0: Long): Long = {
      var x = x0 + 0x9E3779B97F4A7C15L
      x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
      x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
      x ^ (x >>> 31)
    }
    private def word(seed: Long, len: Int): String =
      (0 until len).map(j =>
        ('a' + java.lang.Math.floorMod(mix(seed * 64 + j), 26L).toInt).toChar).mkString
    private def prose(seed: Long, n: Int): String =
      (0 until n).map(j => word(seed * 131 + j * 7, 3 + ((seed + j) % 6).toInt))
        .mkString(" ")
    private val License =
      "this software is provided as is without warranty of any kind express or " +
        "implied including merchantability and fitness"
    private val Sent60 = "the quick brown fox jumps over the lazy dog again and again."
    private val Frag30 = "thirty chars shared everywhere"
    private def doc(i: Int): String = {
      val base = prose(i.toLong, 40)
      val withLic =
        if (i % 10 == 0) (i / 10) % 3 match {
          case 0 => License + " " + base
          case 1 => val (a, b) = base.splitAt(97 + i % 31); a + License + b
          case _ => base + " " + License
        }
        else base
      val withFrag =
        if (i % 4 == 1) { val (a, b) = withLic.splitAt(53 + i % 17); a + Frag30 + b }
        else withLic
      if (i % 50 == 7)
        if (i < 500) Sent60 + withFrag else withFrag + Sent60
      else withFrag
    }
    private val once = new FixtureOnce(Root)
    def ensure(s: SparkSession): String = once.ensure(s)({
        val main = (0 until 1000).map(i => (i.toLong, doc(i)))
        val dupWhole = prose(7777L, 35)
        val s45a = "first shared forty five character span aa" + "bbb" // 44 chars
        val s45b = "second shared forty five character span a" + "bcd" // 44 chars
        val uniSpan = "héllo wörld 中文字符串 straße 🎉 emoji span xx"
        val intra = "fifty character phrase repeated inside one doc xx"
        val edges = Seq(
          (9000L, ""),
          (9001L, "under forty code points"),
          (9002L, "exactly forty characters shared verbatim"),
          (9003L, "exactly forty characters shared verbatim"),
          (9004L, dupWhole),
          (9005L, dupWhole),
          // flanks are CONTROLLED non-matching punctuation so the
          // detected spans are exactly the plants (a shared flanking
          // char is itself verbatim-shared context and would correctly
          // extend the span — the q201 main docs exercise that; these
          // edges pin exact arithmetic)
          (9006L, prose(9006L, 8) + "(" + s45a + s45b + ")" + prose(9106L, 8)),
          (9007L, prose(9007L, 8) + "[" + s45a + "]" + prose(9107L, 13) +
            "{" + s45b + "}" + prose(9207L, 8)),
          (9008L, prose(9008L, 6) + "<" + uniSpan + ">" + prose(9108L, 6)),
          (9009L, uniSpan + "|" + prose(9109L, 10)),
          (9010L, License + " unique middle bits " + License),
          (9011L, intra + " " + prose(9011L, 10) + " " + intra))
        main ++ edges
      }, "doc_id", "text")
  }

  /** Deterministic corpus for the TOKEN-level decontamination tier
    * (q213). Train docs < 900, benchmark docs >= 900. The plants (all
    * shapes reasoned in BPE-token space — an out-of-vocabulary 2-letter
    * word like "zq" encodes to three sub-word tokens z / q / </w>,
    * except where a suffix rule like `p </w> -> p</w>` glues the
    * marker):
    *
    *   - Dense14 ("zq vx wf kp jm", 14 CHARS and 14 TOKENS
    *     [z q </w> v x </w> w f </w> k p</w> j m </w>]): shared by
    *     train docs 10/11 and bench doc 900 — far under the char
    *     tier's 40-code-point floor, over the 13-token one; the case
    *     the tier exists for. (The flanking words on both sides end in
    *     a bare </w> token, itself shared boundary context, so the
    *     maximal token run is 15.)
    *   - the SHARP pair: doc 16 ("... kp jmx ...") shares EXACTLY 13
    *     tokens with bench 900 (Dense14's first 12 plus j, m — "jmx"
    *     diverges at the x where the bench has </w>) and flags; doc 12
    *     ("... kp jq ...") shares exactly 12 (through k p</w> plus j,
    *     then q vs m) and must NOT. Both are flanked by "the" — whose
    *     last token is the MERGED the</w>, not a bare </w> — so
    *     neither run gains a boundary token and the 13-vs-12 edge is
    *     exact.
    *   - Long17 (a 62-char sentence of merge-table words, 17 tokens
    *     incl. its leading the</w>): train doc 13 vs bench 901 — BOTH
    *     tiers see this one (>= 40 chars AND >= 13 tokens), pinning
    *     that the tiers agree where they overlap.
    *   - clean train prose, an intra-train-only repeat, and a
    *     no-contamination bench doc as negatives.
    */
  object TokenFixture {
    val Root = "/root/repo/target/token_fixture"
    private val Dense14 = "zq vx wf kp jm"
    private val Long17 =
      "the data batch scan join stream merge sort fast key row window"
    private val once = new FixtureOnce(Root)
    def ensure(s: SparkSession): String = once.ensure(s)({
        Seq(
          (10L, "alpha preamble words before xo " + Dense14 + " xq tail words one"),
          (11L, "second carrier begins mm " + Dense14 + " nn finish line"),
          (12L, "under threshold host the zq vx wf kp jq bb something"),
          (13L, "left context q " + Long17 + " r right context"),
          (14L, "completely clean training document with no shared phrases at all"),
          (15L, "self repeated qqq www qqq www nothing shared with benchmarks"),
          (16L, "threshold edge host the zq vx wf kp jmx something else"),
          (900L, "different beta start yy " + Dense14 + " zz end"),
          (901L, "benchmark with the long sentence " + Long17 + " trailing"),
          (902L, "a benchmark document contaminating nothing at all"))
      }, "doc_id", "text")
  }

  /** The CDC chunk table replayed in DuckDB, shared by q187/q188/q189:
    * the q55 boundary fold (window 8 / base 31 / mod 1e9+7 / div 64),
    * [1]+b+1 / b+[len] span zipping with the st<=en tail/empty filter
    * (exactly [[graft.operators.ChunkDedup.cdcChunks]]), 0-based
    * chunk_idx (ROW_NUMBER over the span start — only the TAIL span can
    * be dropped by the st<=en filter, so this matches posexplode's
    * pre-filter index, the contiguity ChunkDedupSpec pins), md5 chunk
    * hashing, and the min-16-char floor.
    */
  private def cdcHashedChunksCte: String = """
        WITH cps AS (SELECT doc_id, text,
               LIST_TRANSFORM(RANGE(1, LENGTH(text) + 1),
                 i -> CAST(UNICODE(text[i:i]) AS BIGINT)) AS c
             FROM documents),
        b AS (SELECT doc_id, text,
                LIST_FILTER(RANGE(8, LEN(c) + 1),
                  p -> LIST_REDUCE(c[p-7:p], (h, x) -> (h*31 + x) % 1000000007) % 64 = 0) AS bs
              FROM cps),
        spans AS (SELECT doc_id, text,
                LIST_PREPEND(CAST(1 AS BIGINT), LIST_TRANSFORM(bs, x -> x + 1)) AS starts,
                LIST_APPEND(bs, CAST(LENGTH(text) AS BIGINT)) AS ends
              FROM b),
        chunks AS (SELECT doc_id, text[st:en] AS chunk,
            CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY st) - 1 AS BIGINT) AS chunk_idx
          FROM (SELECT doc_id, text, UNNEST(starts) AS st, UNNEST(ends) AS en FROM spans) t
          WHERE st <= en),
        hashed AS (SELECT doc_id, MD5(chunk) AS chunk_hash,
                          CAST(LENGTH(chunk) AS BIGINT) AS len
                   FROM chunks WHERE LENGTH(chunk) >= 16)"""

  /** Recursive-CTE transitive-closure oracle shared verbatim by q116 and
    * q123 (and mirroring q32's): three different CC algorithms, one
    * answer — the adversarial pairing that keeps the scale paths honest.
    */
  private def ccClosureOracle: String = s"""
        WITH RECURSIVE ${OracleCtes.jaccardReach()}
        SELECT doc AS doc_id, MIN(r) AS survivor_id
        FROM reach GROUP BY doc
        ORDER BY doc_id"""
}
