package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end LLM-corpus pipeline rows: in-engine language
  * identification (q219 — CCNet stage 1, the upstream router every
  * per-language operator in this engine previously took as a recorded
  * column), plus the cross-stage composition rows that prove the stage
  * BOUNDARIES (id spaces, coordinates, normalization flags), not just
  * the stages.
  */
object PipelineQueries {

  // language-ID model + prediction frame, memoized per session (the
  // lmModel/lmScores discipline): the fixture never varies, training is
  // the expensive half, and q219/q220 share the artifacts
  private val modelCache = QueryCaches.memo[SparkSession, graft.operators.LangId.Model]()
  private def langidModel(s: SparkSession): graft.operators.LangId.Model =
    modelCache(s) {
      val docs = s.read.parquet(LangIdFixture.ensure(s))
      graft.operators.LangId.train(
        docs.filter(col("doc_id") % 1000 < 40 && col("doc_id") < 9000),
        n = 2, prepare = QueryCaches.persist)
    }

  // the fixture's self-trained bigram LM score frame (the q192 shape on
  // the langid corpus): ONE score pass shared by the q219 tercile
  // machinery and any reuse; persisted like lmScores
  private val lmScoreCache = QueryCaches.memo[SparkSession, DataFrame]()
  private def fixtureLmScores(s: SparkSession): DataFrame = lmScoreCache(s) {
    val docs = s.read.parquet(LangIdFixture.ensure(s))
    val m = graft.operators.NgramLm.train(docs, prepare = QueryCaches.persist)
    QueryCaches.persist(graft.operators.NgramLm.score(docs, m))
  }

  // the PREDICTION frame is itself a materialize-once artifact (CCNet
  // computes LID once and stores the assignment as a column; every
  // downstream per-language pass consumes the stored column) — one
  // score+argmin pass per session, shared by q219 and any reuse
  private val predCache = QueryCaches.memo[SparkSession, DataFrame]()
  private def langidPred(s: SparkSession): DataFrame = predCache(s) {
    QueryCaches.persist(graft.operators.LangId.predict(
      s.read.parquet(LangIdFixture.ensure(s)), langidModel(s)))
  }

  // the q219 output frame is itself a materialize-once artifact (the
  // CCNet tag table is estimated offline and consumed by every
  // downstream pass); memoized + lineage-cut like the stage finals so
  // a warm read neither re-runs the tercile estimation actions nor
  // re-plans the scoring tree
  private val langidTagCache = QueryCaches.memo[SparkSession, DataFrame]()
  private def langidTagged(s: SparkSession): DataFrame = langidTagCache(s) {
    val pred = langidPred(s)
    val scored = pred.select(col("doc_id"), col("pred_lang").as("lang"))
      .join(fixtureLmScores(s).select(col("doc_id"), col("avg_millibits")),
        Seq("doc_id"))
    cutFinal(CurationQueries.ccnetTag(scored,
        CurationQueries.ccnetCuts(scored))
      .join(pred.select(col("doc_id"), col("margin_millibits")),
        Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("margin_millibits"),
        col("avg_millibits"), col("bucket")))
  }

  /** The capstone's LM keep threshold. The corpus is small, so absolute
    * surprisal sits lower than the q212 fixture's (smaller V, smaller
    * counts): measured on the deterministic fixture, every in-domain
    * doc scores <= 10637 milli-bits and the out-of-domain 5000 doc
    * scores 11636 — the ~1000-milli-bit add-one gap the construction
    * guarantees. 11000 sits in the gap; both engines compare the same
    * exact integers, so the margin is structural, not statistical.
    */
  private[graft] val CapLmMaxAvgMillibits = 11000L

  /** Every intermediate frame of the q220 chain, exposed so the gated
    * row and CapstoneSpec drive ONE copy of the composition (the
    * three-implementation discipline: the oracle replays it in SQL,
    * the spec attributes each stage's casualties over these frames).
    */
  private[graft] final case class CapstoneStages(
      corpus: DataFrame, bench: DataFrame, extracted: DataFrame,
      c4Audit: DataFrame, cleaned: DataFrame, cur: DataFrame,
      spans: DataFrame, contaminated: DataFrame, cur2: DataFrame,
      manifest: DataFrame, kept: DataFrame, packed: DataFrame)

  // memoized per session with the mid-chain frames PERSISTED: the
  // chain's own actions (connected components' fixpoint loop, the V
  // count in LM training, packing's quantile/total passes) would
  // otherwise re-evaluate the whole mux->demux->extract->clean->dedup
  // upstream once EACH — in deployment every stage output is a
  // materialized lake table, so persistence here is the honest shape,
  // not a bench trick (the q178 BigLake precedent).
  private val stagesCache = QueryCaches.memo[SparkSession, CapstoneStages]()

  // The FINAL frame of each memoized chain gets a LOGICAL lineage cut
  // (Lineage.cut), not just a persist: the chains are hundreds of
  // operators deep, and every action over a merely-persisted final
  // frame re-pays Catalyst analysis/optimization of the WHOLE tree
  // before the cache substitution even runs (measured on q226: 2.2 s
  // per force with the cache HIT — all driver planning time; 0.05 s
  // once cut). The deterministic ORDER BY is applied on TOP of the cut
  // leaf so the row's explicit ordering stays in its executed plan.
  // The cut is held by QueryCaches (unpersist cannot reach a
  // LogicalRDD leaf).
  private def cutFinal(df: DataFrame): DataFrame =
    QueryCaches.hold(graft.operators.Lineage.cut(df))
  private[graft] def capstoneStages(s: SparkSession): CapstoneStages =
    stagesCache(s)(buildCapstoneStages(s))

  private def buildCapstoneStages(s: SparkSession): CapstoneStages = {
    import s.implicits._
    import QueryCaches.persist
    val fx = s.read.parquet(CapstoneFixture.ensure(s))
    val corpus = fx.filter($"doc_id" < 9000L)
    val bench = fx.filter($"doc_id" >= 9000L).select($"doc_id", $"text")
    // 1+2: mux into WARC shards of HTML pages, demux, parse, extract
    val shards = corpus.select($"doc_id", $"text").as[(Long, String)]
      .groupByKey(t => Math.floorDiv(t._1, 16L)).mapGroups { (sid, it) =>
        val recs = it.toSeq.sortBy(_._1).map { case (id, text) =>
          (id, graft.sources.Warc.httpMessage(
            CapstoneFixture.PagePrefix +
              text.replace("\n", "<br>") + CapstoneFixture.PageSuffix))
        }
        (sid, graft.sources.Warc.buildShard(recs))
      }
    val pages = shards.flatMap { case (_, blob) =>
      graft.sources.Warc.parseShard(blob).map { r =>
        (r.url.substring(r.url.lastIndexOf('/') + 1).toLong,
          graft.sources.Warc.parseHttp(r.payload).body)
      }
    }.toDF("doc_id", "html")
    val extracted = pages.select($"doc_id",
      graft.functions.TextFns.htmlTextLines($"html").as("text"))
    // 3: C4 line clean (drops lines; drops lorem/brace/short pages)
    val c4Audit = extracted
      .select($"doc_id", $"text",
        size(graft.functions.TextFns.lineArray($"text")).cast("long").as("n_lines"),
        graft.functions.TextFns.c4KeptLines($"text").as("kept"),
        lower($"text").contains("lorem ipsum").as("lorem"),
        $"text".contains("{").as("brace"))
    val cleaned = c4Audit
      .filter(size($"kept") >= 3 && !$"lorem" && !$"brace")
      .select($"doc_id", array_join($"kept", "\n").as("text"))
    // 4: NFC canonicalization + exact dedup (md5 election, min id)
    val nfc = cleaned.select($"doc_id",
      graft.functions.NfcNormalize($"text").as("text"))
    val cur = persist(graft.operators.Dedup.exactDedup(
        nfc.withColumn("__k", md5($"text")), Seq("__k"), Seq($"doc_id"))
      .drop("__k")
      .join(corpus.select($"doc_id", $"lang"), Seq("doc_id"))
      .select($"doc_id", $"lang", $"text"))
    // 5: the substring span table over the deduped corpus
    val spans = graft.operators.SubstrDedup.dupSpans(cur)
    // 6: token decontamination against the benchmark set — any
    // contaminated span drops the doc
    val contaminated = graft.operators.TokenDecontam
      .contaminationTokenSpans(cur, bench)
      .select($"doc_id").distinct()
    val cur2 = persist(cur.join(contaminated, Seq("doc_id"), "left_anti"))
    // 7: the six-signal manifest over the decontaminated corpus
    val pairs = graft.operators.Dedup.jaccardPairs(
      graft.operators.Dedup.shingleSets(cur2, "doc_id", "text", 3), 0.5)
    val lm = graft.operators.NgramLm.score(cur2,
      graft.operators.NgramLm.train(cur2.filter($"doc_id" < 5000L),
        prepare = persist))
    val man = CurationQueries.webCurationManifest(cur2, pairs,
      Some(spans), lmScores = Some(lm),
      lmMaxAvgMillibits = CapLmMaxAvgMillibits)
    val kept = persist(cur2.join(
      man.filter($"keep" === 1L).select($"doc_id"), Seq("doc_id")))
    // 8: BPE token counts -> prefix-sum packing at budget 1024
    val packable = kept.select($"doc_id",
      graft.operators.Bpe.tokenCount(
        graft.operators.Bpe.encode($"text")).as("n_tok"))
    val packed = cutFinal(QueryCaches.hold(graft.operators.Packing
      .packByBudget(packable, "doc_id", "n_tok", 1024L))
      .join(kept.select($"doc_id", md5($"text").as("text_md5")), Seq("doc_id"))
      .select($"doc_id", $"n_tok", $"pack_id", $"text_md5"))
      .orderBy($"doc_id")
    CapstoneStages(corpus, bench, extracted, c4Audit, cleaned, cur, spans,
      contaminated, cur2, man, kept, packed)
  }

  /** q226's per-(pred_lang, bucket) token budgets — sized BELOW every
    * cell's token mass on the deterministic fixture (measured masses
    * 1736-4908 tokens per cell), so the mixing stage provably drops an
    * over-budget tail in each non-empty cell (the mix casualty class).
    */
  private[graft] val MultiHeadBudget = 400L
  private[graft] val MultiMiddleBudget = 250L
  private[graft] val MultiTailBudget = 120L

  /** q226's route threshold in milli-bits PER GRAM (margin divided by
    * the document's bigram count): the q222 ABSOLUTE margin cut is
    * right for a fixed-length fixture, but an unnormalized margin grows
    * linearly with document length — a long mixed-language page would
    * clear any absolute cut a short pure page also clears. fastText
    * thresholds a normalized confidence for exactly this reason.
    * Measured on the deterministic fixture: the planted mixed en/es
    * page scores 203 milli-bits/gram, every pure page >= 4032 — 1000
    * (one bit of margin per character bigram) sits mid-gap with >= 4x
    * air on both sides, and both engines compare the same exact
    * integers (margin >= threshold * (len - 1), never a division).
    */
  private[graft] val RoutePerGramMillibits = 1000L

  /** Every intermediate frame of the q226 LID-routed multilingual
    * chain (the [[CapstoneStages]] discipline: the gated row and
    * CapstoneSpec drive ONE copy; the oracle replays it in SQL).
    * `pred` is the FULL prediction frame (pre-threshold) so the spec
    * can read the routing casualty's margin directly.
    */
  private[graft] final case class MultiStages(
      corpus: DataFrame, extracted: DataFrame, cleaned: DataFrame,
      cur: DataFrame, pred: DataFrame, routed: DataFrame,
      tagged: DataFrame, mixIn: DataFrame, allocDir: String,
      mixed: DataFrame)

  private val multiStagesCache = QueryCaches.memo[SparkSession, MultiStages]()
  private[graft] def multiStages(s: SparkSession): MultiStages =
    multiStagesCache(s)(buildMultiStages(s))

  /** The q226 chain's stage functions — ONE copy shared by the memoized
    * fixture build ([[buildMultiStages]]) and the dir-parameterized
    * deployment driver ([[graft.CorpusBuildJob]]), so the gated row and
    * the job cannot drift (the nbTrainCtes oracle discipline applied to
    * the Spark side). Each function is a pure frame transform; the two
    * callers differ only in WHERE stage outputs live (session-persisted
    * frames here; partitioned lake tables + artifact dirs in the job).
    */
  private[graft] object MultiChain {
    import graft.operators._

    /** Demux WARC shard blobs into (doc_id, html) pages — at deployment
      * the blobs come from a `binaryFile` scan over `*.warc.gz` files
      * (the [[graft.sources.Warc]] documented scan shape: one scalar
      * per-file demux, embarrassingly parallel, no shuffle); the
      * fixture path muxes shards in-session first.
      */
    def pagesFromBlobs(s: SparkSession,
                       blobs: org.apache.spark.sql.Dataset[Array[Byte]])
        : DataFrame = {
      import s.implicits._
      blobs.flatMap { blob =>
        graft.sources.Warc.parseShard(blob).map { r =>
          (r.url.substring(r.url.lastIndexOf('/') + 1).toLong,
            graft.sources.Warc.parseHttp(r.payload).body)
        }
      }.toDF("doc_id", "html")
    }

    /** Mux `(doc_id, text)` docs into ONE `.warc.gz` shard blob under
      * the capstone page template — the fixture-side inverse of
      * [[pagesFromBlobs]], shared by the memoized build and by specs
      * writing real shard FILES for [[graft.CorpusBuildJob]]. Records
      * are id-sorted inside the shard (deterministic blob bytes).
      */
    def muxShard(recs: Seq[(Long, String)]): Array[Byte] =
      graft.sources.Warc.buildShard(recs.sortBy(_._1).map { case (id, text) =>
        (id, graft.sources.Warc.httpMessage(
          CapstoneFixture.PagePrefix + text.replace("\n", "<br>") +
            CapstoneFixture.PageSuffix))
      })

    /** Stage 2: line-preserving extraction (htmlTextLines — the
      * `<br>`-split variant the C4 line rules need).
      */
    def extract(pages: DataFrame): DataFrame =
      pages.select(col("doc_id"),
        graft.functions.TextFns.htmlTextLines(col("html")).as("text"))

    /** Stage 3: C4 line clean (same rules as the q220 stage). */
    def c4Clean(extracted: DataFrame): DataFrame =
      extracted
        .select(col("doc_id"), col("text"),
          graft.functions.TextFns.c4KeptLines(col("text")).as("kept"))
        .filter(size(col("kept")) >= 3
          && !lower(col("text")).contains("lorem ipsum")
          && !col("text").contains("{"))
        .select(col("doc_id"), array_join(col("kept"), "\n").as("text"))

    /** Stage 4: NFC canonicalize + md5 exact-dedup election (min doc_id
      * survives) — dedup runs BEFORE LID so the router scores canonical
      * text once.
      */
    def nfcDedup(cleaned: DataFrame): DataFrame =
      Dedup.exactDedup(
          cleaned.select(col("doc_id"),
              graft.functions.NfcNormalize(col("text")).as("text"))
            .withColumn("__k", md5(col("text"))),
          Seq("__k"), Seq(col("doc_id")))
        .drop("__k")

    /** Stage 5: confidence routing under the LENGTH-NORMALIZED q222
      * rule (see [[RoutePerGramMillibits]]) — low-confidence docs drop.
      */
    def route(cur: DataFrame, pred: DataFrame): DataFrame =
      cur.join(pred.select(col("doc_id"), col("pred_lang"),
          col("margin_millibits")), Seq("doc_id"))
        // margin >= threshold * (len - 1): exact integers, never a
        // division. Degenerate edge (documented, unreachable): at
        // length <= 1 the right side is <= 0 and the comparison is
        // vacuously true — an empty/one-char doc would route IN rather
        // than to 'und'. The chain guarantees length >> 1 before this
        // stage (C4 keeps only docs with >= 3 lines of >= 5 words),
        // and the oracle replays the identical formula, so the edge
        // can neither fire nor diverge here.
        .filter(col("margin_millibits") >=
          lit(RoutePerGramMillibits) * (length(col("text")) - 1))

    /** Stage 6a: the self-trained bigram LM over the routed corpus. */
    def lmModel(routed: DataFrame,
                prepare: DataFrame => DataFrame): NgramLm.Model =
      NgramLm.train(routed, prepare = prepare)

    /** Stage 6b: `(doc_id, lang = pred_lang, avg_millibits)` — the
      * tercile machinery keyed on the PREDICTED language.
      */
    def scoredFrame(routed: DataFrame, lm: NgramLm.Model): DataFrame =
      routed.select(col("doc_id"), col("pred_lang").as("lang"))
        .join(NgramLm.score(routed, lm)
          .select(col("doc_id"), col("avg_millibits")), Seq("doc_id"))

    /** Stage 6c/d: per-language tercile cuts + the bucket tag. */
    def cuts(scored: DataFrame): DataFrame =
      CurationQueries.ccnetCuts(scored)
    def tagged(scored: DataFrame, cutTable: DataFrame): DataFrame =
      CurationQueries.ccnetTag(scored, cutTable)

    /** Stage 7a: the |cells|-row (lang, bucket) -> token_budget table —
      * the DECISION the allocation artifact persists (budgets sized
      * below every cell's fixture token mass; see [[MultiHeadBudget]]).
      */
    def budgetCells(tagged: DataFrame): DataFrame =
      tagged.select(col("lang"), col("bucket")).distinct()
        .withColumn("token_budget",
          when(col("bucket") === "head", MultiHeadBudget)
            .when(col("bucket") === "middle", MultiMiddleBudget)
            .otherwise(MultiTailBudget))

    /** Stage 7b: the mix input — tag columns + routing margin + BPE
      * token counts (the units the budgets are denominated in).
      */
    def mixInput(tagged: DataFrame, routed: DataFrame): DataFrame =
      tagged.join(routed.select(col("doc_id"), col("margin_millibits"),
        Bpe.tokenCount(Bpe.encode(col("text"))).as("n_tok")), Seq("doc_id"))

    /** Stage 7c: token-budget selection under the PERSISTED allocation
      * (seed + budgets + tokenizer fingerprint replay from the artifact
      * — [[Sampling.sampleWithAllocation]] refuses every skew by name).
      */
    def mixed(mixIn: DataFrame, alloc: Sampling.Allocation): DataFrame =
      Sampling.sampleWithAllocation(mixIn, alloc, "doc_id", "n_tok")
        .select(col("doc_id"), col("lang").as("pred_lang"),
          col("margin_millibits"), col("avg_millibits"), col("bucket"),
          col("n_tok"), col("tokens_before"))

    /** Stage 7c under the CUMULATIVE spend ledger (the global-budget
      * reading, VERDICT r19 #2): identical selection machinery, but
      * each cell's effective budget is the PERSISTED budget minus the
      * tokens prior runs/waves already spent under this allocation —
      * [[Sampling.sampleWithAllocationRemaining]].
      */
    def mixedCumulative(mixIn: DataFrame, alloc: Sampling.Allocation,
                        spent: DataFrame): DataFrame =
      Sampling.sampleWithAllocationRemaining(mixIn, alloc, "doc_id", "n_tok",
          spent, "spent_tokens")
        .select(col("doc_id"), col("lang").as("pred_lang"),
          col("margin_millibits"), col("avg_millibits"), col("bucket"),
          col("n_tok"), col("tokens_before"))

    /** The per-doc duplicated-character permille over a span table —
      * ONE copy of the formula shared by the initial build's and every
      * wave's manifest (and replayed verbatim by the q228 oracle).
      */
    def dupPermille(cur: DataFrame, spans: DataFrame): DataFrame =
      cur.select(col("doc_id"),
          length(col("text")).cast("long").as("total_chars"))
        .join(spans.groupBy(col("doc_id"))
          .agg(sum(col("span_len")).as("dup_chars")), Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("total_chars") === 0L, 0L)
            .otherwise(expr("(coalesce(dup_chars, 0L) * 1000) div total_chars"))
            .as("dup_permille"))

    /** The per-doc keep manifest — the q228 audit surface with ONE copy
      * of the keep rule (`contaminated == 0 && dup_permille <= 300 &&
      * bucket != 'tail'`), shared by the initial build and every wave
      * (VERDICT r19 #3: the rule must not fork between the two).
      * `tagged` must expose (doc_id, lang, avg_millibits, bucket);
      * `contaminatedIds`, when present, is a (doc_id) set. The
      * `contaminated` column is ALWAYS present (0 with no registry) —
      * a schema that appears and disappears with the registry would
      * skew consumers.
      */
    def keepManifest(tagged: DataFrame, permille: DataFrame,
                     contaminatedIds: Option[DataFrame]): DataFrame =
      contaminatedIds
        .map(c => tagged.join(
          c.select(col("doc_id")).distinct()
            .withColumn("contaminated", lit(1L)),
          Seq("doc_id"), "left"))
        .getOrElse(tagged.withColumn("contaminated", lit(null).cast("long")))
        .withColumn("contaminated", coalesce(col("contaminated"), lit(0L)))
        .join(permille, Seq("doc_id"))
        .select(col("doc_id"), col("lang").as("pred_lang"), col("bucket"),
          col("avg_millibits"), col("dup_permille"), col("contaminated"),
          (col("contaminated") === 0L && col("dup_permille") <= 300L
            && col("bucket") =!= "tail").cast("long").as("keep"))

    /** The q226 mix seed, recorded in the allocation artifact. */
    val MixSeed = 23L
  }

  private def buildMultiStages(s: SparkSession): MultiStages = {
    import s.implicits._
    import QueryCaches.persist
    // Wenzek et al. 2020 run the published pipeline in exactly this
    // order: crawl -> extraction -> (line clean) -> dedup -> LID ->
    // per-language LM bucketing; mixing consumes the buckets. The LID
    // model is the PRETRAINED LangIdFixture artifact ([[langidModel]])
    // — in deployment fastText LID ships as a frozen model; a crawl
    // never trains its own router.
    val corpus = s.read.parquet(MultiCrawlFixture.ensure(s))
    // 1+2: WARC mux -> demux -> HTTP -> line-preserving extraction
    // (identical machinery to q220 — same template, same traps)
    val shards = corpus.select($"doc_id", $"text").as[(Long, String)]
      .groupByKey(t => Math.floorDiv(t._1, 16L))
      .mapGroups { (sid, it) => (sid, MultiChain.muxShard(it.toSeq)) }
    val pages = MultiChain.pagesFromBlobs(s, shards.map(_._2))
    val extracted = MultiChain.extract(pages)
    // 3: C4 line clean (same rules as the q220 stage)
    val cleaned = MultiChain.c4Clean(extracted)
    // 4: NFC canonicalize + md5 exact-dedup election (min id survives)
    val cur = persist(MultiChain.nfcDedup(cleaned))
    // 5: LID + confidence routing (the q222 rule, LENGTH-NORMALIZED —
    // see [[RoutePerGramMillibits]]) — low-confidence docs are 'und'
    // and DROPPED, the casualty class q220 cannot have
    val pred = persist(graft.operators.LangId.predict(cur, langidModel(s)))
    val routed = persist(MultiChain.route(cur, pred))
    // 6: per-PREDICTED-language LM terciles (self-trained on the routed
    // corpus — the q219 shape, keyed on the classifier's output)
    val scored = MultiChain.scoredFrame(routed,
      MultiChain.lmModel(routed, prepare = persist))
    val tagged = persist(MultiChain.tagged(scored, MultiChain.cuts(scored)))
    // 7: token-budget mixing keyed on (PREDICTED lang, bucket) — the
    // budgets live in a PERSISTED mixing allocation (the r17 artifact,
    // now on the composed chain's own path: cells + seed + tokenizer
    // fingerprint round-trip through the manifest-gated dir, and the
    // selection replays from the RECORDED seed — a tokenizer-skewed or
    // cell-missing allocation refuses by name inside this chain)
    val mixIn = MultiChain.mixInput(tagged, routed)
    val allocDir = QueryCaches.tempDir("mix_alloc")
    graft.operators.Sampling.saveAllocation(allocDir,
      MultiChain.budgetCells(tagged), Seq("lang", "bucket"),
      "token_budget", seed = MultiChain.MixSeed)
    // the final mix is a materialized lake table in deployment (the
    // q178/q220 memoize discipline) — and it gets the LOGICAL cut, not
    // just a persist (see cutFinal: the chain is deep enough that
    // re-planning dominated every warm read)
    val mixed = cutFinal(MultiChain.mixed(mixIn,
        graft.operators.Sampling.loadAllocation(s, allocDir)))
      .orderBy($"doc_id")
    MultiStages(corpus, extracted, cleaned, cur, pred, routed, tagged,
      mixIn, allocDir, mixed)
  }

  /** q227's pieces, exposed for the gated row and QualityClassifierSpec
    * to drive ONE copy: the supervised quality classifier (the
    * [[graft.operators.LangId]] NB machinery keyed on good/bad labels —
    * the FineWeb-Edu/DCLM stage), its prediction frame over the
    * curation corpus, and the SEVEN-signal manifest.
    */
  private[graft] final case class QualityStages(
      corpus: DataFrame, cls: DataFrame, manifest: DataFrame)

  // the trained quality model is memoized separately so the spec's
  // save/load round-trip can reuse it without rebuilding the manifest
  private val qualityModelCache =
    QueryCaches.memo[SparkSession, graft.operators.LangId.Model]()
  private[graft] def qualityModel(s: SparkSession): graft.operators.LangId.Model =
    qualityModelCache(s) {
      val fx = s.read.parquet(QualityFixture.ensure(s))
      graft.operators.LangId.train(
        fx.filter(col("doc_id") >= 30000L), langCol = "label", n = 2,
        prepare = QueryCaches.persist)
    }

  private val qualityStagesCache = QueryCaches.memo[SparkSession, QualityStages]()
  private[graft] def qualityStages(s: SparkSession): QualityStages =
    qualityStagesCache(s)(buildQualityStages(s))

  private def buildQualityStages(s: SparkSession): QualityStages = {
    import s.implicits._
    import QueryCaches.persist
    val fx = s.read.parquet(QualityFixture.ensure(s))
    // the corpus under curation; its `label` slot carries the language
    // column the manifest records — the good/bad labels live ONLY on
    // the training block (>= 30000), which never enters the manifest
    val corpus = persist(fx.filter($"doc_id" < 9000L)
      .withColumnRenamed("label", "lang"))
    // classifier predictions: pred 'good'/'bad' + margin as the GRADE
    // (FineWeb-Edu publishes a graded score and thresholds it; here the
    // margin in exact integer milli-bits is the grade)
    val cls = persist(graft.operators.LangId.predict(corpus, qualityModel(s)))
    val pairs = graft.operators.Dedup.jaccardPairs(
      graft.operators.Dedup.shingleSets(corpus, "doc_id", "text", 3), 0.5)
    val spans = graft.operators.SubstrDedup.dupSpans(corpus)
    val lm = graft.operators.NgramLm.score(corpus,
      graft.operators.NgramLm.train(corpus, prepare = persist))
    val man6 = CurationQueries.webCurationManifest(corpus, pairs,
      Some(spans), lmScores = Some(lm))
    // the classifier joins as the SEVENTH recorded signal: label +
    // margin ride the manifest, keep additionally requires pred 'good'
    val manifest = cutFinal(man6
      .join(cls.select($"doc_id", $"pred_lang".as("cls_label"),
        $"margin_millibits".as("cls_margin")), Seq("doc_id"))
      .withColumn("keep",
        (($"keep" === 1L) && ($"cls_label" === "good")).cast("long"))
      .select($"doc_id", $"lang", $"n_words", $"pass_gate", $"has_pii",
        $"is_victim", $"substr_permille", $"avg_millibits",
        $"cls_label", $"cls_margin", $"keep", $"split"))
      .orderBy($"doc_id")
    QualityStages(corpus, cls, manifest)
  }

  /** q230's frame: the DEPLOYMENT DRIVER's mixed table — the fixture
    * muxed into real `.warc.gz` shard FILES, [[graft.CorpusBuildJob]]
    * run over them with a persisted router artifact into a session
    * lake, and the final lake table read back. Memoized + cut like the
    * other composition finals (in deployment this IS a materialized
    * lake table; the build runs once per session, honest in bench
    * rep 1). The shards/LID/lake dirs are [[QueryCaches.tempDir]]s,
    * deleted by [[QueryCaches.clear]].
    */
  private val jobMixedCache = QueryCaches.memo[SparkSession, DataFrame]()
  private[graft] def jobMixed(s: SparkSession): DataFrame =
    jobMixedCache(s)(buildJobMixed(s))

  // the shard FILES and the persisted router artifact, shared by the
  // q230 and q231 job builds (one mux, one model save per session)
  private val jobInputsCache = QueryCaches.memo[SparkSession, (String, String)]()
  private def jobInputs(s: SparkSession): (String, String) = jobInputsCache(s) {
    import s.implicits._
    val shardsDir = QueryCaches.tempDir("job_shards")
    val docs = s.read.parquet(MultiCrawlFixture.ensure(s))
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
    docs.groupBy(d => Math.floorDiv(d._1, 16L)).foreach { case (sid, recs) =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(shardsDir, f"shard-$sid%05d.warc.gz"),
        MultiChain.muxShard(recs))
    }
    val lidDir = QueryCaches.tempDir("job_lid")
    graft.operators.LangId.save(langidModel(s), lidDir)
    (shardsDir, lidDir)
  }

  private def readBackMixed(s: SparkSession, lakeDir: String): DataFrame = {
    import s.implicits._
    cutFinal(s.read.parquet(s"$lakeDir/mixed")
      .select($"doc_id", $"pred_lang", $"margin_millibits",
        $"avg_millibits", $"bucket", $"n_tok", $"tokens_before"))
      .orderBy($"doc_id")
  }

  private def buildJobMixed(s: SparkSession): DataFrame = {
    val (shardsDir, lidDir) = jobInputs(s)
    val lakeDir = QueryCaches.tempDir("job_lake")
    graft.CorpusBuildJob.run(s, shardsDir, lakeDir, lidDir)
    readBackMixed(s, lakeDir)
  }

  /** q231's frame: the deployment driver run WITH a benchmark registry
    * — the registry itself DERIVED from the fixture (doc 9000001
    * quotes lines 2-3 of fixture doc 1000 verbatim, written as a real
    * parquet registry dir), so the oracle can re-derive both the
    * registry and the contamination from the raw fixture alone. The
    * lake is separate from q230's (same shards, same router): the pair
    * brackets the `benchDir` seam — a decontamination defect mismatches
    * exactly one of the two rows.
    */
  private val jobDecontamCache = QueryCaches.memo[SparkSession, DataFrame]()
  private[graft] def jobDecontamMixed(s: SparkSession): DataFrame =
    jobDecontamCache(s)(buildJobDecontamMixed(s))

  private def buildJobDecontamMixed(s: SparkSession): DataFrame = {
    import s.implicits._
    val (shardsDir, lidDir) = jobInputs(s)
    val benchDir = QueryCaches.tempDir("job_bench")
    // lines 2-3 (1-based) of fixture doc 1000 — the same derivation the
    // oracle's jbench CTE replays with (STRING_SPLIT(text))[2:3]
    s.read.parquet(MultiCrawlFixture.ensure(s))
      .filter($"doc_id" === 1000L)
      .select(lit(9000001L).as("doc_id"),
        array_join(slice(split($"text", "\n"), 2, 2), "\n").as("text"))
      .write.mode("overwrite").parquet(benchDir)
    val lakeDir = QueryCaches.tempDir("job_lake_dc")
    graft.CorpusBuildJob.run(s, shardsDir, lakeDir, lidDir,
      benchDir = Some(benchDir))
    readBackMixed(s, lakeDir)
  }

  /** q229's keep threshold on the published INTEGER grade: keep means
    * `grade >= 2` on the 0..3 scale (the FineWeb-Edu shape — they
    * publish a 0-5 educational score and threshold it; a binary gate
    * cannot express "keep the top two grades").
    */
  private[graft] val GradedKeepMinGrade = 2L

  /** q229's pieces (the [[QualityStages]] discipline): the GRADED
    * quality classifier — the same label-agnostic NB kernel, now with
    * FOUR grade classes — its prediction frame, and the manifest whose
    * keep thresholds the integer grade.
    */
  private[graft] final case class GradedStages(
      corpus: DataFrame, cls: DataFrame, manifest: DataFrame)

  private val gradedModelCache =
    QueryCaches.memo[SparkSession, graft.operators.LangId.Model]()
  private[graft] def gradedModel(s: SparkSession): graft.operators.LangId.Model =
    gradedModelCache(s) {
      val fx = s.read.parquet(GradedQualityFixture.ensure(s))
      graft.operators.LangId.train(
        fx.filter(col("doc_id") >= 30000L), langCol = "label", n = 2,
        prepare = QueryCaches.persist)
    }

  private val gradedStagesCache = QueryCaches.memo[SparkSession, GradedStages]()
  private[graft] def gradedStages(s: SparkSession): GradedStages =
    gradedStagesCache(s)(buildGradedStages(s))

  private def buildGradedStages(s: SparkSession): GradedStages = {
    import s.implicits._
    import QueryCaches.persist
    val fx = s.read.parquet(GradedQualityFixture.ensure(s))
    val corpus = persist(fx.filter($"doc_id" < 9000L)
      .withColumnRenamed("label", "lang"))
    // predictions over the 4-class model: the predicted label IS the
    // integer grade (cast exactly on both engines), the margin the
    // classifier's confidence in it
    val cls = persist(graft.operators.LangId.predict(corpus, gradedModel(s)))
    val pairs = graft.operators.Dedup.jaccardPairs(
      graft.operators.Dedup.shingleSets(corpus, "doc_id", "text", 3), 0.5)
    val spans = graft.operators.SubstrDedup.dupSpans(corpus)
    val lm = graft.operators.NgramLm.score(corpus,
      graft.operators.NgramLm.train(corpus, prepare = persist))
    val man6 = CurationQueries.webCurationManifest(corpus, pairs,
      Some(spans), lmScores = Some(lm))
    val manifest = cutFinal(man6
      .join(cls.select($"doc_id",
        $"pred_lang".cast("long").as("cls_grade"),
        $"margin_millibits".as("cls_margin")), Seq("doc_id"))
      .withColumn("keep",
        (($"keep" === 1L) && ($"cls_grade" >= GradedKeepMinGrade))
          .cast("long"))
      .select($"doc_id", $"lang", $"n_words", $"pass_gate", $"has_pii",
        $"is_victim", $"substr_permille", $"avg_millibits",
        $"cls_grade", $"cls_margin", $"keep", $"split"))
      .orderBy($"doc_id")
    GradedStages(corpus, cls, manifest)
  }

  /** q228's frames: the wave-1 state-build outputs (what a prior
    * session left behind), the incremental-pass intermediates, and the
    * final two-wave manifest — exposed so the gated row and
    * IncrementalWaveSpec drive ONE copy. `tokSpansW1` is the wave-1
    * contamination record BEFORE the late benchmark arrives (the spec
    * proves doc 106 flips retroactively).
    */
  private[graft] final case class IncrementalStages(
      wave1: DataFrame, wave2: DataFrame, bench1: DataFrame,
      bench2: DataFrame, anchors1: DataFrame, winIdx1: DataFrame,
      lidDir: String, pairDir: String, tokSpansW1: DataFrame,
      spansInc: DataFrame, tokSpansNewBench: DataFrame,
      finalSpans: DataFrame, manifest: DataFrame)

  private val incStagesCache = QueryCaches.memo[SparkSession, IncrementalStages]()
  private[graft] def incrementalStages(s: SparkSession): IncrementalStages =
    incStagesCache(s)(buildIncrementalStages(s))

  private def buildIncrementalStages(s: SparkSession): IncrementalStages = {
    import s.implicits._
    import QueryCaches.persist
    val fx = s.read.parquet(IncrementalFixture.ensure(s))
    val wave1 = persist(fx.filter($"doc_id" < 1000L).select($"doc_id", $"text"))
    val wave2 = persist(fx.filter($"doc_id" >= 1000L && $"doc_id" < 9000L)
      .select($"doc_id", $"text"))
    val bench1 = fx.filter($"doc_id" >= 9000L && $"doc_id" < 9500L)
      .select($"doc_id", $"text")
    val bench2 = fx.filter($"doc_id" >= 9500L).select($"doc_id", $"text")

    // ---- SESSION 1 (the state build a prior ingest left behind) ----
    // Every derived state persists through its OWN artifact discipline:
    // the LID model and the CCNet pair go to manifest-gated dirs; the
    // anchor table and the token-window index are the lake tables their
    // operators document as the incremental state.
    val lidDir = QueryCaches.tempDir("incr_lid")
    graft.operators.LangId.save(langidModel(s), lidDir)
    val anchors1 = persist(graft.operators.SubstrDedup.anchors(wave1))
    val winIdx1 = persist(graft.operators.TokenDecontam.tokenWindowIndex(wave1))
    val spansW1 = persist(graft.operators.SubstrDedup.dupSpans(wave1))
    val tokSpansW1 = persist(graft.operators.TokenDecontam
      .contaminationTokenSpans(wave1, bench1))
    // wave-1 routing + the FROZEN serving pair: LID pred keys the cut
    // estimation (the q226 rule — terciles per PREDICTED language), and
    // the pair persists model + cuts together (the CcnetServing shape)
    val lid1 = graft.operators.LangId.load(s, lidDir)
    graft.operators.LangId.requireCompatible(lid1, 2)
    val predW1 = persist(graft.operators.LangId.predict(wave1, lid1)
      .select($"doc_id", $"pred_lang"))
    val lmModel1 = graft.operators.NgramLm.train(wave1, prepare = persist)
    val scoredW1 = wave1.join(predW1, Seq("doc_id"))
      .select($"doc_id", $"pred_lang".as("lang"))
      .join(graft.operators.NgramLm.score(wave1, lmModel1)
        .select($"doc_id", $"avg_millibits"), Seq("doc_id"))
    val pairDir = QueryCaches.tempDir("incr_pair")
    graft.operators.CcnetServing.save(pairDir,
      graft.operators.TextModelSeam.localize(lmModel1),
      CurationQueries.ccnetCuts(scoredW1))

    // ---- THE INCREMENTAL PASS (wave 2 + the late benchmark) --------
    // Wave 1 is touched ONLY through its persisted states; every state
    // guard (anchor norm bit, window length n, tokenizer fingerprint,
    // model-cuts pairing, LID format/version/n) is crossed live here.
    val pair = graft.operators.CcnetServing.load(s, pairDir)
    val lid2 = graft.operators.LangId.load(s, lidDir)
    graft.operators.LangId.requireCompatible(lid2, 2)
    val predW2 = persist(graft.operators.LangId.predict(wave2, lid2)
      .select($"doc_id", $"pred_lang"))
    val spansInc = persist(graft.operators.SubstrDedup.dupSpansAgainst(
      wave2, wave1, anchors1))
    val finalSpans = persist(graft.operators.SubstrDedup.mergeSpans(
      spansW1.unionByName(spansInc)))
    val tokSpansNewBench = persist(graft.operators.TokenDecontam
      .contaminationTokenSpansAgainst(bench2, winIdx1))
    val tokSpansW2 = graft.operators.TokenDecontam
      .contaminationTokenSpans(wave2, bench1.unionByName(bench2))
    val contaminated = tokSpansW1.select($"doc_id")
      .unionByName(tokSpansNewBench.select($"doc_id"))
      .unionByName(tokSpansW2.select($"doc_id"))
      .distinct().withColumn("contaminated", lit(1L))
    // both waves tagged with the ONE frozen pair (wave 1's tags were
    // recorded in session 1 with the same pair; recomputing them here
    // from the loaded artifact is bit-identical — CcnetPairSpec)
    val mk = graft.operators.CcnetServing.scorerFactory(pairDir)
    val docsAll = wave1.unionByName(wave2)
    val predAll = predW1.unionByName(predW2)
    val tagged = graft.operators.CcnetServing.tag(s,
      docsAll.join(predAll, Seq("doc_id"))
        .select($"doc_id", $"pred_lang".as("lang"), $"text"),
      pair.cuts, mk)
    val permille = docsAll
      .select($"doc_id", length($"text").cast("long").as("total_chars"))
      .join(finalSpans.groupBy($"doc_id")
        .agg(sum($"span_len").as("dup_chars")), Seq("doc_id"), "left")
      .select($"doc_id",
        when($"total_chars" === 0L, 0L)
          .otherwise(expr("(coalesce(dup_chars, 0L) * 1000) div total_chars"))
          .as("dup_permille"))
    val manifest = tagged
      .join(permille, Seq("doc_id"))
      .join(contaminated, Seq("doc_id"), "left")
      .withColumn("contaminated", coalesce($"contaminated", lit(0L)))
      .select($"doc_id",
        when($"doc_id" < 1000L, 1L).otherwise(2L).as("wave"),
        $"lang".as("pred_lang"), $"bucket", $"avg_millibits",
        $"dup_permille", $"contaminated",
        ($"contaminated" === 0L && $"dup_permille" <= 300L &&
          $"bucket" =!= "tail").cast("long").as("keep"))
    IncrementalStages(wave1, wave2, bench1, bench2, anchors1, winIdx1,
      lidDir, pairDir, tokSpansW1, spansInc, tokSpansNewBench, finalSpans,
      cutFinal(manifest).orderBy($"doc_id"))
  }

  /** The NB-classifier TRAINING replay as body-only CTEs, generalized
    * over the labeled source, the LABEL column, and a CTE prefix so the
    * language family (q219/q222/q226) and any other labeled NB tier
    * (the q227 quality classifier) share ONE kernel and can never
    * drift (the HtmlOracleSql discipline). `trainSource` must expose
    * `($labelCol, text)`; emits `${p}cnt` (label, gram, count),
    * `${p}tot` (label totals), `${p}voc` (global gram vocabulary).
    * The label column is aliased to `lang` inside — [[LangId]] is
    * label-agnostic the same way (its `langCol` parameter).
    */
  private[queries] def nbTrainCtes(trainSource: String, labelCol: String,
                                   p: String): String =
    s"""${p}tg AS (SELECT $labelCol AS lang,
                  UNNEST(LIST_TRANSFORM(RANGE(1, LENGTH(text)),
                    i -> SUBSTRING(text, i, 2))) AS g FROM $trainSource),
        ${p}cnt AS (SELECT lang, g, CAST(COUNT(*) AS BIGINT) AS c
                 FROM ${p}tg GROUP BY 1, 2),
        ${p}tot AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS tot
                 FROM ${p}cnt GROUP BY 1),
        ${p}voc AS (SELECT CAST(COUNT(DISTINCT g) AS BIGINT) AS v FROM ${p}tg)"""

  /** The NB-classifier SCORING replay: argmin with the (total, label)
    * tie-break and the runner-up margin over `scoreSource` (doc_id,
    * text), against a model trained by [[nbTrainCtes]] under prefix
    * `tp`. Emits `${p}pred` (doc_id, lang, margin_millibits).
    */
  private[queries] def nbScoreCtes(scoreSource: String, p: String,
                                   tp: String): String =
    s"""${p}dg AS (SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS k
                FROM (SELECT doc_id, UNNEST(LIST_TRANSFORM(RANGE(1, LENGTH(text)),
                        i -> SUBSTRING(text, i, 2))) AS g FROM $scoreSource) t
                GROUP BY 1, 2),
        ${p}persc AS (
          SELECT ids.doc_id, t.lang,
                 CAST(COALESCE(SUM(k * (${OracleCtes.milliLog2("tot + v")}
                   - ${OracleCtes.milliLog2("COALESCE(c.c, 0) + 1")})), 0) AS BIGINT) AS total
          FROM (SELECT doc_id FROM $scoreSource) ids
          CROSS JOIN ${tp}tot t
          CROSS JOIN ${tp}voc
          LEFT JOIN ${p}dg ON ${p}dg.doc_id = ids.doc_id
          LEFT JOIN ${tp}cnt c ON c.lang = t.lang AND c.g = ${p}dg.g
          GROUP BY 1, 2),
        ${p}rank AS (SELECT doc_id, lang, total,
                         ROW_NUMBER() OVER (PARTITION BY doc_id
                           ORDER BY total, lang) AS rn
                  FROM ${p}persc),
        ${p}pred AS (SELECT r1.doc_id, r1.lang AS lang,
                         CAST(COALESCE(r2.total - r1.total, 0) AS BIGINT)
                           AS margin_millibits
                  FROM ${p}rank r1
                  LEFT JOIN ${p}rank r2 ON r1.doc_id = r2.doc_id AND r2.rn = 2
                  WHERE r1.rn = 1)"""

  /** The q219/q222 chain: LangIdFixture source + train split + the
    * shared NB kernel under prefix `l` (`lpred` has (doc_id, lang,
    * margin_millibits)).
    */
  private def langidOracleCtes: String = s"""lsrc AS (
          SELECT doc_id, lang, text
          FROM read_parquet('${LangIdFixture.Root}/*.parquet')),
        ltr AS (SELECT lang, text FROM lsrc
                WHERE doc_id % 1000 < 40 AND doc_id < 9000),
        ${nbTrainCtes("ltr", "lang", "l")},
        ${nbScoreCtes("lsrc", "l", "l")}"""

  /** q222's routing threshold: 10 bits of margin. Measured on the
    * deterministic fixture, every pure-language doc margins >= 530149
    * milli-bits while the planted edges sit at 0 (the exact tie) and
    * 5790 (the mixed doc) — the threshold separates them by two orders
    * of magnitude on each side, so the gate is structural.
    */
  private[graft] val RouteMinMarginMillibits = 10000L

  /** The q226 oracle WITH-chain, shared VERBATIM by q226 (the
    * in-session composition row) and q230 (the deployment driver row):
    * one SQL string means the two rows cannot drift from each other —
    * if the job's lake ever diverged from the memoized chain, exactly
    * one of them would hash-mismatch and name the seam. q231 (the
    * decontaminating deployment row) extends the SAME builder with
    * `decontam = true`: the registry derivation (two lines of fixture
    * doc 1000 — exactly what the Spark side writes as the registry),
    * the q220 13-token-window CTEs over the curated corpus, and the
    * mix-input exclusion — everything upstream of the mix stays the
    * one shared chain, so the three rows bracket the `benchDir` seam
    * the way q226/q230 bracket the file boundary.
    */
  private def multiCapstoneOracleSql: String =
    multiCapstoneOracle(decontam = false)

  private def multiCapstoneOracle(decontam: Boolean): String = {
    // the benchmark registry replay: doc 9000001 quotes lines 2-3 of
    // fixture doc 1000 verbatim (1-based inclusive slice — the Spark
    // side derives the registry with slice(split(text), 2, 2)); the
    // token-window machinery is the q220 oracle pattern with the
    // corpus/bench id split at 9000000
    val decontamCtes = if (!decontam) "" else s"""jbench AS (
          SELECT CAST(9000001 AS BIGINT) AS doc_id,
                 ARRAY_TO_STRING((STRING_SPLIT(text, chr(10)))[2:3], chr(10)) AS text
          FROM msrc WHERE doc_id = 1000),
        jtoksrc AS (
          SELECT doc_id, text FROM mcur
          UNION ALL
          SELECT doc_id, text FROM jbench),
        jwords AS (SELECT doc_id, pos, w FROM (
            SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w,
                   GENERATE_SUBSCRIPTS(STRING_SPLIT(text, ' '), 1) AS pos
            FROM jtoksrc) t
          WHERE LENGTH(w) > 0),
        jenc AS (SELECT doc_id, pos, ${graft.operators.Bpe.oracleEncodeSql("w")} AS e
                 FROM jwords),
        jtoks AS (SELECT doc_id, STRING_SPLIT(STRING_AGG(e, ' ' ORDER BY pos), ' ') AS ts
                  FROM jenc GROUP BY doc_id),
        jtw AS (SELECT doc_id, MD5(ARRAY_TO_STRING(ts[pos : pos + 12], ' ')) AS g
                FROM (SELECT doc_id, UNNEST(RANGE(1, GREATEST(LEN(ts) - 11, 1))) AS pos, ts
                      FROM jtoks WHERE doc_id < 9000000) t),
        jbw AS (SELECT DISTINCT MD5(ARRAY_TO_STRING(ts[pos : pos + 12], ' ')) AS g
                FROM (SELECT UNNEST(RANGE(1, GREATEST(LEN(ts) - 11, 1))) AS pos, ts
                      FROM jtoks WHERE doc_id >= 9000000) t),
        jdrop AS (SELECT DISTINCT doc_id FROM jtw JOIN jbw USING (g)),
        mtagd AS (
          SELECT mtag.* FROM mtag
          WHERE NOT EXISTS (SELECT 1 FROM jdrop d WHERE d.doc_id = mtag.doc_id)),
        """
    val mixSrc = if (decontam) "mtagd" else "mtag"
    s"""
        WITH lsrc AS (
          SELECT doc_id, lang, text
          FROM read_parquet('${LangIdFixture.Root}/*.parquet')),
        ltr AS (SELECT lang, text FROM lsrc
                WHERE doc_id % 1000 < 40 AND doc_id < 9000),
        ${nbTrainCtes("ltr", "lang", "l")},
        msrc AS (
          SELECT doc_id, text
          FROM read_parquet('${MultiCrawlFixture.Root}/*.parquet')),
        mpage AS (
          SELECT doc_id,
                 '${CapstoneFixture.PagePrefix}' || REPLACE(text, chr(10), '<br>')
                   || '${CapstoneFixture.PageSuffix}' AS html
          FROM msrc),
        mex AS (
          SELECT doc_id, ${TextQueries.HtmlOracleSql.strippedLines("html")} AS text
          FROM mpage),
        mcln AS (
          SELECT doc_id, text,
            LIST_FILTER(LIST_FILTER(LIST_TRANSFORM(STRING_SPLIT(text, chr(10)),
                x -> TRIM(x)), x -> LENGTH(x) > 0), l ->
              SUBSTR(l, LENGTH(l), 1) IN ('.', '!', '?', '"')
              AND LEN(LIST_FILTER(STRING_SPLIT(l, ' '), w -> LENGTH(w) > 0)) >= 5
              AND NOT CONTAINS(LOWER(l), 'javascript')) AS kept
          FROM mex),
        mkeep AS (
          SELECT doc_id, ARRAY_TO_STRING(kept, chr(10)) AS text
          FROM mcln
          WHERE LEN(kept) >= 3 AND NOT CONTAINS(LOWER(text), 'lorem ipsum')
            AND NOT CONTAINS(text, '{')),
        mnfc AS (SELECT doc_id, nfc_normalize(text) AS text FROM mkeep),
        mcur AS (
          SELECT doc_id, text
          FROM (SELECT doc_id, text,
                       MIN(doc_id) OVER (PARTITION BY MD5(text)) AS keeper
                FROM mnfc) n
          WHERE doc_id = keeper),
        ${nbScoreCtes("mcur", "m", "l")},
        mroute AS (
          SELECT c.doc_id, p.lang AS pred_lang, p.margin_millibits, c.text
          FROM mcur c JOIN mpred p USING (doc_id)
          WHERE p.margin_millibits >= $RoutePerGramMillibits * (LENGTH(c.text) - 1)),
        ${OracleCtes.bigramLm(trainSource = "mroute", scoreSource = "mroute")},
        mcuts AS (
          SELECT r.pred_lang,
                 QUANTILE_CONT(sc.avg_millibits, 1.0/3) AS cut_head,
                 QUANTILE_CONT(sc.avg_millibits, 2.0/3) AS cut_middle
          FROM mroute r JOIN lmsc sc USING (doc_id)
          GROUP BY 1),
        mtag AS (
          SELECT r.doc_id, r.pred_lang, r.margin_millibits, sc.avg_millibits,
                 CASE WHEN sc.avg_millibits <= c.cut_head THEN 'head'
                      WHEN sc.avg_millibits <= c.cut_middle THEN 'middle'
                      ELSE 'tail' END AS bucket
          FROM mroute r
          JOIN lmsc sc USING (doc_id)
          JOIN mcuts c USING (pred_lang)),
        ${decontamCtes}mw AS (SELECT doc_id, w FROM (
            SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w FROM mroute) t
          WHERE LENGTH(w) > 0),
        menc AS (SELECT doc_id, ${graft.operators.Bpe.oracleEncodeSql("w")} AS e
                 FROM mw),
        mtokc AS (SELECT doc_id,
                    CAST(SUM(LEN(STRING_SPLIT(e, ' '))) AS BIGINT) AS n
                  FROM menc GROUP BY doc_id),
        mmixin AS (
          SELECT t.doc_id, t.pred_lang, t.margin_millibits, t.avg_millibits,
                 t.bucket, COALESCE(k.n, 0) AS n_tok,
                 CASE t.bucket WHEN 'head' THEN $MultiHeadBudget
                               WHEN 'middle' THEN $MultiMiddleBudget
                               ELSE $MultiTailBudget END AS budget,
                 CAST(((((t.doc_id + 23) % 2147483647)
                     * ((t.doc_id + 23) % 2147483647))
                     % 2147483647 * 48271 % 2147483647 * 1000000)
                   // GREATEST(1, 1) AS BIGINT) AS priority
          FROM $mixSrc t LEFT JOIN mtokc k USING (doc_id)),
        mrun AS (
          SELECT doc_id, pred_lang, margin_millibits, avg_millibits, bucket,
                 n_tok, budget,
                 CAST(COALESCE(SUM(n_tok) OVER (
                   PARTITION BY pred_lang, bucket ORDER BY priority, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS tokens_before
          FROM mmixin)
        SELECT doc_id, pred_lang, margin_millibits, avg_millibits, bucket,
               n_tok, tokens_before
        FROM mrun
        WHERE tokens_before < budget
        ORDER BY doc_id"""
  }

  def queries: Seq[Q] = Seq(

    Q(
      "q219_langid_buckets",
      (s, _) => {   // dedicated multilingual fixture; dir arg unused
        import s.implicits._
        // IN-ENGINE LANGUAGE IDENTIFICATION ROUTING THE CCNET MACHINERY
        // (Wenzek et al. 2020 §4.2 + §4.4): stage 1 of the published
        // pipeline is a language classifier — every per-language
        // operator downstream (q214 terciles, q215 fertility) is keyed
        // by ITS output, not by a recorded column. This row runs that
        // composition end to end on the multilingual fixture: train the
        // char-bigram NB classifier on the labeled train split (i < 40
        // per language block), PREDICT over the whole corpus (held-out
        // docs + the planted edges), then key the q214 tercile
        // machinery on the PREDICTED language. The planted edges ride
        // along: doc 9901 is all-OOV (Greek script — every bigram
        // unseen by every language), and because the fixture pins every
        // train doc to exactly DocChars code points, all five language
        // totals are equal, the five scores tie EXACTLY, and the
        // deterministic struct-sort tie-break assigns the
        // alphabetically-first language with margin 0; doc 9902 is a
        // mixed en/es doc whose margin is small but nonzero — the
        // low-confidence routing signal real pipelines threshold.
        // Plan shape: the model is vocabulary-sized (broadcast both
        // tables), scoring is one scan + per-doc gram agg + one
        // (doc, lang) agg; the cut table is |languages|-row broadcast
        // and the tag map-side (the q214 scale argument, unchanged
        // under a predicted key). Oracle replays EVERYTHING: per-lang
        // count CTEs, the shared milli-log2 kernel, argmin with the
        // (total, lang) tie-break, the runner-up margin, the fixture
        // LM, and both tercile cuts per PREDICTED language.
        langidTagged(s).orderBy($"doc_id")
      },
      Some(s"""
        WITH $langidOracleCtes,
        ${OracleCtes.bigramLm(trainSource = "lsrc", scoreSource = "lsrc")},
        lcuts AS (SELECT p.lang,
                         QUANTILE_CONT(sc.avg_millibits, 1.0/3) AS cut_head,
                         QUANTILE_CONT(sc.avg_millibits, 2.0/3) AS cut_middle
                  FROM lpred p JOIN lmsc sc USING (doc_id)
                  GROUP BY 1)
        SELECT p.doc_id, p.lang, p.margin_millibits, sc.avg_millibits,
               CASE WHEN sc.avg_millibits <= c.cut_head THEN 'head'
                    WHEN sc.avg_millibits <= c.cut_middle THEN 'middle'
                    ELSE 'tail' END AS bucket
        FROM lpred p
        JOIN lmsc sc USING (doc_id)
        JOIN lcuts c USING (lang)
        ORDER BY p.doc_id"""),
      doc = "In-engine language identification routing the CCNet machinery: a char-bigram multinomial NB classifier (exact integer milli-log2 surprisal, add-one floor over the global gram vocabulary, no class prior) trained on the fixture's labeled split PREDICTS every doc's language — argmin with deterministic (total, lang) tie-break and a runner-up-margin confidence column — and the q214 per-language tercile machinery keys on the PREDICTED assignment; planted edges: an all-OOV Greek doc ties all five languages exactly (equal train totals by construction) and resolves by tie-break at margin 0, and a mixed en/es doc carries a small nonzero margin; oracle replays classifier, tie-break, margin, LM, and both tercile cuts."),

    Q(
      "q222_langid_route_confidence",
      (s, _) => {   // LangIdFixture; dir arg unused
        import s.implicits._
        // CONFIDENCE-ROUTED LID — the deployment move that makes the
        // q219 margin column load-bearing: fastText-style pipelines
        // (CCNet §4.2 keeps a page only when the classifier is
        // confident) THRESHOLD the classifier's confidence and route
        // low-confidence documents out of the per-language machinery
        // ('und' — mixed-language and unknown-script pages mis-train
        // whichever language wins the coin flip). The margin is exact
        // integer milli-bits, so the route bit replays bitwise; the
        // fixture's two planted edges (the exact tie at 0, the mixed
        // doc at 5790) land under the 10000 threshold while every pure
        // doc clears it by >= 53x — both routing outcomes are
        // exercised, and the audit columns carry the evidence. Scale
        // shape: one broadcast-model scoring scan + a map-side CASE on
        // the memoized prediction frame; no new shuffle.
        val pred = langidPred(s)
        pred.select($"doc_id", $"pred_lang", $"margin_millibits",
            when($"margin_millibits" >= RouteMinMarginMillibits, $"pred_lang")
              .otherwise("und").as("routed_lang"))
          .orderBy($"doc_id")
      },
      Some(s"""
        WITH $langidOracleCtes
        SELECT doc_id, lang AS pred_lang, margin_millibits,
               CASE WHEN margin_millibits >= $RouteMinMarginMillibits
                    THEN lang ELSE 'und' END AS routed_lang
        FROM lpred
        ORDER BY doc_id"""),
      doc = "Confidence-routed language identification (the CCNet stage-1 keep-only-if-confident move): the q219 runner-up margin thresholds at 10 bits and low-confidence docs route to 'und' instead of contaminating a per-language pipeline — the fixture's exact-tie and mixed-language edges both route out while every pure doc clears the threshold by >= 53x; shares the q219 oracle CTE chain verbatim so the two rows cannot drift."),

    Q(
      "q220_corpus_capstone",
      (s, _) => {   // dedicated capstone fixture; dir arg unused
        import s.implicits._
        // THE CORPUS-BUILD CAPSTONE: every pipeline stage this engine
        // implements, composed into ONE oracle-gated pass from crawl
        // shards to packed training sequences — the end-to-end shape of
        // C4/CCNet/RefinedWeb/FineWeb, and the row that proves the
        // STAGE BOUNDARIES (id spaces, text versions, coordinate
        // systems), not just the stages:
        //   1. MUX (q217): documents become WARC/1.0 records (lines
        //      joined by <br> inside an HTML page template carrying
        //      script/comment traps) in per-record gzip members.
        //   2. LADDER (q218): demux -> HTTP parse -> LINE-PRESERVING
        //      extraction (htmlTextLines — the <br>-split variant the
        //      C4 tier needs; plain htmlText squeezes the newlines the
        //      line rules operate on).
        //   3. C4 LINE CLEAN (q216): per-line terminal-punct/5-word/
        //      javascript rules, page-level lorem/brace/3-line rules.
        //   4. NFC EXACT DEDUP (q207/q210 lesson): md5-of-NFC election,
        //      min doc_id survives; text CANONICALIZES to NFC here —
        //      every later stage sees NFC coordinates.
        //   5. SUBSTRING SPANS (q202): the exact-substring span table
        //      over the deduped corpus (signal 5's artifact).
        //   6. TOKEN DECONTAMINATION (q213): docs sharing any 13-token
        //      BPE window with the benchmark set are DROPPED (the PaLM
        //      doc-drop stance).
        //   7. SIX-SIGNAL MANIFEST (q212): Gopher gate x PII x
        //      near-dup victim x substr-permille x LM surprisal.
        //   8. PACK (q141): BPE token counts -> distributed prefix-sum
        //      pack assignment at budget 1024.
        // The fixture plants one casualty PER stage (lines dropped;
        // lorem/brace/short pages; an NFD twin; a high-permille span
        // host; a benchmark-contaminated doc; gate/PII/victim/LM
        // failures) and the oracle predicts the FINAL packed output —
        // doc ids, exact token counts, pack ids, and the md5 of each
        // surviving text — from the raw fixture alone, re-deriving all
        // eight stages in one WITH chain. A stage-boundary bug
        // (normalized-vs-raw coordinates, a text version skew, an id
        //-space leak) surfaces as a hash mismatch here even when every
        // per-stage row still passes. CapstoneSpec drives the SAME
        // [[capstoneStages]] chain and attributes >= 1 casualty to
        // every stage by name.
        capstoneStages(s).packed
      },
      Some(s"""
        WITH RECURSIVE csrc AS (
          SELECT doc_id, lang, text
          FROM read_parquet('${CapstoneFixture.Root}/*.parquet')),
        cpage AS (
          SELECT doc_id,
                 '${CapstoneFixture.PagePrefix}' || REPLACE(text, chr(10), '<br>')
                   || '${CapstoneFixture.PageSuffix}' AS html
          FROM csrc WHERE doc_id < 9000),
        cex AS (
          SELECT doc_id, ${TextQueries.HtmlOracleSql.strippedLines("html")} AS text
          FROM cpage),
        ccln AS (
          SELECT doc_id, text,
            LIST_FILTER(LIST_FILTER(LIST_TRANSFORM(STRING_SPLIT(text, chr(10)),
                x -> TRIM(x)), x -> LENGTH(x) > 0), l ->
              SUBSTR(l, LENGTH(l), 1) IN ('.', '!', '?', '"')
              AND LEN(LIST_FILTER(STRING_SPLIT(l, ' '), w -> LENGTH(w) > 0)) >= 5
              AND NOT CONTAINS(LOWER(l), 'javascript')) AS kept
          FROM cex),
        ckeepc4 AS (
          SELECT doc_id, ARRAY_TO_STRING(kept, chr(10)) AS text
          FROM ccln
          WHERE LEN(kept) >= 3 AND NOT CONTAINS(LOWER(text), 'lorem ipsum')
            AND NOT CONTAINS(text, '{')),
        cnfc AS (SELECT doc_id, nfc_normalize(text) AS text FROM ckeepc4),
        ccur AS (
          SELECT n.doc_id, s.lang, n.text
          FROM (SELECT doc_id, text,
                       MIN(doc_id) OVER (PARTITION BY MD5(text)) AS keeper
                FROM cnfc) n
          JOIN csrc s USING (doc_id)
          WHERE n.doc_id = n.keeper),
        ${DedupQueries.substrSpansCte(source = "ccur", docsName = "sdocs")},
        ctoksrc AS (
          SELECT doc_id, text FROM ccur
          UNION ALL
          SELECT doc_id, text FROM csrc WHERE doc_id >= 9000),
        cwords AS (SELECT doc_id, pos, w FROM (
            SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w,
                   GENERATE_SUBSCRIPTS(STRING_SPLIT(text, ' '), 1) AS pos
            FROM ctoksrc) t
          WHERE LENGTH(w) > 0),
        cenc AS (SELECT doc_id, pos, ${graft.operators.Bpe.oracleEncodeSql("w")} AS e
                 FROM cwords),
        ctoks AS (SELECT doc_id, STRING_SPLIT(STRING_AGG(e, ' ' ORDER BY pos), ' ') AS ts
                  FROM cenc GROUP BY doc_id),
        ctw AS (SELECT doc_id, MD5(ARRAY_TO_STRING(ts[pos : pos + 12], ' ')) AS g
                FROM (SELECT doc_id, UNNEST(RANGE(1, GREATEST(LEN(ts) - 11, 1))) AS pos, ts
                      FROM ctoks WHERE doc_id < 9000) t),
        cbw AS (SELECT DISTINCT MD5(ARRAY_TO_STRING(ts[pos : pos + 12], ' ')) AS g
                FROM (SELECT UNNEST(RANGE(1, GREATEST(LEN(ts) - 11, 1))) AS pos, ts
                      FROM ctoks WHERE doc_id >= 9000) t),
        cdrop AS (SELECT DISTINCT doc_id FROM ctw JOIN cbw USING (g)),
        ccur2 AS (
          SELECT c.doc_id, c.lang, c.text FROM ccur c
          WHERE NOT EXISTS (SELECT 1 FROM cdrop x WHERE x.doc_id = c.doc_id)),
        ${OracleCtes.jaccardReach(source = "ccur2")},
        ${OracleCtes.victims},
        ${OracleCtes.gopherGate("ccur2", Seq("doc_id", "lang"))},
        ${OracleCtes.piiCounted("ccur2")},
        ${OracleCtes.bigramLm(
          trainSource = "(SELECT doc_id, text FROM ccur2 WHERE doc_id < 5000) lmref",
          scoreSource = "ccur2")},
        csperm AS (
          SELECT c.doc_id,
                 CASE WHEN LENGTH(c.text) = 0 THEN CAST(0 AS BIGINT)
                      ELSE CAST(COALESCE(SUM(x.span_len), 0) AS BIGINT) * 1000 // LENGTH(c.text)
                 END AS substr_permille
          FROM ccur2 c LEFT JOIN spansx x USING (doc_id)
          GROUP BY c.doc_id, c.text),
        ckept AS (
          SELECT c.doc_id, c.text
          FROM ccur2 c
          JOIN gate g ON c.doc_id = g.doc_id
          JOIN pii_counted p ON c.doc_id = p.doc_id
          LEFT JOIN victims v ON c.doc_id = v.doc_id
          JOIN csperm sp ON c.doc_id = sp.doc_id
          JOIN lmsc lm ON c.doc_id = lm.doc_id
          WHERE g.pass_gate = 1
            AND (p.email_count + p.ip_count + p.phone_count + p.ssn_count
                 + p.iban_count + p.cc_count) = 0
            AND v.doc_id IS NULL
            AND sp.substr_permille <= 300
            AND lm.avg_millibits <= $CapLmMaxAvgMillibits),
        cpw AS (SELECT doc_id, w FROM (
            SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w FROM ckept) t
          WHERE LENGTH(w) > 0),
        cpenc AS (SELECT doc_id, ${graft.operators.Bpe.oracleEncodeSql("w")} AS e
                  FROM cpw),
        cpcnt AS (SELECT doc_id,
                    CAST(SUM(LEN(STRING_SPLIT(e, ' '))) AS BIGINT) AS n
                  FROM cpenc GROUP BY doc_id),
        cpackable AS (
          SELECT k.doc_id, COALESCE(c.n, 0) AS n_tok, MD5(k.text) AS text_md5
          FROM ckept k LEFT JOIN cpcnt c USING (doc_id))
        SELECT doc_id, n_tok,
               CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 1024 AS BIGINT) AS pack_id,
               text_md5
        FROM cpackable
        ORDER BY doc_id"""),
      doc = "The corpus-build capstone: crawl mux (WARC/HTTP/HTML with script+comment traps) -> line-preserving extraction -> C4 line clean -> NFC canonicalization + exact dedup -> substring span table -> 13-token BPE decontamination against a benchmark set -> six-signal manifest -> prefix-sum packing at budget 1024, ALL in one gated pass whose final packed output (doc ids, exact token counts, pack ids, surviving-text md5) the oracle re-derives from the raw fixture through every stage — the row where a stage-boundary bug (text-version skew, coordinate mismatch, id-space leak) becomes a hash mismatch; the fixture plants at least one casualty per stage."),

    Q(
      "q226_multilingual_capstone",
      (s, _) => {   // dedicated multilingual crawl fixture; dir arg unused
        // THE LID-ROUTED MULTILINGUAL CORPUS BUILD — the composition
        // seam q220 structurally cannot exercise: its corpus is
        // English-only with a RECORDED lang column, while the published
        // pipeline (Wenzek et al. 2020 §4.2) runs language
        // identification BEFORE every per-language decision. This row
        // starts a multilingual crawl from raw WARC shards and routes
        // everything downstream through the classifier's OUTPUT:
        //   1+2. WARC mux -> demux -> HTTP -> line-preserving
        //        extraction (the q217/q218 machinery, UTF-8 payloads —
        //        CJK and combining marks survive the byte leg);
        //   3.   C4 line clean (page + line casualties planted);
        //   4.   NFC canonicalize + md5 exact-dedup election (the NFD
        //        twin casualty — dedup must run BEFORE LID so the
        //        router scores canonical text once);
        //   5.   LID + CONFIDENCE ROUTING (q219's classifier — the
        //        PRETRAINED LangIdFixture artifact, never trained on
        //        the crawl — thresholded by the LENGTH-NORMALIZED
        //        q222 rule, RoutePerGramMillibits): the planted mixed
        //        en/es page scores 203 milli-bits of margin per gram
        //        (pure pages >= 4032), routes 'und', and is DROPPED —
        //        the casualty class only an in-pipeline router can
        //        produce;
        //   6.   per-PREDICTED-language LM terciles (ccnetCuts/
        //        ccnetTag keyed on pred_lang, not the recorded col);
        //   7.   token-budget mixing per (pred_lang, bucket) — budgets
        //        sized below cell mass, so every cell drops an
        //        over-budget tail.
        // The oracle composes the shared NB kernel (nbTrainCtes/
        // nbScoreCtes — the q219 chain verbatim) with the capstone
        // WITH-chain end to end: template replay, strippedLines, C4,
        // NFC election, classifier + tie-break + margin + route, the
        // self-trained LM, both tercile cuts per predicted language,
        // the BPE tokenizer, the priority formula, and the running-sum
        // cutoff. CapstoneSpec attributes >= 1 casualty to EVERY
        // stage including routing. Plan shape: the model is
        // vocabulary-sized (broadcast), the cut table is
        // |lang|x|bucket|-row broadcast, and the only corpus exchanges
        // are the gram/doc aggregations and the prefix sum's bucket
        // shuffle — no shuffle carries text beyond the stage tables
        // a deployment would materialize anyway.
        multiStages(s).mixed
      },
      Some(multiCapstoneOracleSql),
      doc = "The LID-routed multilingual corpus build — the last composition seam: a five-language crawl muxed into WARC shards, extracted line-preserving, C4-cleaned, NFC-deduped, then routed by the PRETRAINED q219 classifier under the length-normalized confidence rule (margin >= 1000 milli-bits per gram; 'und' docs dropped — the planted mixed en/es page at 203/gram is the routing casualty, every pure page clears 4x), with LM terciles and token-budget mixing keyed on the PREDICTED language; the oracle composes the shared NB kernel with the full capstone WITH-chain (template, strippedLines, C4, NFC election, classifier, route, LM, cuts, tokenizer, priority, running-sum cutoff) and CapstoneSpec attributes a casualty to every stage including routing."),

    Q(
      "q230_corpus_build_job",
      (s, _) => {   // fixture muxed to real shard FILES; dir arg unused
        // THE DEPLOYMENT DRIVER, ORACLE-GATED: q226 proves the
        // composed SEMANTICS on in-session frames; this row proves the
        // DEPLOYMENT PATH produces the same bytes — the fixture muxed
        // into real `.warc.gz` files on disk, scanned back through
        // `binaryFile` -> per-file gzip/WARC/HTTP demux, every stage
        // written to and re-read from parquet lake tables, the router
        // loaded from its manifest-gated artifact dir, budgets and
        // seed replayed from the persisted mixing allocation, and the
        // final pred_lang-partitioned `mixed` table read back. The
        // oracle is q226's WITH-chain VERBATIM (one shared string):
        // the DuckDB replay predicts the lake table's contents from
        // the raw fixture text alone, so a defect anywhere on the
        // file boundary — gzip member framing, CRLF parsing, parquet
        // round-trip type skew, partition-value encoding, a stale
        // stage under the overwrite discipline — is a hash mismatch
        // HERE while q226 stays green (and vice versa: the pair
        // brackets the seam). Scale shape: identical to q226's chain
        // plus the stage-table writes a deployment performs anyway;
        // the binaryFile demux is per-file scalar work with no
        // shuffle before curation.
        jobMixed(s)
      },
      Some(multiCapstoneOracleSql),
      doc = "The corpus-build deployment driver under the correctness gate: the multilingual fixture muxed into real .warc.gz shard files, CorpusBuildJob run over them (binaryFile scan -> demux -> the q226 stage functions -> per-stage parquet lake tables -> persisted router/pair/allocation artifacts -> a pred_lang-partitioned mixed table), and the final lake table read back and compared under q226's oracle WITH-chain verbatim — one shared SQL string, so the in-session row and the deployment row must both match the same prediction and a file-boundary defect (gzip framing, parquet round-trip, partition encoding, stale overwrite) surfaces as a hash mismatch on exactly one of them."),

    Q(
      "q231_decontam_build_job",
      (s, _) => {   // same shards/router as q230, separate lake; dir unused
        // THE DECONTAMINATING DEPLOYMENT RUN, ORACLE-GATED (VERDICT r18
        // #4): q230 proves the driver's happy path; this row proves its
        // `benchDir` seam — the same shard files and frozen router, but
        // a benchmark REGISTRY rides the run: a real parquet registry
        // dir whose one document quotes two consecutive lines of
        // fixture doc 1000 verbatim. The job builds the token-window
        // index over the curated corpus, records the quoted host in the
        // `contaminated` table, and EXCLUDES it at the MIX boundary —
        // so the final lake table differs from q230's in exactly the
        // way the 13-token-window semantics predict: doc 1000 (in
        // q230's mix) is gone, and its cell's running sum re-fills from
        // the next priorities. The oracle is the SAME builder as
        // q226/q230 with the decontamination CTEs composed in: the
        // registry text re-derived from the raw fixture (lines 2-3 of
        // doc 1000), the q220 window machinery over the curated docs,
        // and the mix-input exclusion — the three rows together bracket
        // both deployment seams (the file boundary AND the registry).
        // Scale shape: q230's plus one window-index join at build time
        // (the q213 shape); the registry side is benchmark-sized.
        jobDecontamMixed(s)
      },
      Some(multiCapstoneOracle(decontam = true)),
      doc = "The deployment driver's decontamination seam under the correctness gate: CorpusBuildJob run over the same real .warc.gz shards WITH a benchmark registry (a parquet dir whose document quotes two lines of fixture doc 1000), so the quoted host is recorded contaminated and excluded at the MIX boundary; the oracle extends the shared q226/q230 WITH-chain builder with the registry derivation (the same two-line slice), the q220 13-token BPE window CTEs, and the mix-input exclusion — the resulting lake table must differ from q230's in exactly the predicted way (doc 1000 gone, its cell re-filled by the running sum), and a defect anywhere on the benchDir seam hash-mismatches exactly this row while q230 stays green."),

    Q(
      "q227_quality_classifier",
      (s, _) => {   // dedicated labeled quality fixture; dir arg unused
        // THE SUPERVISED QUALITY CLASSIFIER — the FineWeb-Edu/DCLM
        // stage: the current published SOTA quality gate is a TRAINED
        // classifier over curated labels, not a heuristic. The engine's
        // NB machinery is label-agnostic (LangId's langCol parameter is
        // just the label column), so the same exact-integer milli-log2
        // kernel that identifies languages trains here on good/bad
        // labels: argmin class with the deterministic tie-break, and
        // the runner-up MARGIN as the published graded score. The
        // classifier joins q212's manifest as the SEVENTH recorded
        // signal: label + margin ride every row, keep additionally
        // requires pred 'good'. The fixture plants what ONLY this
        // signal catches — a promotional-spam page that is signal-clean
        // everywhere else (>= 50 words, stopwords seeded so the Gopher
        // gate passes, all-alpha, no PII, unique, and the self-trained
        // LM hands it its own bigrams back — the q212 self-training
        // lesson applied CONSTRUCTIVELY) — and the converse (a gate
        // casualty the classifier calls 'good'), so the two newest
        // signals are independent in both directions. Plan shape: the
        // model is vocabulary-sized (broadcast), scoring is the q219
        // gram-agg chain, the manifest joins are doc-keyed; oracle
        // replays the two-class NB chain (the q219 CTEs with two
        // classes) plus the full six-signal composition.
        qualityStages(s).manifest
      },
      Some(s"""
        WITH RECURSIVE qsrc AS (
          SELECT doc_id, label, text
          FROM read_parquet('${QualityFixture.Root}/*.parquet')),
        qtr AS (SELECT label, text FROM qsrc WHERE doc_id >= 30000),
        ${nbTrainCtes("qtr", "label", "q")},
        qcorp AS (SELECT doc_id, label AS lang, text FROM qsrc
                  WHERE doc_id < 9000),
        ${nbScoreCtes("qcorp", "qs", "q")},
        ${OracleCtes.jaccardReach(source = "qcorp")},
        ${OracleCtes.victims},
        ${OracleCtes.gopherGate("qcorp", Seq("doc_id", "lang"))},
        ${OracleCtes.piiCounted("qcorp")},
        ${DedupQueries.substrSpansCte(source = "qcorp", docsName = "sdocs")},
        ${OracleCtes.bigramLm(trainSource = "qcorp", scoreSource = "qcorp")},
        sperm AS (
          SELECT d.doc_id,
                 CASE WHEN LENGTH(d.text) = 0 THEN CAST(0 AS BIGINT)
                      ELSE CAST(COALESCE(SUM(x.span_len), 0) AS BIGINT) * 1000 // LENGTH(d.text)
                 END AS substr_permille
          FROM sdocs d LEFT JOIN spansx x USING (doc_id)
          GROUP BY d.doc_id, d.text),
        splits AS (
          SELECT doc_id,
                 CASE WHEN ${CurationQueries.bucketSql} < 80 THEN 'train'
                      WHEN ${CurationQueries.bucketSql} < 90 THEN 'val'
                      ELSE 'test' END AS split
          FROM qcorp)
        SELECT g.doc_id, g.lang, g.n_words, g.pass_gate,
               CAST(p.email_count + p.ip_count + p.phone_count + p.ssn_count
                    + p.iban_count + p.cc_count > 0 AS BIGINT) AS has_pii,
               CAST(CASE WHEN v.doc_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS is_victim,
               sp.substr_permille,
               lm.avg_millibits,
               c.lang AS cls_label,
               c.margin_millibits AS cls_margin,
               CAST(g.pass_gate = 1
                    AND (p.email_count + p.ip_count + p.phone_count + p.ssn_count
                         + p.iban_count + p.cc_count) = 0
                    AND v.doc_id IS NULL
                    AND sp.substr_permille <= 300
                    AND lm.avg_millibits <= ${CurationQueries.LmKeepMaxAvgMillibits}
                    AND c.lang = 'good' AS BIGINT) AS keep,
               s.split
        FROM gate g
        JOIN pii_counted p ON g.doc_id = p.doc_id
        LEFT JOIN victims v ON g.doc_id = v.doc_id
        JOIN sperm sp ON g.doc_id = sp.doc_id
        JOIN lmsc lm ON g.doc_id = lm.doc_id
        JOIN qspred c ON g.doc_id = c.doc_id
        JOIN splits s ON g.doc_id = s.doc_id
        ORDER BY g.doc_id"""),
      doc = "The supervised quality classifier (the FineWeb-Edu/DCLM stage): the label-agnostic NB kernel trains on curated good/bad labels — same exact-integer milli-log2 scoring as q219, runner-up margin as the published graded score — and joins the q212 curation manifest as the SEVENTH recorded signal (label + margin on every row, keep requires pred 'good'); the fixture plants a promotional page caught by NO other signal (gate-passing, PII-free, unique, LM-clean by the self-training construction) and a gate casualty the classifier calls 'good', proving the signals independent both ways; oracle replays the two-class NB chain plus the full six-signal composition."),

    Q(
      "q229_graded_quality",
      (s, _) => {   // dedicated graded labeled fixture; dir arg unused
        // THE GRADED QUALITY CLASSIFIER — the step q227's binary gate
        // cannot take: FineWeb-Edu's published stage scores documents
        // on an INTEGER educational-quality scale and keeps
        // `score >= cut`, because a binary good/bad model cannot RANK
        // two mediocre documents against each other. The NB kernel is
        // multi-class by construction (q219 ran it with five language
        // classes), so the identical exact-integer machinery trains on
        // FOUR graded labels ("0".."3"); the predicted label casts to
        // the integer grade on both engines, the runner-up margin
        // rides as its confidence, and keep additionally requires
        // grade >= 2. The fixture plants the pair that DEFINES the
        // stage: a grade-1 and a grade-2 document, both signal-clean
        // under all six q212 signals AND inseparable by a binary
        // extreme-grades model (QualityClassifierSpec pins both
        // halves) — only the grade threshold splits them. The promo
        // page (grade 0) and the gate-casualty converse carry over
        // from q227 unchanged. Plan shape: identical to q227 (the
        // model is vocabulary-sized broadcast; the class count only
        // widens the |classes|-bounded argmin collect). Oracle: the
        // q227 chain with four classes and the integer-grade keep.
        gradedStages(s).manifest
      },
      Some(s"""
        WITH RECURSIVE gsrc AS (
          SELECT doc_id, label, text
          FROM read_parquet('${GradedQualityFixture.Root}/*.parquet')),
        gtr AS (SELECT label, text FROM gsrc WHERE doc_id >= 30000),
        ${nbTrainCtes("gtr", "label", "g")},
        gcorp AS (SELECT doc_id, label AS lang, text FROM gsrc
                  WHERE doc_id < 9000),
        ${nbScoreCtes("gcorp", "gs", "g")},
        ${OracleCtes.jaccardReach(source = "gcorp")},
        ${OracleCtes.victims},
        ${OracleCtes.gopherGate("gcorp", Seq("doc_id", "lang"))},
        ${OracleCtes.piiCounted("gcorp")},
        ${DedupQueries.substrSpansCte(source = "gcorp", docsName = "sdocs")},
        ${OracleCtes.bigramLm(trainSource = "gcorp", scoreSource = "gcorp")},
        sperm AS (
          SELECT d.doc_id,
                 CASE WHEN LENGTH(d.text) = 0 THEN CAST(0 AS BIGINT)
                      ELSE CAST(COALESCE(SUM(x.span_len), 0) AS BIGINT) * 1000 // LENGTH(d.text)
                 END AS substr_permille
          FROM sdocs d LEFT JOIN spansx x USING (doc_id)
          GROUP BY d.doc_id, d.text),
        splits AS (
          SELECT doc_id,
                 CASE WHEN ${CurationQueries.bucketSql} < 80 THEN 'train'
                      WHEN ${CurationQueries.bucketSql} < 90 THEN 'val'
                      ELSE 'test' END AS split
          FROM gcorp)
        SELECT g.doc_id, g.lang, g.n_words, g.pass_gate,
               CAST(p.email_count + p.ip_count + p.phone_count + p.ssn_count
                    + p.iban_count + p.cc_count > 0 AS BIGINT) AS has_pii,
               CAST(CASE WHEN v.doc_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS is_victim,
               sp.substr_permille,
               lm.avg_millibits,
               CAST(c.lang AS BIGINT) AS cls_grade,
               c.margin_millibits AS cls_margin,
               CAST(g.pass_gate = 1
                    AND (p.email_count + p.ip_count + p.phone_count + p.ssn_count
                         + p.iban_count + p.cc_count) = 0
                    AND v.doc_id IS NULL
                    AND sp.substr_permille <= 300
                    AND lm.avg_millibits <= ${CurationQueries.LmKeepMaxAvgMillibits}
                    AND CAST(c.lang AS BIGINT) >= $GradedKeepMinGrade AS BIGINT) AS keep,
               s.split
        FROM gate g
        JOIN pii_counted p ON g.doc_id = p.doc_id
        LEFT JOIN victims v ON g.doc_id = v.doc_id
        JOIN sperm sp ON g.doc_id = sp.doc_id
        JOIN lmsc lm ON g.doc_id = lm.doc_id
        JOIN gspred c ON g.doc_id = c.doc_id
        JOIN splits s ON g.doc_id = s.doc_id
        ORDER BY g.doc_id"""),
      doc = "The graded quality classifier (FineWeb-Edu's integer-score stage): the multi-class NB kernel trains on FOUR graded labels, the predicted label casts to an integer grade on both engines, and keep thresholds grade >= 2 on top of the six q212 signals — the fixture plants a grade-1/grade-2 pair that is signal-clean under everything else AND provably unrankable by a binary extreme-grades model (spec-pinned), so the grade threshold is the only separating signal; the gate casualty stays graded 3 (independence both ways); oracle replays the four-class NB chain plus the full manifest."),

    Q(
      "q228_incremental_wave",
      (s, _) => {   // dedicated two-wave fixture; dir arg unused
        // THE INCREMENTAL WAVE — the production shape every published
        // corpus actually runs: corpora grow crawl by crawl, and wave 2
        // must be processed against wave 1's PERSISTED states without
        // re-reading wave 1 (beyond the provably-touched docs). This
        // row composes, in ONE pass, every persisted-state leg the
        // engine ships: wave-2 docs deduplicated against the wave-1
        // winnow-anchor state (dupSpansAgainst — per-batch cost scales
        // with the batch + the genuinely-duplicated old mass), a LATE
        // benchmark probed into the wave-1 token-window index
        // (contaminationTokenSpansAgainst — a wave-1 doc flips
        // contaminated RETROACTIVELY, the PaLM doc-drop applied to a
        // benchmark that arrived after ingest), both waves tagged by
        // the FROZEN CCNet pair from its manifest-gated dir, and both
        // waves routed by the persisted LID artifact. Every state
        // guard is crossed live: the anchor norm bit, the index's
        // window length n and tokenizer fingerprint, the pair's
        // model-cuts pairing, the LID format/version/gram-length.
        //
        // THE ORACLE COMPUTES FROM SCRATCH ON THE UNION — it re-derives
        // spans, contamination, LM, cuts, and routing over wave1 ∪
        // wave2 with no notion of state, so the row-hash match IS the
        // incremental == from-scratch theorem at value level (the spec
        // additionally pins the merge rule and the guard refusals).
        incrementalStages(s).manifest
      },
      Some(s"""
        WITH isrc AS (
          SELECT doc_id, lang, text
          FROM read_parquet('${IncrementalFixture.Root}/*.parquet')),
        lsrc AS (
          SELECT doc_id, lang, text
          FROM read_parquet('${LangIdFixture.Root}/*.parquet')),
        ltr AS (SELECT lang, text FROM lsrc
                WHERE doc_id % 1000 < 40 AND doc_id < 9000),
        ${nbTrainCtes("ltr", "lang", "l")},
        w AS (SELECT doc_id, text FROM isrc WHERE doc_id < 9000),
        ${nbScoreCtes("w", "i", "l")},
        ${OracleCtes.bigramLm(
          trainSource = "(SELECT doc_id, text FROM isrc WHERE doc_id < 1000) lmref",
          scoreSource = "w")},
        icuts AS (
          SELECT p.lang,
                 QUANTILE_CONT(sc.avg_millibits, 1.0/3) AS cut_head,
                 QUANTILE_CONT(sc.avg_millibits, 2.0/3) AS cut_middle
          FROM ipred p JOIN lmsc sc USING (doc_id)
          WHERE p.doc_id < 1000
          GROUP BY 1),
        itag AS (
          SELECT p.doc_id, p.lang, sc.avg_millibits,
                 CASE WHEN sc.avg_millibits <= c.cut_head THEN 'head'
                      WHEN sc.avg_millibits <= c.cut_middle THEN 'middle'
                      ELSE 'tail' END AS bucket
          FROM ipred p
          JOIN lmsc sc USING (doc_id)
          JOIN icuts c ON c.lang = p.lang),
        ${DedupQueries.substrSpansCte(source = "w", docsName = "sdocs")},
        iperm AS (
          SELECT d.doc_id,
                 CASE WHEN LENGTH(d.text) = 0 THEN CAST(0 AS BIGINT)
                      ELSE CAST(COALESCE(SUM(x.span_len), 0) AS BIGINT) * 1000 // LENGTH(d.text)
                 END AS dup_permille
          FROM sdocs d LEFT JOIN spansx x USING (doc_id)
          GROUP BY d.doc_id, d.text),
        itoksrc AS (
          SELECT doc_id, text FROM w
          UNION ALL
          SELECT doc_id, text FROM isrc WHERE doc_id >= 9000),
        iwords AS (SELECT doc_id, pos, wd FROM (
            SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS wd,
                   GENERATE_SUBSCRIPTS(STRING_SPLIT(text, ' '), 1) AS pos
            FROM itoksrc) t
          WHERE LENGTH(wd) > 0),
        ienc AS (SELECT doc_id, pos, ${graft.operators.Bpe.oracleEncodeSql("wd")} AS e
                 FROM iwords),
        itoks AS (SELECT doc_id, STRING_SPLIT(STRING_AGG(e, ' ' ORDER BY pos), ' ') AS ts
                  FROM ienc GROUP BY doc_id),
        itw AS (SELECT doc_id, MD5(ARRAY_TO_STRING(ts[pos : pos + 12], ' ')) AS g
                FROM (SELECT doc_id, UNNEST(RANGE(1, GREATEST(LEN(ts) - 11, 1))) AS pos, ts
                      FROM itoks WHERE doc_id < 9000) t),
        ibw AS (SELECT DISTINCT MD5(ARRAY_TO_STRING(ts[pos : pos + 12], ' ')) AS g
                FROM (SELECT UNNEST(RANGE(1, GREATEST(LEN(ts) - 11, 1))) AS pos, ts
                      FROM itoks WHERE doc_id >= 9000) t),
        idrop AS (SELECT DISTINCT doc_id FROM itw JOIN ibw USING (g))
        SELECT t.doc_id,
               CAST(CASE WHEN t.doc_id < 1000 THEN 1 ELSE 2 END AS BIGINT) AS wave,
               t.lang AS pred_lang, t.bucket, t.avg_millibits,
               pm.dup_permille,
               CAST(CASE WHEN dr.doc_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS contaminated,
               CAST(dr.doc_id IS NULL AND pm.dup_permille <= 300
                    AND t.bucket <> 'tail' AS BIGINT) AS keep
        FROM itag t
        JOIN iperm pm USING (doc_id)
        LEFT JOIN idrop dr ON t.doc_id = dr.doc_id
        ORDER BY t.doc_id"""),
      doc = "The incremental second wave — production corpus growth in one composed pass: wave-2 docs deduplicated against wave-1's persisted winnow-anchor state, a LATE benchmark probed into the persisted token-window index (a wave-1 doc flips contaminated retroactively), and both waves tagged by the frozen manifest-gated CCNet pair and routed by the persisted LID artifact, with every state guard (anchor norm bit, window length, tokenizer fingerprint, model-cuts pairing, LID version/gram-length) crossed live; the oracle recomputes everything FROM SCRATCH on the union, so the hash match is the incremental == from-scratch theorem at value level."))

  /** Deterministic multilingual corpus for the language-ID family:
    * five languages with genuinely distinct character distributions
    * (umlauts/ß-adjacent German clusters, English th/ing/tion,
    * Spanish ción/ñ, French eau/ç/é, BMP CJK for Chinese — all
    * precomposed NFC code points, so Spark and DuckDB index the same
    * code-point stream). Ids are `langIdx * 1000 + i`; `i < 40` is the
    * labeled train split, `i in [40, 60)` the held-out eval docs.
    * EVERY doc is exactly [[DocChars]] code points, so each language's
    * train total is exactly `40 * (DocChars - 1)` bigram instances —
    * the equal-mass construction the q219 exact-tie edge relies on.
    * Two planted edges outside every block: 9901 (Greek script — all
    * grams OOV in every language) and 9902 (mixed en/es — low-margin
    * ambiguous). The oracle replays from the written parquet, so
    * generation here need not be SQL-expressible.
    */
  object LangIdFixture {
    val Root = "/root/repo/target/langid_fixture"
    val DocChars = 140
    private def mix(x0: Long): Long = {
      var x = x0 + 0x9E3779B97F4A7C15L
      x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
      x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
      x ^ (x >>> 31)
    }
    private def pick(n: Int, seed: Long): Int =
      java.lang.Math.floorMod(mix(seed), n.toLong).toInt
    private val Syllables: Map[String, IndexedSeq[String]] = Map(
      "de" -> Vector("sch", "ung", "ein", "ver", "über", "öch", "äus",
        "zwi", "ich", "der"),
      "en" -> Vector("the", "ing", "tion", "ough", "wh", "ea", "ly",
        "and", "er", "of"),
      "es" -> Vector("ción", "que", "ñas", "ado", "illa", "está",
        "ente", "los", "jo", "uy"),
      "fr" -> Vector("eau", "oux", "ché", "les", "été", "àla", "çon",
        "oi", "eur", "une"),
      "zh" -> Vector("数据", "处理", "引擎", "查询", "分布", "计算",
        "存储", "模型", "语言", "文本"))
    private[queries] val Langs = Vector("de", "en", "es", "fr", "zh")
    private[queries] def word(lang: String, seed: Long): String = {
      val inv = Syllables(lang)
      val k = 2 + pick(2, seed)
      (0 until k).map(j => inv(pick(inv.size, seed * 31 + j + 1))).mkString
    }
    /** Exactly [[DocChars]] code points: words joined by single spaces,
      * truncated (all syllable chars are BMP, so StringBuilder length ==
      * code points).
      */
    private def text(lang: String, docSeed: Long): String = {
      val sb = new StringBuilder
      var w = 0
      while (sb.length < DocChars + 16) {
        if (w > 0) sb.append(' ')
        sb.append(word(lang, docSeed * 131 + w))
        w += 1
      }
      sb.substring(0, DocChars)
    }
    private def rows: Seq[(Long, String, String)] = {
      val main = for {
        (l, li) <- Langs.zipWithIndex
        i <- 0 until 60
      } yield ((li * 1000 + i).toLong, l, text(l, li * 7919L + i))
      // 9901: Greek — every bigram OOV in every language -> exact
      // five-way tie (equal train totals), resolved by tie-break
      val oov = (9901L, "xx",
        "αβ γδε ζηθ ικλ μνξ οπρ στυ φχψ ωαβ γδε ζηθ ικλ")
      // 9902: half en / half es words — genuinely ambiguous, small
      // nonzero margin
      val mixed = (9902L, "xx",
        ((0 until 6).map(j => word("en", 555L + j)) ++
          (0 until 6).map(j => word("es", 777L + j))).mkString(" "))
      main ++ Seq(oov, mixed)
    }
    private val once = new FixtureOnce(Root)
    def ensure(s: SparkSession): String =
      once.ensure3(s)(rows, "doc_id", "lang", "text")
  }

  /** Deterministic corpus for the q220 capstone, one planted casualty
    * per pipeline stage. Page template: minimal HTML with a script
    * block mentioning javascript and a comment carrying braces — TRAPS:
    * if block removal ever ran after the <br> split or not at all, the
    * leaked "javascript"/brace would C4-kill every document and the
    * gate would light up red across the board.
    *
    * Corpus ids (< 9000): 0-59 clean base docs (survive everything);
    * 100 line-casualty (three C4-dropped lines, doc survives); 101/102/
    * 103 page casualties (lorem ipsum / brace / under 3 kept lines);
    * 110+111 NFC twins (111 is the NFD spelling — exact-dedup casualty);
    * 120/121 substring-span hosts sharing three verbatim lines (120 is
    * short, permille > 300, manifest signal-5 casualty; 121 is long,
    * ~200 permille, KEPT with spans — the signal's negative control);
    * 130/131 near-dup pair (one word changed; victim election drops
    * 131, and both carry spans — the documented q209 double-flag);
    * 140 gate casualty (48 words < 50); 141 PII casualty (email);
    * 150 decontamination casualty (line 3 is verbatim benchmark text);
    * 5000 LM casualty (clean-shaped, but excluded from the < 5000
    * reference-training split, so every bigram sits on the add-one
    * floor). Benchmark ids (>= 9000, never enter the corpus): 9001
    * carries 150's planted line verbatim; 9002 is unique (specificity
    * control).
    */
  object CapstoneFixture {
    val Root = "/root/repo/target/capstone_fixture"
    private[queries] val PagePrefix: String =
      "<html><head><script>var hidden = javascript;</script>" +
        "<!-- draft { not published } --></head><body><p>"
    private[queries] val PageSuffix: String = "</p></body></html>"
    private def mix(x0: Long): Long = {
      var x = x0 + 0x9E3779B97F4A7C15L
      x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
      x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
      x ^ (x >>> 31)
    }
    private def pick(n: Int, seed: Long): Int =
      java.lang.Math.floorMod(mix(seed), n.toLong).toInt
    private val Stops = graft.functions.TextFns.GopherStopwords
    private val Cons = "bcdfghjklmnprstvz"
    private val Vows = "aeiou"
    private def filler(seed: Long): String = {
      val len = 4 + pick(4, seed * 3 + 1)
      (0 until len).map(j =>
        if (j % 2 == 0) Cons(pick(Cons.length, seed * 64 + j))
        else Vows(pick(Vows.length, seed * 64 + j))).mkString
    }
    /** One n-word line ending in '.': every word at absolute position
      * p = li*n + j with p % 5 == 2 is a Gopher stopword (>= 2 distinct
      * per doc — the gate's stop_hits floor), the rest seeded fillers.
      */
    private def lineWords(seed: Long, li: Int, n: Int): IndexedSeq[String] =
      (0 until n).map { j =>
        val p = li * n + j
        if (p % 5 == 2) Stops(java.lang.Math.floorMod(seed + p / 5, 8L).toInt)
        else filler(seed * 1013 + li * 97 + j)
      }
    private[queries] def line(seed: Long, li: Int, n: Int = 9): String =
      lineWords(seed, li, n).mkString(" ") + "."
    private[queries] def baseDoc(seed: Long, nLines: Int = 7): String =
      (0 until nLines).map(k => line(seed, k)).mkString("\n")
    private def sharedLine(k: Int): String = line(777444L, k)
    /** The 18-word benchmark line planted in doc 150 and bench 9001:
      * interior words 2-17 keep clean space boundaries in the
      * multi-line host (its edge words space-merge with the adjacent
      * lines' words in the ' '-split token stream), leaving >= 16
      * matching consecutive BPE tokens — over the 13-window floor.
      */
    private def contamLine: String = line(424242L, 0, 18)
    private def nfcDoc(composed: Boolean): String = {
      val word = if (composed) "cafétal" else "cafétal"
      (0 until 7).map { k =>
        val ws = lineWords(110L, k, 9).updated(1, word)
        ws.mkString(" ") + "."
      }.mkString("\n")
    }
    private def rows: Seq[(Long, String, String)] = {
      val base = (0 until 60).map(i => (i.toLong, "en", baseDoc(3000L + i)))
      val planted = Seq(
        // 100: three C4 line casualties appended to a clean doc
        (100L, "en", baseDoc(100L) + "\n" +
          "this line has no terminal punctuation at all\n" +
          "too short line.\n" +
          "the javascript framework loads the page quickly today."),
        (101L, "en", baseDoc(101L) +
          "\nthe lorem ipsum filler text shows here plainly."),
        (102L, "en", baseDoc(102L) +
          "\nthe config block uses the { symbol today."),
        (103L, "en", line(103L, 0) + "\n" + line(103L, 1) + "\n" +
          "no punct here at the end\nshort line here"),
        (110L, "en", nfcDoc(composed = true)),
        (111L, "en", nfcDoc(composed = false)),
        // 120/121: three shared verbatim lines; 120 short (permille >
        // 300), 121 long (permille ~200)
        (120L, "en", (Seq(line(120L, 0), line(120L, 1)) ++
          (0 until 3).map(sharedLine) ++
          Seq(line(120L, 5), line(120L, 6))).mkString("\n")),
        (121L, "en", ((0 until 11).map(k => line(121L, k)) ++
          (0 until 3).map(sharedLine)).mkString("\n")),
        // 130/131: near-dup pair — one filler changed in line 3
        (130L, "en", baseDoc(130L)),
        (131L, "en", (0 until 7).map { k =>
          if (k == 3) lineWords(130L, k, 9).updated(4, filler(987654L))
            .mkString(" ") + "."
          else line(130L, k)
        }.mkString("\n")),
        (140L, "en", (0 until 3).map(k => line(140L, k, 16)).mkString("\n")),
        (141L, "en", baseDoc(141L) +
          "\ncontact the team now at user141@mail.example.com for the details today."),
        (150L, "en", (0 until 7).map { k =>
          if (k == 3) contamLine else line(150L, k)
        }.mkString("\n")),
        (5000L, "en", baseDoc(5000L)))
      val bench = Seq(
        (9001L, "xx", contamLine),
        (9002L, "xx", line(909090L, 0, 18)))
      base ++ planted ++ bench
    }
    private val once = new FixtureOnce(Root)
    def ensure(s: SparkSession): String =
      once.ensure3(s)(rows, "doc_id", "lang", "text")
  }

  /** Deterministic MULTILINGUAL crawl for the q226 LID-routed capstone:
    * the [[LangIdFixture]] word generators (same five languages, same
    * syllable inventories — so the PRETRAINED LangIdFixture model
    * classifies this corpus the way a deployed fastText LID classifies
    * a new crawl) inside the [[CapstoneFixture]] page machinery (lines
    * joined by `<br>` in the HTML template with script/comment traps).
    *
    * Corpus ids: `langIdx * 1000 + i`, i < 20 — twenty pure pages per
    * language (every one routes at a huge margin; the recorded `lang`
    * column exists ONLY for spec assertions, the chain never reads it).
    * Planted casualties, one per stage:
    *   - 8803: C4 page casualty (a `{` line kills the page);
    *   - 8804: C4 LINE casualty (one unterminated line dropped, doc
    *     survives with 5 of 6 lines);
    *   - 8801/8802: NFC twins — 8802 is the NFD spelling of 8801's
    *     `été`-bearing French text; exact dedup elects 8801;
    *   - 9901: the ROUTING casualty — three alternating en/es lines,
    *     ambiguous by construction; its margin lands under the route
    *     threshold and the doc drops to 'und' (the one class of
    *     casualty q220 structurally cannot have);
    *   - the MIX stage drops the over-budget tail of every (lang,
    *     bucket) cell (budgets sized below cell token mass).
    */
  object MultiCrawlFixture {
    val Root = "/root/repo/target/multicrawl_fixture"
    import LangIdFixture.{word, Langs}
    private[graft] def line(lang: String, seed: Long, li: Int,
                            n: Int = 8): String =
      (0 until n).map(j => word(lang, seed * 977 + li * 31 + j))
        .mkString(" ") + "."
    private[graft] def doc(lang: String, seed: Long): String =
      (0 until 5).map(li => line(lang, seed, li)).mkString("\n")
    /** French page with `été` pinned into every line — guarantees the
      * composed/decomposed twin pair actually differs pre-NFC.
      */
    private def frTwin: String =
      (0 until 5).map { li =>
        val ws = (0 until 8).map(j => word("fr", 881100L + li * 31 + j))
        ws.updated(3, "été").mkString(" ") + "."
      }.mkString("\n")
    private def mixedLine(seed: Long): String =
      (0 until 3).flatMap(j =>
        Seq(word("en", seed * 7 + j), word("es", seed * 11 + j)))
        .mkString(" ") + "."
    private def rows: Seq[(Long, String, String)] = {
      val main = for {
        (l, li) <- Langs.zipWithIndex
        i <- 0 until 20
      } yield ((li * 1000 + i).toLong, l, doc(l, li * 6007L + i + 31))
      val planted = Seq(
        (8801L, "fr", frTwin),
        // NFD spelling: U+00E9 -> e + U+0301 (combining acute), written
        // as escapes so no tool can silently re-normalize the source
        (8802L, "fr", frTwin.replace("\u00e9", "e\u0301")),
        (8803L, "en", doc("en", 880300L) +
          "\nthe config block uses the { symbol today."),
        (8804L, "en", doc("en", 880400L) +
          "\nthis line has no terminal punctuation at all"),
        (9901L, "xx", (0 until 3).map(li => mixedLine(990100L + li)).mkString("\n")))
      main ++ planted
    }
    private val once = new FixtureOnce(Root)
    def ensure(s: SparkSession): String =
      once.ensure3(s)(rows, "doc_id", "lang", "text")
  }

  /** Deterministic corpus + LABELED training block for the q227
    * supervised quality classifier (the FineWeb-Edu/DCLM stage: a
    * trained classifier, not a heuristic, is the current published
    * quality gate \u2014 and its training data is a curated labeled set,
    * never the crawl itself).
    *
    * Training block (ids >= 30000, never enters the manifest):
    * 30000-30039 labeled `good` \u2014 the [[CapstoneFixture]] prose
    * machinery (stopword-seeded consonant-vowel filler lines);
    * 31000-31039 labeled `bad` \u2014 promotional spam built from a promo
    * word inventory whose character-bigram distribution is disjoint
    * enough for the NB kernel to separate.
    *
    * Corpus (ids < 9000, `label` column = the recorded language 'en'):
    * 0-59 clean prose (pass everything); 100 the CLASSIFIER-ONLY
    * catch \u2014 promo-styled but signal-clean: >= 50 words, stopwords
    * seeded at every 5th position (gate passes), all-alpha words, no
    * PII, unique text (no dup/span), and the self-trained LM hands it
    * its own bigrams back (the q212 self-training lesson \u2014 it passes
    * the LM signal BY CONSTRUCTION); 140 gate casualty (48 words,
    * good prose \u2014 the classifier says `good`, proving the two signals
    * are independent in both directions); 141 PII casualty.
    */
  object QualityFixture {
    val Root = "/root/repo/target/quality_fixture"
    private val Promo = Vector("free", "win", "buy", "now", "click",
      "offer", "deal", "prize", "cash", "bonus", "mega", "sale", "gift",
      "claim", "lucky", "jackpot")
    private def mix(x0: Long): Long = {
      var x = x0 + 0x9E3779B97F4A7C15L
      x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
      x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
      x ^ (x >>> 31)
    }
    private def pick(n: Int, seed: Long): Int =
      java.lang.Math.floorMod(mix(seed), n.toLong).toInt
    /** Promo line with the SAME stopword seeding as the prose
      * generator (every 5th absolute position) so the Gopher gate
      * cannot tell the styles apart \u2014 only the classifier can.
      */
    private def promoLine(seed: Long, li: Int, n: Int = 9): String =
      (0 until n).map { j =>
        val p = li * n + j
        if (p % 5 == 2)
          graft.functions.TextFns.GopherStopwords(
            java.lang.Math.floorMod(seed + p / 5, 8L).toInt)
        else Promo(pick(Promo.size, seed * 131 + p))
      }.mkString(" ") + "."
    private[queries] def promoDoc(seed: Long, nLines: Int = 7): String =
      (0 until nLines).map(k => promoLine(seed, k)).mkString("\n")
    private def rows: Seq[(Long, String, String)] = {
      val corpus = (0 until 60).map(i =>
        (i.toLong, "en", CapstoneFixture.baseDoc(41000L + i)))
      val planted = Seq(
        (100L, "en", promoDoc(100100L)),
        (140L, "en", (0 until 3).map(k =>
          CapstoneFixture.line(140140L, k, 16)).mkString("\n")),
        (141L, "en", CapstoneFixture.baseDoc(141141L) +
          "\ncontact the team now at q227user@mail.example.com for details today."))
      val trainGood = (0 until 40).map(i =>
        ((30000 + i).toLong, "good", CapstoneFixture.baseDoc(52000L + i)))
      val trainBad = (0 until 40).map(i =>
        ((31000 + i).toLong, "bad", promoDoc(63000L + i)))
      corpus ++ planted ++ trainGood ++ trainBad
    }
    private val once = new FixtureOnce(Root)
    def ensure(s: SparkSession): String =
      once.ensure3(s)(rows, "doc_id", "label", "text")
  }

  /** Deterministic corpus + GRADED labeled training block for the q229
    * graded quality classifier (the published SOTA shape: FineWeb-Edu
    * scores documents on an INTEGER educational-quality scale and
    * keeps `score >= cut` — a binary good/bad gate cannot rank two
    * mediocre documents against each other; a graded one can).
    *
    * Four grade styles, each a distinct character-bigram distribution
    * (the NB kernel is multi-class by construction — languages were 5
    * classes; grades are 4):
    *   - grade 3: the [[CapstoneFixture]] prose machinery;
    *   - grade 2: `qqxxqx` filler words;
    *   - grade 1: `qxqxqx` filler words;
    *   - grade 0: the [[QualityFixture]] promo-spam inventory.
    * Every style seeds Gopher stopwords at the SAME positions (every
    * 5th absolute word), so the gate passes all four and ONLY the
    * classifier grades them.
    *
    * The mid grades are built so the binary-cannot-rank claim is
    * STRUCTURAL, not statistical: the letters q and x occur NOWHERE in
    * the prose/promo/stopword text, so every filler-bearing gram of a
    * mid doc is out-of-vocabulary for a binary model trained on the
    * extreme grades; with identical word counts, word lengths, and the
    * SAME stopword sequence (shared stopSeed), the 110/111 pair's
    * binary scores are EXACTLY equal gram-for-gram — same label, same
    * margin, unrankable in principle. The graded model separates them
    * trivially: `qq`/`xx` occur only in grade 2, and the qx/xq mass
    * ratio differs.
    *
    * Training block (ids >= 30000, never enters the manifest): 40 docs
    * per grade, label = the grade as a string ("0".."3").
    *
    * Corpus (ids < 9000, `label` column = recorded lang 'en'): 0-59
    * prose (grade 3, pass everything); 100 promo (grade 0 — the q227
    * classifier-only catch, signal-clean everywhere else); 110 grade-1
    * and 111 grade-2 — BOTH signal-clean (gate-passing, PII-free,
    * unique, LM-clean by self-training), so the grade threshold
    * `>= 2` is the ONLY signal separating them; 140 gate casualty
    * (48 words of grade-3 prose — graded 3 but dropped, the converse
    * independence); 141 PII casualty.
    */
  object GradedQualityFixture {
    val Root = "/root/repo/target/graded_quality_fixture"
    // constant per-style fillers over the {q, x} alphabet — disjoint
    // from every letter the extreme-grade training text uses (prose
    // consonants/vowels, the promo inventory, the stopword list), which
    // is what makes the binary tie exact rather than approximate
    private val G1Filler = "qxqxqx"
    private val G2Filler = "qqxxqx"
    /** One 9-word line: stopwords at the SAME absolute positions as the
      * prose/promo generators (p % 5 == 2), fillers constant per style.
      */
    private def styleLine(filler: String, stopSeed: Long, li: Int): String =
      (0 until 9).map { j =>
        val p = li * 9 + j
        if (p % 5 == 2)
          graft.functions.TextFns.GopherStopwords(
            java.lang.Math.floorMod(stopSeed + p / 5, 8L).toInt)
        else filler
      }.mkString(" ") + "."
    private def styleDoc(filler: String, stopSeed: Long): String =
      (0 until 7).map(k => styleLine(filler, stopSeed, k)).mkString("\n")
    private def rows: Seq[(Long, String, String)] = {
      val corpus = (0 until 60).map(i =>
        (i.toLong, "en", CapstoneFixture.baseDoc(71000L + i)))
      val planted = Seq(
        (100L, "en", QualityFixture.promoDoc(100100L)),
        // 110/111 share ONE stopSeed: gram-for-gram equal under any
        // model that never saw q/x — the unrankable pair
        (110L, "en", styleDoc(G1Filler, 110110L)),
        (111L, "en", styleDoc(G2Filler, 110110L)),
        (140L, "en", (0 until 3).map(k =>
          CapstoneFixture.line(140140L, k, 16)).mkString("\n")),
        (141L, "en", CapstoneFixture.baseDoc(141141L) +
          "\ncontact the team now at q229user@mail.example.com for details today."))
      val train =
        (0 until 40).map(i =>
          ((30000 + i).toLong, "3", CapstoneFixture.baseDoc(82000L + i))) ++
        (0 until 40).map(i =>
          ((31000 + i).toLong, "0", QualityFixture.promoDoc(93000L + i))) ++
        (0 until 40).map(i =>
          ((32000 + i).toLong, "1", styleDoc(G1Filler, 104000L + i))) ++
        (0 until 40).map(i =>
          ((33000 + i).toLong, "2", styleDoc(G2Filler, 115000L + i)))
      corpus ++ planted ++ train
    }
    private val once = new FixtureOnce(Root)
    def ensure(s: SparkSession): String =
      once.ensure3(s)(rows, "doc_id", "label", "text")
  }

  /** Deterministic two-wave corpus for the q228 incremental pass —
    * wave 1 is the already-ingested corpus whose derived states
    * (winnow anchors, token-window index, CCNet pair, LID artifact)
    * persist; wave 2 and a NEW benchmark batch arrive later and are
    * processed ONLY through the incremental legs.
    *
    * Wave 1 (ids `li*100 + i`, i < 12, five languages): pure pages;
    * planted: en doc 106 carries an 18-word line that the LATE
    * benchmark 9501 quotes verbatim — the doc is clean when wave 1 is
    * processed and becomes contaminated RETROACTIVELY when the new
    * benchmark probes the persisted index (the grows-after-ingest
    * story). Wave 2 (ids 1000 + li*100 + i, i < 6, disjoint):
    * planted 1900 shares wave-1 doc 105's first three lines verbatim
    * (the cross-wave duplicate only the anchor state can see without
    * re-reading wave 1) and 1901 carries benchmark 9001's 18-word
    * line (a new doc contaminated by the EXISTING benchmark).
    * Benchmarks: 9001 ships with wave 1; 9501 arrives with wave 2.
    */
  object IncrementalFixture {
    val Root = "/root/repo/target/incremental_fixture"
    import LangIdFixture.Langs
    import MultiCrawlFixture.{line, doc}
    private def b1Line: String = line("en", 700700L, 77, 18)
    private def w1Line: String = line("en", 800800L, 88, 18)
    private def rows: Seq[(Long, String, String)] = {
      // disjoint seed spaces per wave (a collision would plant exact
      // cross-wave duplicate DOCS and every span test would see ghosts)
      val wave1 = for {
        (l, li) <- Langs.zipWithIndex
        i <- 0 until 12
      } yield {
        val id = (li * 100 + i).toLong
        val base = doc(l, li * 3001L + i + 100000)
        // en doc 106: line 3 is the text the LATE benchmark will quote
        val text = if (id == 106L)
          base.split("\n").updated(3, w1Line).mkString("\n") else base
        (id, l, text)
      }
      val wave2main = for {
        (l, li) <- Langs.zipWithIndex
        i <- 0 until 6
      } yield ((1000 + li * 100 + i).toLong, l, doc(l, li * 4007L + i + 200000))
      val d105 = doc("en", 1 * 3001L + 5 + 100000)
      val wave2planted = Seq(
        // 1900: wave-1 doc 105's first three lines + two fresh ones —
        // the >= 40-char cross-wave duplicate run
        (1900L, "en", (d105.split("\n").take(3) ++
          Seq(line("en", 1900190L, 0), line("en", 1900190L, 1))).mkString("\n")),
        // 1901: contaminated by the benchmark that shipped with wave 1
        (1901L, "en", doc("en", 1901191L).split("\n")
          .updated(2, b1Line).mkString("\n")))
      val bench = Seq((9001L, "xx", b1Line), (9501L, "xx", w1Line))
      wave1 ++ wave2main ++ wave2planted ++ bench
    }
    private val once = new FixtureOnce(Root)
    def ensure(s: SparkSession): String =
      once.ensure3(s)(rows, "doc_id", "lang", "text")
  }
}
