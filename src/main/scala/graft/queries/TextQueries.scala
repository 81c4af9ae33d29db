package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFns

/** Text-analysis queries over the documents table: token counting,
  * quality scoring, language ID, fingerprinting. All per-row scalar
  * pipelines (no shuffle except the final ORDER BY) — the 100 TB shape is
  * a single codegen'd scan.
  */
object TextQueries {

  val queries: Seq[Q] = Seq(
    Q(
      "q17_text_stats",
      (s, d) => {
        import s.implicits._
        Tables.documents(s, d)
          .select(
            $"doc_id",
            length($"text").cast("long").as("n_chars_calc"),
            TextFns.tokenCount($"text").cast("long").as("n_tok"),
            TextFns.bpeishCount($"text").cast("long").as("n_bpe"),
            TextFns.qualityScore($"text").as("quality"))
          .orderBy($"doc_id")
      },
      Some("""
        SELECT doc_id,
               LENGTH(text) AS n_chars_calc,
               LEN(STRING_SPLIT(text, ' ')) AS n_tok,
               LEN(REGEXP_EXTRACT_ALL(LOWER(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_bpe,
               LEAST(CAST(1.0 AS DOUBLE), LENGTH(text) / CAST(400.0 AS DOUBLE)) * CAST(0.5 AS DOUBLE)
                 + LEAST(CAST(1.0 AS DOUBLE), LEN(STRING_SPLIT(text, ' ')) / CAST(80.0 AS DOUBLE)) * CAST(0.3 AS DOUBLE)
                 + LEAST(CAST(1.0 AS DOUBLE), CAST(LEN(REGEXP_EXTRACT_ALL(LOWER(text), '\b(the|a|of|and|to)\b')) AS DOUBLE) / LEN(STRING_SPLIT(text, ' '))) * CAST(0.2 AS DOUBLE)
                 AS quality
        FROM documents
        ORDER BY doc_id"""),
      doc = "Per-doc token counts (whitespace + BPE-ish regex) and composite quality score."),

    Q(
      "q18_text_langid",
      (s, d) => {
        import s.implicits._
        val scored = Tables.documents(s, d)
          .select(Seq($"doc_id", $"lang") ++
            TextFns.LangMarkers.map { case (l, _) => TextFns.langScore($"text", l).cast("long").as(s"s_$l") }: _*)
        scored
          .withColumn("pred_lang", {
            val m = greatest(TextFns.LangMarkers.map { case (l, _) => col(s"s_$l") }: _*)
            TextFns.LangMarkers.tail.foldLeft(
              when(col(s"s_${TextFns.LangMarkers.head._1}") === m, lit(TextFns.LangMarkers.head._1))) {
              case (acc, (l, _)) => acc.when(col(s"s_$l") === m, lit(l))
            }
          })
          .withColumn("agrees", ($"pred_lang" === $"lang").cast("boolean"))
          .orderBy($"doc_id")
      },
      Some("""
        SELECT doc_id, lang, s_en, s_de, s_es, s_fr, s_zh,
               CASE WHEN s_en = m THEN 'en' WHEN s_de = m THEN 'de' WHEN s_es = m THEN 'es'
                    WHEN s_fr = m THEN 'fr' WHEN s_zh = m THEN 'zh' END AS pred_lang,
               (CASE WHEN s_en = m THEN 'en' WHEN s_de = m THEN 'de' WHEN s_es = m THEN 'es'
                     WHEN s_fr = m THEN 'fr' WHEN s_zh = m THEN 'zh' END) = lang AS agrees
        FROM (
          SELECT doc_id, lang,
                 LEN(REGEXP_EXTRACT_ALL(LOWER(text), '\b(the|a|of|and|to)\b')) AS s_en,
                 LEN(REGEXP_EXTRACT_ALL(LOWER(text), '\b(der|die|und|das|ist)\b')) AS s_de,
                 LEN(REGEXP_EXTRACT_ALL(LOWER(text), '\b(el|la|los|que|una)\b')) AS s_es,
                 LEN(REGEXP_EXTRACT_ALL(LOWER(text), '\b(le|les|des|est|une)\b')) AS s_fr,
                 LEN(REGEXP_EXTRACT_ALL(LOWER(text), '(的|是|了|在|和)')) AS s_zh,
                 GREATEST(
                   LEN(REGEXP_EXTRACT_ALL(LOWER(text), '\b(the|a|of|and|to)\b')),
                   LEN(REGEXP_EXTRACT_ALL(LOWER(text), '\b(der|die|und|das|ist)\b')),
                   LEN(REGEXP_EXTRACT_ALL(LOWER(text), '\b(el|la|los|que|una)\b')),
                   LEN(REGEXP_EXTRACT_ALL(LOWER(text), '\b(le|les|des|est|une)\b')),
                   LEN(REGEXP_EXTRACT_ALL(LOWER(text), '(的|是|了|在|和)'))) AS m
          FROM documents) t
        ORDER BY doc_id"""),
      doc = "Marker-word language ID: argmax of per-language stopword hit counts, fixed tie order."),

    Q(
      "q19_text_fingerprint",
      (s, d) => {
        import s.implicits._
        Tables.documents(s, d)
          .select($"doc_id", TextFns.fingerprint($"text").as("fingerprint"))
          .orderBy($"doc_id")
      },
      Some("""
        SELECT doc_id,
               MD5(TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fingerprint
        FROM documents
        ORDER BY doc_id"""),
      doc = "Deterministic md5-of-normalized-text document fingerprint."),

    Q(
      "q36_rolling_fingerprint",
      (s, d) => {
        import s.implicits._
        Tables.documents(s, d)
          .select($"doc_id", TextFns.rollingFingerprint($"text").as("rfp"))
          .orderBy($"doc_id")
      },
      Some("""
        SELECT doc_id,
               LIST_REDUCE(
                 LIST_PREPEND(CAST(7 AS BIGINT),
                   LIST_TRANSFORM(RANGE(1, STRLEN(text)+1), i -> CAST(UNICODE(text[i:i]) AS BIGINT))),
                 (h, c) -> (h*31 + c) % 1000000007) AS rfp
        FROM documents
        ORDER BY doc_id"""),
      doc = "Rabin-Karp polynomial rolling-hash fingerprint (seed 7, base 31, mod 1e9+7) — exact integer arithmetic, reproduced fold-for-fold by the DuckDB oracle."),

    Q(
      "q55_cdc_chunking",
      (s, d) => {
        import s.implicits._
        // Content-defined chunking: boundary positions from the native
        // O(n) rolling windowed hash (codegen'd CdcBoundaries). The
        // oracle recomputes every window's fold from scratch (O(n·w)),
        // so agreement checks the incremental modular arithmetic itself.
        // Boundaries emitted as a csv string (NOTES rule 7).
        Tables.documents(s, d)
          .select($"doc_id", graft.functions.CdcBoundaries($"text").as("b"))
          .select($"doc_id",
            size($"b").cast("long").as("n_boundaries"),
            concat_ws(",", transform($"b", x => x.cast("string"))).as("boundaries"))
          .orderBy($"doc_id")
      },
      Some("""
        WITH cps AS (SELECT doc_id,
               LIST_TRANSFORM(RANGE(1, LENGTH(text) + 1),
                 i -> CAST(UNICODE(text[i:i]) AS BIGINT)) AS c
             FROM documents),
        b AS (SELECT doc_id,
                LIST_FILTER(RANGE(8, LEN(c) + 1),
                  p -> LIST_REDUCE(c[p-7:p], (h, x) -> (h*31 + x) % 1000000007) % 64 = 0) AS bs
              FROM cps)
        SELECT doc_id, CAST(LEN(bs) AS BIGINT) AS n_boundaries,
               COALESCE(ARRAY_TO_STRING(bs, ','), '') AS boundaries
        FROM b
        ORDER BY doc_id"""),
      doc = "Content-defined chunking boundaries (Rabin CDC, window 8 / div 64): native codegen'd rolling hash, oracle-checked against a per-window fold — the byte-level dedup primitive."),

    Q(
      "q44_compression_quality",
      (s, d) => {
        implicit val sp = s
        import s.implicits._
        graft.operators.TextQuality.compressionStats(Tables.documents(s, d))
          .toDF()
          .select($"doc_id", $"raw_len", $"comp_len")
          .orderBy($"doc_id")
      },
      None, // zlib isn't expressible in SQL — rows-only at the driver
      // gate; TextQualitySpec pins determinism + the redundancy ordering
      doc = "Deflate compression ratio per document (Gopher/CCNet redundancy filter): one Deflater per partition, linear scan, no shuffle. Spec-verified (zlib has no SQL oracle).")
  ,
    Q(
      "q137_vocab_encode",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        // VOCABULARY BUILD + ID-ENCODE — the tokenize→ids step every
        // training pipeline runs before sequence packing (q42 consumes
        // exactly this shape). Stage 1 builds the top-V vocabulary by
        // global frequency (count desc, token asc — fully deterministic;
        // the global window sorts only the DISTINCT-token table, which
        // is vocabulary-sized, never corpus-sized). Stage 2 broadcasts
        // the vocabulary into a left join and re-assembles each
        // document's id sequence IN TOKEN ORDER (collect_list of
        // (pos, id) structs, array_sort, project) — order-safe under
        // any partitioning, emitted as a joined string per the
        // determinism rules. OOV → 0, the conventional UNK id.
        // (r19: Scatter.even before this explode was measured a NET LOSS
        // — the explode feeds map-side-combining aggregates, so the
        // pre-explode text shuffle costs more than the single-task
        // tokenization it parallelizes; same finding on q188/q189.)
        val toks = Tables.documents(s, d)
          .select($"doc_id", posexplode(split($"text", " ")).as(Seq("pos", "token")))
          .filter(length($"token") > 0)
        val vocab = toks.groupBy($"token").agg(count(lit(1)).as("n"))
          .withColumn("id", row_number().over(Window.orderBy($"n".desc, $"token")))
          .filter($"id" <= 16)
          .select($"token", $"id")
        toks.join(broadcast(vocab), Seq("token"), "left")
          .select($"doc_id", $"pos", coalesce($"id", lit(0)).as("id"))
          .groupBy($"doc_id")
          .agg(
            array_join(transform(array_sort(collect_list(struct($"pos", $"id"))),
              x => x.getField("id").cast("string")), " ").as("ids"),
            count(lit(1)).as("n_tokens"),
            sum(when($"id" === 0, 1L).otherwise(0L)).as("n_oov"))
          .orderBy($"doc_id")
      },
      Some("""
        WITH toks AS (
          SELECT doc_id, pos, token FROM (
            SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS token,
                   GENERATE_SUBSCRIPTS(STRING_SPLIT(text, ' '), 1) AS pos
            FROM documents) t
          WHERE LENGTH(token) > 0),
        vocab AS (
          SELECT token, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, token) AS id
          FROM toks GROUP BY token
          QUALIFY id <= 16),
        enc AS (
          SELECT t.doc_id, t.pos, COALESCE(v.id, 0) AS id
          FROM toks t LEFT JOIN vocab v USING (token))
        SELECT doc_id,
               STRING_AGG(CAST(id AS VARCHAR), ' ' ORDER BY pos) AS ids,
               COUNT(*) AS n_tokens,
               CAST(SUM(CASE WHEN id = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
        FROM enc GROUP BY doc_id ORDER BY doc_id"""),
      doc = "Vocabulary build + id-encode (tokenize→ids): top-V vocabulary by global frequency with deterministic tie-break, broadcast left join, order-safe per-document sequence reassembly via (pos, id) struct sort — the training-pipeline step ahead of q42's sequence packing, OOV as id 0; oracle re-derives the identical vocabulary and sequences.")
  ,
    Q(
      "q140_bpe_encode",
      (s, d) => {
        import s.implicits._
        import graft.operators.Bpe
        // SUB-WORD (BPE) tokenization with the fixed rank-ordered merges
        // table (operators/Bpe.StandardMerges) shipped as a literal into
        // ONE codegen'd expression — pure per-row scalar, no shuffle.
        // The gate is maximal: the FULL token sequence (not just counts)
        // must match DuckDB replaying the identical merge passes via a
        // REPLACE chain GENERATED FROM THE SAME SCALA CONSTANT
        // (Bpe.oracleEncodeSql) — one merges definition, two engines.
        // the REPLACE-chain tokenizer is the per-row cost — run it on
        // the parallel side of the ORDER BY's own range exchange
        // (Scatter.ordered: same plan shape, every core tokenizing)
        graft.operators.Scatter.ordered(
          Tables.documents(s, d).select($"doc_id", $"text"), Seq($"doc_id")) {
          _.select($"doc_id", Bpe.encode($"text").as("tokens"))
            .select($"doc_id", Bpe.tokenCount($"tokens").as("n_tokens"), $"tokens")
        }
      },
      Some(s"""
        WITH words AS (
          SELECT doc_id, pos, w FROM (
            SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w,
                   GENERATE_SUBSCRIPTS(STRING_SPLIT(text, ' '), 1) AS pos
            FROM documents) t
          WHERE LENGTH(w) > 0),
        enc AS (SELECT doc_id, pos, ${graft.operators.Bpe.oracleEncodeSql("w")} AS e
                FROM words),
        agg AS (SELECT doc_id,
                  CAST(SUM(LEN(STRING_SPLIT(e, ' '))) AS BIGINT) AS n_tokens,
                  STRING_AGG(e, ' ' ORDER BY pos) AS tokens
                FROM enc GROUP BY doc_id)
        SELECT d.doc_id, COALESCE(a.n_tokens, 0) AS n_tokens,
               COALESCE(a.tokens, '') AS tokens
        FROM documents d LEFT JOIN agg a USING (doc_id)
        ORDER BY doc_id"""),
      doc = "Sub-word BPE tokenization (fixed rank-ordered merges table as a literal in one codegen'd expression; rank-ordered left-to-right replace passes over delimited symbols — the deterministic, SQL-replayable BPE variant): full token sequences gate-checked against DuckDB executing a REPLACE chain generated from the SAME merges constant; high-frequency words collapse to single tokens, the tail splits into genuine sub-word pieces with </w> word boundaries.")
  ,
    Q(
      "q146_bpe_learn",
      (s, d) => {
        import s.implicits._
        // BPE vocabulary INDUCTION (the training half; q140 is the
        // frozen-deployment half): Bpe.learnMerges greedily learns 24
        // merge rules from the corpus word-frequency table —
        // deterministic argmax (count desc, pair lexicographic), no RNG.
        // Iterative argmax is not SQL-expressible, so this is a
        // rows-only gate; BpeSpec pins the learner against an
        // independent sequential reference AND pins that encoding with
        // the learned table compresses the corpus it was trained on.
        val learned = learnedMerges(s, d)
        learned.zipWithIndex
          .map { case ((p, m), i) => (i.toLong + 1, p, m) }
          .toDF("rank", "pair", "merged")
          .orderBy($"rank")
      },
      None,
      doc = "BPE merge-table learning (vocabulary induction): greedy highest-count adjacent-pair merges over the word-frequency table — the iterative state is vocabulary-sized, never corpus-sized, so 100 TB costs one tokenize+count shuffle plus tiny per-round jobs; deterministic count-desc/lexicographic argmax, rule application via the same non-overlapping replace pass as encode; learner pinned to a sequential reference and to measured corpus compression in BpeSpec (iterative argmax has no SQL oracle).")
  ) :+ featureHashQ :+ uniTokensQ :+ byteBpeQ :+ uniFingerprintQ :+ scriptMixQ :+ unsegScaleQ :+ htmlExtractQ :+ nfcNormalizeQ :+ nfcDedupQ

  private lazy val featureHashQ: Q = Q(
    "q150_feature_hash",
    (s, d) => {
      import s.implicits._
      // FEATURE HASHING (the hashing trick): every token maps to one of
      // 32 buckets via an md5-derived hash — fixed output dimension with
      // NO vocabulary state (the q137 vocab table disappears entirely),
      // which is why it scales to unbounded token spaces: featurization
      // is a pure per-row function, collisions are the accepted trade.
      // Dense 32-dim count vectors emitted as joined strings (rule 7)
      // via the (pos, value) struct-sort reassembly; the bucket function
      // is the engine's standard md5 idiom (q37), replayed exactly by
      // the oracle. One scan + one bounded agg; the dense grid is
      // docs × 32 — output-sized, never corpus × vocab.
      // The dense 32-dim vector is assembled as 32 CONDITIONAL COUNTERS
      // in ONE doc-keyed aggregation (r20, guide §2.4): the fixed
      // output dimension means the whole histogram fits a constant-
      // width aggregation buffer (32 longs), so the per-(doc_id, b)
      // pre-aggregation + second per-doc aggregation of the earlier
      // form — TWO exchanges, a collect_list and a map lookup — fuse
      // into one map-side-combined pass with one exchange. Zeros fill
      // themselves (a sum over an empty condition is 0); only
      // token-less docs need the left-join backfill. (No Scatter here:
      // the explode already widens the stream ahead of a
      // map-side-combining aggregate, and the added exchange measured
      // as a net loss.)
      val toks = Tables.documents(s, d)
        .select($"doc_id", explode(split($"text", " ")).as("tok"))
        .filter(length($"tok") > 0)
        .select($"doc_id",
          (conv(substring(md5($"tok"), 1, 8), 16, 10).cast("long") % 32).as("b"))
      val bucketCounts = (0L until 32L).map(i =>
        sum(when($"b" === i, 1L).otherwise(0L)).as(s"c$i"))
      val vecs = toks.groupBy($"doc_id")
        .agg(bucketCounts.head, bucketCounts.tail :+ count(lit(1)).as("nt"): _*)
        .select($"doc_id",
          concat_ws(" ", (0L until 32L).map(i => col(s"c$i").cast("string")): _*)
            .as("v"), $"nt")
      Tables.documents(s, d).select($"doc_id")
        .join(vecs, Seq("doc_id"), "left")
        .select($"doc_id",
          coalesce($"v", lit(Seq.fill(32)("0").mkString(" "))).as("vec"),
          coalesce($"nt", lit(0L)).as("n_tokens"))
        .orderBy($"doc_id")
    },
    Some("""
      WITH toks AS (
        SELECT doc_id,
               CAST('0x' || SUBSTR(MD5(tok), 1, 8) AS BIGINT) % 32 AS b
        FROM (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents) t
        WHERE LENGTH(tok) > 0),
      counts AS (SELECT doc_id, b, COUNT(*) AS n FROM toks GROUP BY 1, 2),
      grid AS (SELECT d.doc_id, g.b FROM documents d
               CROSS JOIN (SELECT UNNEST(RANGE(0, 32)) AS b) g),
      dense AS (SELECT g.doc_id, g.b, COALESCE(c.n, 0) AS n
                FROM grid g LEFT JOIN counts c USING (doc_id, b))
      SELECT doc_id,
             STRING_AGG(CAST(n AS VARCHAR), ' ' ORDER BY b) AS vec,
             CAST(SUM(n) AS BIGINT) AS n_tokens
      FROM dense GROUP BY doc_id ORDER BY doc_id"""),
    doc = "Feature hashing (the hashing trick): tokens map to a fixed 32-dim space via md5-derived buckets — zero vocabulary state, pure per-row featurization, collisions as the documented trade; dense count vectors as joined strings, oracle replays the identical bucket function; the stateless sibling of q137's vocab-table encoding.")

  private lazy val scriptMixQ: Q = Q(
    "q182_script_mix",
    (s, _) => {   // multilingual fixture is SF-independent; dir arg unused
      import s.implicits._
      // SCRIPT-MIX / code-switching signal: per-class token counts over
      // the unicode token stream (ideograph unigrams vs digit runs vs
      // letter runs) + exact integer permille fractions + a dominant
      // class with fixed tie order — the curation feature that routes
      // multilingual documents (per-language caps, mixed-script spam
      // filters) without a language model. ONE classifier definition
      // (operators/ScriptMix, class regexes GENERATED from the UniTok
      // range constants) serves this gate row, the batch routing
      // aggregate, and its streaming complete-mode twin (StreamingSpec
      // pins batch == streaming exactly); integer permille keeps the
      // gate bitwise.
      graft.operators.ScriptMix.classify(s.read.parquet(UniFixture.ensure(s)))
        .orderBy($"doc_id")
    },
    Some(s"""
      WITH t AS (
        SELECT doc_id,
               REGEXP_EXTRACT_ALL(LOWER(txt), '${graft.functions.UniTok.oracleRegex}') AS toks
        FROM read_parquet('${UniFixture.Root}/*.parquet')),
      c AS (
        SELECT doc_id,
               CAST(LEN(toks) AS BIGINT) AS n_tokens,
               CAST(LEN(LIST_FILTER(toks, t -> REGEXP_MATCHES(t, '^${graft.functions.UniTok.oracleRegex.split("\\|")(0)}$$'))) AS BIGINT) AS n_ideo,
               CAST(LEN(LIST_FILTER(toks, t -> REGEXP_MATCHES(t, '^[0-9]+$$'))) AS BIGINT) AS n_digit
        FROM t)
      SELECT doc_id, n_tokens, n_ideo, n_digit,
             n_tokens - n_ideo - n_digit AS n_alpha,
             CASE WHEN n_tokens = 0 THEN 0 ELSE (n_ideo * 1000) // n_tokens END AS ideo_pm,
             CASE WHEN n_ideo >= n_tokens - n_ideo - n_digit AND n_ideo >= n_digit THEN 'ideo'
                  WHEN n_tokens - n_ideo - n_digit >= n_digit THEN 'alpha'
                  ELSE 'digit' END AS main_class
      FROM c
      ORDER BY doc_id"""),
    doc = "Script-mix / code-switching signal: per-class unicode token counts (ideograph unigrams vs letter runs vs digit runs), exact integer permille fractions, and a dominant class with fixed tie order — the model-free curation feature for per-language caps and mixed-script spam routing; class regexes generated from the same UniTok range constants, DuckDB filters the identical token lists.")

  private lazy val uniFingerprintQ: Q = Q(
    "q181_fingerprint_unicode",
    (s, _) => {   // multilingual fixture is SF-independent; dir arg unused
      import s.implicits._
      // BOTH fingerprints side by side over the multilingual fixture:
      // the ASCII-normalized key (q19's) strips every non-ASCII char, so
      // ALL pure-CJK docs collapse to md5('') — a fingerprint-keyed
      // dedup would silently drop every CJK document after the first.
      // The unicode fingerprint (md5 over the q176 token stream) keys
      // distinct docs distinctly. The gate pins the COLLISION and its
      // fix in one artifact; both engines replay both derivations.
      s.read.parquet(TextQueries.UniFixture.ensure(s))
        .select($"doc_id",
          graft.functions.TextFns.fingerprint($"txt").as("fp_ascii"),
          graft.functions.TextFns.fingerprintUni($"txt").as("fp_uni"))
        .orderBy($"doc_id")
    },
    Some(s"""
      SELECT doc_id,
             MD5(TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(txt), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fp_ascii,
             CASE WHEN LEN(REGEXP_EXTRACT_ALL(LOWER(txt), '${graft.functions.UniTok.oracleRegex}')) = 0
                       AND LENGTH(txt) > 0
                  THEN MD5(txt)
                  ELSE MD5(ARRAY_TO_STRING(REGEXP_EXTRACT_ALL(LOWER(txt), '${graft.functions.UniTok.oracleRegex}'), ' '))
             END AS fp_uni
      FROM read_parquet('${UniFixture.Root}/*.parquet')
      ORDER BY doc_id"""),
    doc = "Content fingerprints on multilingual text: the ASCII-normalized md5 collapses all pure-CJK documents to one key (dedup would drop them as duplicates — the trap, pinned), the unicode-token md5 keys them distinctly (the fix); DuckDB replays both derivations, tokenization via the generated regex.")

  private lazy val unsegScaleQ: Q = Q(
    "q186_unseg_fallback_scale",
    (s, _) => {   // dedicated unsegmentable-script fixture; dir arg unused
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      // THE UNSEGMENTABLE FALLBACK AT CORPUS VOLUME: 2 600+ docs in
      // dictionary-dependent scripts (Thai, Devanagari) that UniTok
      // segments to ZERO tokens by design. The md5-raw fallback must key
      // every DISTINCT document distinctly (no false merges — the
      // md5('') collision class this fallback exists to kill) while
      // exact duplicates still collapse to one survivor, empty docs keep
      // the canonical md5('') class, and a punctuation variant does NOT
      // merge (the documented conservative failure for these scripts:
      // no canonicalization, never a cross-document collision). Survivor
      // selection is the fingerprint-dedup shape: min doc_id per key,
      // one map-side-combinable window — linear at any corpus size.
      val w = Window.partitionBy($"fp_uni")
      s.read.parquet(UnsegFixture.ensure(s))
        .select($"doc_id", TextFns.fingerprintUni($"txt").as("fp_uni"))
        .withColumn("survivor", min($"doc_id").over(w))
        .withColumn("is_survivor", $"survivor" === $"doc_id")
        .orderBy($"doc_id")
    },
    Some(s"""
      WITH fp AS (
        SELECT doc_id,
               -- explicit empty-text branch: DuckDB's ARRAY_TO_STRING of
               -- an EMPTY match list is NULL (not ''), so the canonical
               -- md5('') class for truly empty docs needs its own arm
               CASE WHEN txt IS NULL THEN NULL
                    WHEN LENGTH(txt) = 0 THEN MD5('')
                    WHEN LEN(REGEXP_EXTRACT_ALL(LOWER(txt), '${graft.functions.UniTok.oracleRegex}')) = 0
                    THEN MD5(txt)
                    ELSE MD5(ARRAY_TO_STRING(REGEXP_EXTRACT_ALL(LOWER(txt), '${graft.functions.UniTok.oracleRegex}'), ' '))
               END AS fp_uni
        FROM read_parquet('${UnsegFixture.Root}/*.parquet'))
      SELECT doc_id, fp_uni,
             MIN(doc_id) OVER (PARTITION BY fp_uni) AS survivor,
             MIN(doc_id) OVER (PARTITION BY fp_uni) = doc_id AS is_survivor
      FROM fp
      ORDER BY doc_id"""),
    doc = "The unsegmentable-script fallback at corpus volume: 2 600+ distinct Thai/Devanagari documents (zero UniTok tokens by design) each keyed DISTINCTLY by the raw-md5 fallback — no false merges — while planted exact duplicates collapse to one survivor, empty docs share the canonical md5('') class, and punctuation variants stay separate (the documented conservative failure); DuckDB replays fingerprint CASE + window-min survivor selection.")

  private lazy val byteBpeQ: Q = Q(
    "q177_byte_bpe",
    (s, d) => {
      import s.implicits._
      import graft.operators.Bpe
      // BYTE-LEVEL BPE: the document's UTF-8 bytes symbolize as hex
      // pairs over ONE delimited string — no word split, no </w>, no
      // OOV, and merges CROSS word boundaries (ByteMerges collapses
      // ' the ' to a single token, impossible at word level). Same
      // one-constant/two-engines gate as q140: DuckDB replays the
      // identical rank-ordered replace passes via a chain generated
      // from Bpe.ByteMerges (Bpe.oracleByteEncodeSql).
      Tables.documents(s, d)
        .select($"doc_id", Bpe.encodeBytes($"text").as("tokens"))
        .select($"doc_id", Bpe.tokenCount($"tokens").as("n_tokens"), $"tokens")
        .orderBy($"doc_id")
    },
    Some(s"""
      SELECT doc_id,
             CAST(CASE WHEN LENGTH(e) = 0 THEN 0
                  ELSE LEN(STRING_SPLIT(e, ' ')) END AS BIGINT) AS n_tokens,
             e AS tokens
      FROM (SELECT doc_id, ${graft.operators.Bpe.oracleByteEncodeSql("text")} AS e
            FROM documents)
      ORDER BY doc_id"""),
    doc = "Byte-level BPE (hex-pair symbols over UTF-8 bytes, one delimited string per document — the GPT-2-style no-OOV, delimiter-free tier): full token sequences gate-checked against DuckDB executing a REPLACE chain generated from the SAME ByteMerges constant; space is byte 20, an ordinary symbol, so ' the ' collapses across word boundaries.")

  private lazy val uniTokensQ: Q = Q(
    "q176_unicode_tokens",
    (s, _) => {   // multilingual fixture is SF-independent; dir arg unused
      import s.implicits._
      val root = UniFixture.ensure(s)
      // per-doc token MULTISET (token, n): pins every segmentation rule —
      // a run split too early, a dropped ideograph, or a divergent
      // lowercase mapping all change the multiset. The segmenter is the
      // codegen'd UniTokenize expression; the oracle replays it with a
      // regex GENERATED from the same range constants (UniTok.oracleRegex)
      s.read.parquet(root)
        .select($"doc_id", explode(graft.functions.UniTokenize($"txt")).as("token"))
        .groupBy($"doc_id", $"token")
        .agg(count(lit(1)).as("n"))
        .orderBy($"doc_id", $"token")
    },
    Some(s"""
      SELECT doc_id, tok AS token, COUNT(*) AS n
      FROM (SELECT doc_id,
                   UNNEST(REGEXP_EXTRACT_ALL(LOWER(txt), '${graft.functions.UniTok.oracleRegex}')) AS tok
            FROM read_parquet('${UniFixture.Root}/*.parquet'))
      GROUP BY doc_id, tok
      ORDER BY doc_id, token"""),
    doc = "Unicode codepoint-class segmentation (CJK unigrams + accented-Latin/Greek/Cyrillic runs, lowercase-then-classify) over a committed multilingual fixture; Spark runs the codegen'd UniTokenize expression, DuckDB replays with a regex generated from the SAME range constants — one classifier definition, two engines (the Bpe oracle-generation discipline applied to tokenization).")

  // learned merges per (session, dir): a driver-resident Seq (tiny);
  // learning is deterministic so memoization is semantics-free
  private val learnCache =
    QueryCaches.memo[(org.apache.spark.sql.SparkSession, String), Seq[(String, String)]]()
  private def learnedMerges(s: org.apache.spark.sql.SparkSession, d: String): Seq[(String, String)] =
    learnCache((s, d)) {
      graft.operators.Bpe.learnMerges(Tables.documents(s, d), "text", nMerges = 24)
    }

  /** Deterministic multilingual fixture for the Unicode tokenizer gate
    * (q176): the testdata documents are ASCII English, so the
    * CJK/Greek/Cyrillic/diacritics surface needs its own rows. Content
    * is a pure function of index (no RNG, no clock), written once per
    * JVM to a FIXED path so the DuckDB oracle — a static SQL string —
    * reads the SAME parquet (the CnpjLakeQueries.Lake discipline).
    */
  object UniFixture {
    val Root = "/root/repo/target/unitok_fixture"
    /** Each fragment exercises a distinct segmentation rule; uppercase
      * rows pin the lowercase-then-classify order on both engines.
      */
    private val frags = Seq(
      "the quick brown fox 2026 jumps",                        // ASCII + digit run
      "café naïve über señor ação résumé",                     // Latin diacritics stay in-run
      "数据处理引擎大规模分布式计算",                            // zh: unigrams, no delimiters
      "データパイプラインの設計",                                // ja: katakana + hiragana + kanji
      "대규모 데이터 엔진",                                      // ko: hangul syllables
      "ανάλυση δεδομένων μεγάλης κλίμακας",                    // el: accented lowercase Greek
      "обработка данных в масштабе",                           // ru: Cyrillic runs
      "spark引擎merge排序2026window",                           // mixed script boundaries
      "hello, world! 🙂 (punct)[ok]{fine} #tag @user",         // separators incl. astral emoji
      "MIXED Case ÉCOLE Größe ΑΛΦΑ МОСКВА")                    // uppercase → simple lowercase
    private val once = new FixtureOnce(Root, parts = 1)
    def ensure(s: org.apache.spark.sql.SparkSession): String = once.ensure(s)(
      (0 until 40).map(i => (i.toLong, frags(i % frags.size) + " " + (1000 + i))),
      "doc_id", "txt")
  }

  /** Deterministic UNSEGMENTABLE-script fixture for q186: 2 400 distinct
    * Thai/Devanagari docs (scripts UniTok classifies entirely as
    * separators — zero tokens by design), 200 planted exact duplicates,
    * 3 empty docs, and 2 punctuation/whitespace variants. Content is a
    * pure function of index (the UniFixture discipline): the first
    * "word" of each doc encodes its index in the script's own code-point
    * block, so every base doc is distinct BY CONSTRUCTION — the property
    * the raw-md5 fallback must preserve.
    */
  private lazy val htmlExtractQ: Q = Q(
    "q191_html_extract",
    (s, _) => {   // dedicated HTML fixture; dir arg unused
      import s.implicits._
      // HTML -> TEXT EXTRACTION, the step every web-crawl corpus runs
      // before any other curation: comments, then script/style blocks
      // WITH their payloads, then remaining tags; named entities decode
      // with &amp; LAST (so double-encoded &amp;lt; yields the literal
      // text "&lt;", not "<" — edge doc 1203 pins the order);
      // whitespace squeezes. Link density (anchor text chars permille,
      // anchors counted AFTER block removal so commented-out links are
      // dead) is THE structural boilerplate signal nav bars and footers
      // trip. All regex patterns are RE2-safe and shared verbatim with
      // the oracle; the whole row is one codegen'd scalar pass — no
      // shuffle at any corpus scale.
      TextFns.htmlExtract(s.read.parquet(HtmlFixture.ensure(s)), "doc_id", "html")
        .orderBy($"doc_id")
    },
    Some {
      s"""
      WITH ex AS (
        SELECT doc_id,
               ${HtmlOracleSql.stripped("html")} AS text,
               ${HtmlOracleSql.linkCols("html")}
        FROM read_parquet('${HtmlFixture.Root}/*.parquet'))
      SELECT doc_id, n_links, link_chars,
             CAST(LENGTH(text) AS BIGINT) AS text_chars,
             CAST(CASE WHEN LENGTH(text) > 0
                  THEN (link_chars * 1000) // LENGTH(text) ELSE 0 END AS BIGINT) AS link_permille,
             text
      FROM ex
      ORDER BY doc_id"""
    },
    doc = "HTML -> text extraction + link-density boilerplate signal over a 1 200-doc generated HTML fixture (nav bars, scripts, styles, comments, entities, nested-tag anchors, double-encoding / unclosed-tag / script-only / link-only edges): RE2-safe regex chain shared verbatim with the oracle, integral-permille link density, one codegen'd scalar pass.")

  /** The q191 extraction chain replayed in DuckDB for an input
    * expression — generated from the SAME pattern constants the Spark
    * side uses, factored so q191 (the fixture gate) and q218 (the
    * WARC→HTTP→HTML ladder) share one replay and can never drift.
    */
  private[queries] object HtmlOracleSql {
    import graft.functions.TextFns._
    def blocksRemoved(e: String): String = {
      val noComment = s"REGEXP_REPLACE($e, '$HtmlCommentPattern', ' ', 'g')"
      val noScript = s"REGEXP_REPLACE($noComment, '$HtmlScriptPattern', ' ', 'g')"
      s"REGEXP_REPLACE($noScript, '$HtmlStylePattern', ' ', 'g')"
    }
    // anchors extracted from the blocks-removed form (commented-out
    // links are dead); bodies re-stripped so nested tags don't count
    def tagsEntities(e: String): String = {
      val noTags = s"REGEXP_REPLACE($e, '$HtmlTagPattern', ' ', 'g')"
      val decoded = HtmlEntities.foldLeft(noTags) { case (acc, (ent, rep)) =>
        s"REPLACE($acc, '$ent', '${rep.replace("'", "''")}')"
      }
      s"TRIM(REGEXP_REPLACE($decoded, '$HtmlSpacePattern', ' ', 'g'))"
    }
    // the document chain IS the anchor chain over the blocks-removed
    // form — one definition, so the two can never drift apart
    def stripped(e: String): String = tagsEntities(blocksRemoved(e))
    /** The `TextFns.htmlTextLines` twin: split the blocks-removed form
      * on `<br>` breaks, strip each segment, rejoin on newline.
      */
    def strippedLines(e: String): String =
      s"ARRAY_TO_STRING(LIST_TRANSFORM(STRING_SPLIT_REGEX(" +
        s"${blocksRemoved(e)}, '${TextFns.HtmlBrPattern}'), " +
        s"s -> ${tagsEntities("s")}), chr(10))"
    def anchors(e: String): String =
      s"REGEXP_EXTRACT_ALL(${blocksRemoved(e)}, '$HtmlAnchorPattern', 1)"
    /** `n_links` + `link_chars` column pair for an html expression. */
    def linkCols(e: String): String =
      s"""CAST(LEN(${anchors(e)}) AS BIGINT) AS n_links,
               CAST(COALESCE(LIST_SUM(LIST_TRANSFORM(${anchors(e)},
                 a -> LENGTH(${tagsEntities("a")}))), 0) AS BIGINT) AS link_chars"""
  }

  /** Deterministic HTML corpus: 1 200 generated pages (nav with 6 links,
    * script + style + comment blocks each containing trap markup, three
    * prose paragraphs with entities, a nested-tag inline anchor) plus
    * edge docs — empty, script-only, markup-free, double-encoded
    * `&amp;lt;` (decode-order pin), unclosed tag (no `>`: survives as
    * literal text in both engines), and a link-only page (permille
    * exactly 1000).
    */
  object HtmlFixture {
    val Root = "/root/repo/target/html_fixture"
    private def word(seed: Long, len: Int): String =
      (0 until len).map(j =>
        ('a' + (((seed * 31 + j * 7) % 26 + 26) % 26).toInt).toChar).mkString
    private def para(i: Int, k: Int): String =
      "<p>" + (0 until 12).map(j =>
        word(i.toLong * 97 + k * 13 + j, 4 + (i + j) % 5)).mkString(" ") +
        (if (k == 1) " Q&amp;A says 5 &lt; 7 &amp; 9 &gt; 3" else "") + ".</p>"
    private def doc(i: Int): String = {
      val nav = "<nav>" + (0 until 6).map(k =>
        s"""<a href="/s$k">section $k ${word(i.toLong + k, 4)}</a>""").mkString(" | ") + "</nav>"
      val script =
        s"""<script type="text/javascript">var x_$i = 1 < 2 && 3 > 2; // junk</script>"""
      val style = s"<style>.c$i { color: red; }</style>"
      val comment =
        s"""<!-- build $i <div>hidden</div> <a href="/dead">dead link</a> -->"""
      val paras = (0 until 3).map(k => para(i, k)).mkString("\n")
      val inlineA =
        s"""<p>more: <a href="#m$i"><b>read ${word(i.toLong, 5)}</b></a> &nbsp;&quot;q&quot; &#39;s&#39;</p>"""
      s"<html><head>$style$script$comment</head><body>$nav\n$paras\n$inlineA</body></html>"
    }
    private val once = new FixtureOnce(Root)
    def ensure(s: org.apache.spark.sql.SparkSession): String = once.ensure(s)({
        val main = (0 until 1200).map(i => (i.toLong, doc(i)))
        val edges = Seq(
          (1200L, ""),
          (1201L, "<script>only script, strips to empty</script>"),
          (1202L, "plain text, no markup at all"),
          (1203L, "&amp;lt; stays literal &lt; after decode"),
          (1204L, "<p>broken <em oops unclosed tag stays"),
          (1205L, """<a href="/only">only a link</a>"""),
          // U+000B vertical tab: Java \s squeezes it, RE2 \s does NOT —
          // this doc pins the explicit HtmlSpacePattern class that keeps
          // both engines squeezing the same set
          (1206L, "vt\u000Bseparated\u000B words here"))
        main ++ edges
      }, "doc_id", "html")
  }

  object UnsegFixture {
    val Root = "/root/repo/target/unseg_fixture"
    private def word(block: Int, span: Int, seed: Long, len: Int): String =
      (0 until len).map { j =>
        (block + (((seed * 31 + j * 7) % span + span) % span).toInt).toChar
      }.mkString
    /** Index-encoding first word (base-`span` digits, little-endian) +
      * deterministic filler words.
      */
    private def doc(block: Int, span: Int, i: Int): String = {
      val idWord = {
        var n = i; val sb = new StringBuilder
        while ({ sb.append((block + n % span).toChar); n /= span; n > 0 }) ()
        sb.toString
      }
      idWord + " " + (0 until 4).map(k => word(block, span, i.toLong * 13 + k, 5)).mkString(" ")
    }
    private val ThaiBlock = 0x0E01   // Thai consonants ก..ฮ
    private val ThaiSpan = 46
    private val DevaBlock = 0x0905   // Devanagari independent vowels + consonants
    private val DevaSpan = 53
    private val once = new FixtureOnce(Root)
    def ensure(s: org.apache.spark.sql.SparkSession): String = once.ensure(s)({
        val thai = (0 until 1200).map(i => (i.toLong, doc(ThaiBlock, ThaiSpan, i)))
        val deva = (0 until 1200).map(i => ((1200 + i).toLong, doc(DevaBlock, DevaSpan, i)))
        // exact duplicates of every 6th Thai doc: same raw bytes → same
        // fallback key → must collapse to the earlier survivor
        val dups = (0 until 200).map(j => ((2400 + j).toLong, doc(ThaiBlock, ThaiSpan, j * 6)))
        // truly empty docs keep the canonical md5('') class (shared)
        val empties = (0 until 3).map(j => ((2600 + j).toLong, ""))
        // punctuation/whitespace variants of doc 0/1200: raw-md5 gives
        // them DISTINCT keys (no canonicalization for these scripts —
        // the documented conservative failure, never a collision)
        val variants = Seq(
          (2603L, doc(ThaiBlock, ThaiSpan, 0) + "!"),
          (2604L, " " + doc(DevaBlock, DevaSpan, 0)))
        thai ++ deva ++ dups ++ empties ++ variants
      }, "doc_id", "txt")
  }

  private lazy val nfcNormalizeQ: Q = Q(
    "q206_unicode_normalize",
    (s, _) => {   // NfcFixture; dir arg unused
      import s.implicits._
      // UNICODE NFC NORMALIZATION — the curation step that makes every
      // hash-keyed dedup tier robust to ENCODING variance: the same
      // logical text arrives composed (U+00E9) or decomposed
      // (e + U+0301) from different crawls, byte-distinct but rendering
      // identically. NFC, deliberately not NFKC (canonical equivalence
      // preserves meaning; ﬁ vs fi stays distinct — fixture-pinned).
      // Cross-engine exactness rests on the Unicode normalization
      // stability policy (assigned code points never change), so the
      // JDK and the oracle's utf8proc agree byte-for-byte. One
      // codegen'd scalar pass, no shuffle.
      val t = s.read.parquet(NfcFixture.ensure(s))
      t.select($"doc_id",
          graft.functions.NfcNormalize($"text").as("norm"),
          (graft.functions.NfcNormalize($"text") =!= $"text").cast("long").as("changed"),
          length($"text").cast("long").as("len_raw"),
          length(graft.functions.NfcNormalize($"text")).cast("long").as("len_nfc"))
        .orderBy($"doc_id")
    },
    Some(s"""
      SELECT doc_id,
             nfc_normalize(text) AS norm,
             CAST(nfc_normalize(text) <> text AS BIGINT) AS changed,
             CAST(LENGTH(text) AS BIGINT) AS len_raw,
             CAST(LENGTH(nfc_normalize(text)) AS BIGINT) AS len_nfc
      FROM read_parquet('${NfcFixture.Root}/*.parquet')
      ORDER BY doc_id"""),
    doc = "Unicode NFC normalization (UAX #15 canonical composition) over a fixture of composed/decomposed/mixed encoding variants plus the boundary edges (ﬁ-ligature NOT folded — NFC, not NFKC; Hangul jamo composing to syllables; the U+212B Angstrom singleton; the U+0958 composition-EXCLUSION class where NFC lengthens the text; combining-mark canonical reordering): normalized text byte-exact across engines, changed flag and code-point lengths replayed; one codegen'd scalar pass, no shuffle.")

  private lazy val nfcDedupQ: Q = Q(
    "q207_normalized_dedup",
    (s, _) => {   // NfcFixture; dir arg unused
      import s.implicits._
      // Exact dedup keyed on md5(NFC(text)): the clusters this row
      // reports are INVISIBLE to raw-byte exact dedup (every member has
      // a distinct raw md5 — the n_raw_variants >= 2 filter guarantees
      // it), unified only by normalization. ONE map-side-combined hash
      // shuffle; output bounded by the encoding-variant mass.
      val t = s.read.parquet(NfcFixture.ensure(s))
      t.select($"doc_id",
          md5(graft.functions.NfcNormalize($"text").cast("binary")).as("norm_md5"),
          md5($"text".cast("binary")).as("raw_md5"))
        .groupBy($"norm_md5")
        .agg(min($"doc_id").as("survivor_id"),
          count(lit(1)).as("n_docs"),
          countDistinct($"raw_md5").as("n_raw_variants"))
        .filter($"n_raw_variants" >= 2)
        .orderBy($"norm_md5")
    },
    Some(s"""
      SELECT MD5(nfc_normalize(text)) AS norm_md5,
             MIN(doc_id) AS survivor_id,
             COUNT(*) AS n_docs,
             CAST(COUNT(DISTINCT MD5(text)) AS BIGINT) AS n_raw_variants
      FROM read_parquet('${NfcFixture.Root}/*.parquet')
      GROUP BY MD5(nfc_normalize(text))
      HAVING COUNT(DISTINCT MD5(text)) >= 2
      ORDER BY norm_md5"""),
    doc = "Normalization-keyed exact dedup: groups by md5 of the NFC form, restricted to clusters whose members are RAW-byte distinct (n_raw_variants >= 2) — the duplicates raw exact dedup (q20) structurally cannot see, collapsed with min-id survivor election; one map-side-combined shuffle, output bounded by the encoding-variant mass.")

  /** Deterministic encoding-variance corpus for the NFC tier: 300
    * logical accented-prose pages, each emitted THREE ways — composed
    * (NFC), fully decomposed (NFD, via the platform normalizer in the
    * generator), and mixed (NFD head + NFC tail) — so every logical
    * page is one q207 cluster of three raw-distinct variants. Edge
    * docs: empty; pure ASCII (changed = 0); the ﬁ-ligature vs "fi"
    * pair that NFC must NOT unify (the NFKC boundary); Hangul jamo
    * composing to syllables; the U+212B Angstrom singleton; the
    * U+0958 composition exclusion (NFC lengthens 1 -> 2 code points);
    * and the combining-mark reorder pair (dot-below + acute in both
    * orders — canonical reordering unifies them).
    */
  object NfcFixture {
    val Root = "/root/repo/target/nfc_fixture"
    private def mix64(x0: Long): Long = {
      var x = x0 + 0x9E3779B97F4A7C15L
      x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
      x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
      x ^ (x >>> 31)
    }
    // every word STARTS with an accented (composed) char so each half
    // of every page is guaranteed to differ under NFD — without the
    // guarantee, a rare accent-free half would make the mixed variant
    // collide with the base and break the 3-raw-variants-per-page
    // structure the q207 spec pins
    // explicit composed-form escapes (never literals — tooling could
    // re-normalize source text): é ö ü ñ à ç ê
    private val Accents = "\u00E9\u00F6\u00FC\u00F1\u00E0\u00E7\u00EA"
    private val Alphabet = "aeiout" + Accents
    private def word(seed: Long, len: Int): String =
      Accents(java.lang.Math.floorMod(mix64(seed * 64 - 1), Accents.length.toLong).toInt).toString +
        (1 until len).map(j =>
          Alphabet(java.lang.Math.floorMod(mix64(seed * 64 + j), Alphabet.length.toLong).toInt)).mkString
    private def logical(i: Int): String =
      (0 until 12).map(j => word(i.toLong * 127 + j * 11, 3 + (i + j) % 5)).mkString(" ")
    private def nfd(s: String): String =
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFD)
    private def nfc(s: String): String =
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC)
    private val once = new FixtureOnce(Root)
    def ensure(s: org.apache.spark.sql.SparkSession): String = once.ensure(s)({
        val main = (0 until 300).flatMap { i =>
          val base = nfc(logical(i))
          val (head, tail) = base.splitAt(base.length / 2)
          Seq((i.toLong, base),
            ((1000 + i).toLong, nfd(base)),
            ((2000 + i).toLong, nfd(head) + nfc(tail)))
        }
        // explicit escapes, never literals: an editor or toolchain can
        // silently re-normalize source text, which would erase exactly
        // the distinctions these edges exist to pin
        val edges = Seq(
          (5000L, ""),
          (5001L, "plain ascii text stays exactly as written"),
          // U+FB01 LATIN SMALL LIGATURE FI: compatibility-decomposable
          // only -- NFC must leave it alone (the NFKC boundary), so
          // 5002 and 5003 stay DISTINCT normalized docs
          (5002L, "the \uFB01rst ligature stays a ligature under nfc"),
          (5003L, "the first ligature stays a ligature under nfc"),
          // decomposed jamo U+1100 U+1161 U+11A8 -> syllable U+AC01
          (5004L, "jamo \u1100\u1161\u11A8 composes to a syllable"),
          // U+212B ANGSTROM SIGN -> U+00C5 (singleton decomposition)
          (5005L, "angstrom \u212B maps to its canonical letter"),
          // U+0958 DEVANAGARI QA: composition-EXCLUDED -- NFC expands
          // it to U+0915 U+093C (normalization that LENGTHENS the text)
          (5006L, "exclusion \u0958 stays decomposed and lengthens"),
          // dot-below (ccc 220) + acute (ccc 230) in both orders:
          // canonical reordering makes 5007 == 5008 after NFC -- a
          // two-variant q207 cluster from mark order alone
          (5007L, "marks e\u0323\u0301 in either order unify"),
          (5008L, "marks e\u0301\u0323 in either order unify"))
        main ++ edges
      }, "doc_id", "text")
  }
}
