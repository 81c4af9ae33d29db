package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{BpeByteEncodeExpr, BpeEncodeExpr}

/** Sub-word (BPE) tokenization with a FIXED merges table — the
  * tokenize-for-real step ahead of sequence packing: q42 packs by
  * whitespace token counts, q141 packs by the counts THIS tokenizer
  * produces, which is what a pretraining batch assembler actually needs
  * (budgets are model-tokenizer tokens, not words).
  *
  * The merges table is a fixed, rank-ordered artifact shipped as a
  * literal into the codegen'd expression — exactly how production
  * tokenizers deploy (GPT-2's merges.txt is a frozen file, not
  * per-corpus state). Rules may reference the OUTPUT of earlier rules
  * (`t h`→`th`, then `th e`→`the`, then `the </w>`→`the</w>`), giving
  * real multi-level sub-word structure; words outside the covered set
  * split into genuine sub-word pieces. Encode semantics (rank-ordered
  * single replace passes over a space-delimited symbol string) are
  * documented on [[graft.functions.BpeCodec]] and are REPLAYABLE in
  * DuckDB as a REPLACE chain generated from the SAME Scala constant —
  * one definition, two engines, zero drift ([[oracleEncodeSql]]).
  *
  * Scale shape: encoding is a pure per-row scalar inside whole-stage
  * codegen (no shuffle, no state); the merges array is plan metadata.
  * At 100 TB the tokenize pass pipelines with whatever scan feeds it.
  */
object Bpe {

  /** Rank-ordered merge rules. Tuned to the corpus' lowercase-ASCII
    * vocabulary so high-frequency words collapse to single tokens while
    * the tail stays multi-piece — the realistic BPE outcome. Each rule
    * merges two EXISTING symbols (base chars, earlier outputs, or the
    * `</w>` marker) and is validated by BpeEncodeExpr's constructor.
    */
  val StandardMerges: Seq[(String, String)] = Seq(
    // common bigrams
    "t h" -> "th", "i n" -> "in", "e r" -> "er", "a n" -> "an",
    "o r" -> "or", "a t" -> "at", "s t" -> "st", "o w" -> "ow",
    "e y" -> "ey", "e a" -> "ea", "l o" -> "lo", "u e" -> "ue",
    // the
    "th e" -> "the", "the </w>" -> "the</w>",
    // join
    "j o" -> "jo", "jo in" -> "join", "join </w>" -> "join</w>",
    // scan
    "s c" -> "sc", "sc an" -> "scan", "scan </w>" -> "scan</w>",
    // data
    "d a" -> "da", "da t" -> "dat", "dat a" -> "data", "data </w>" -> "data</w>",
    // row / window tail
    "r ow" -> "row", "row </w>" -> "row</w>", "d ow" -> "dow",
    // key
    "k ey" -> "key", "key </w>" -> "key</w>",
    // batch
    "b at" -> "bat", "bat c" -> "batc", "batc h" -> "batch", "batch </w>" -> "batch</w>",
    // sort
    "s or" -> "sor", "sor t" -> "sort", "sort </w>" -> "sort</w>",
    // stream
    "st r" -> "str", "str ea" -> "strea", "strea m" -> "stream", "stream </w>" -> "stream</w>",
    // fast
    "f a" -> "fa", "fa st" -> "fast", "fast </w>" -> "fast</w>",
    // merge
    "m er" -> "mer", "mer g" -> "merg", "merg e" -> "merge", "merge </w>" -> "merge</w>",
    // frequent suffixes
    "er </w>" -> "er</w>", "e </w>" -> "e</w>", "t </w>" -> "t</w>",
    "s </w>" -> "s</w>", "a </w>" -> "a</w>", "p </w>" -> "p</w>")

  /** Codegen'd encode: text → space-joined sub-word tokens, each word's
    * last token carrying the `</w>` marker.
    */
  def encode(text: Column): Column = BpeEncodeExpr(text, StandardMerges)

  /** [[encode]] with an arbitrary merges table — the learned-tokenizer
    * deployment half: `encodeWith(text, loadMerges(path))` runs a
    * [[learnMerges]] vocabulary persisted by another session.
    */
  def encodeWith(text: Column, merges: Seq[(String, String)]): Column =
    BpeEncodeExpr(text, merges)

  // ---- tokenizer artifact leg ------------------------------------------
  // The tokenizer is the one model whose train/serve skew silently
  // corrupts EVERYTHING downstream (token counts, packing budgets,
  // token-level decontamination coordinates), so the learned merges
  // table gets the same loud artifact discipline as the LM scorer, the
  // ANN index, and the BM25 index: CRC32-framed deterministic bytes,
  // byte-identical re-saves, corrupt/truncated/foreign files refused by
  // name at load — a broken tokenizer artifact must kill the job, never
  // degrade into a differently-tokenized corpus.

  private val MergesMagic = 0x42504d31 // "BPM1"

  /** Persist a merges table (the `tokenizer.json` equivalent): rank
    * order IS the file order, so identical tables are byte-identical
    * artifacts. Rejects out-of-spec rules by name (writeUTF's 64 KiB
    * limit would otherwise throw a bare UTFDataFormatException — the
    * saveScorer lesson).
    */
  def saveMerges(path: String, merges: Seq[(String, String)]): Unit = {
    require(merges.nonEmpty, "refusing to persist an empty merges table")
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(merges.length)
    merges.foreach { case (pair, merged) =>
      require(pair.contains(' ') && merged.nonEmpty,
        s"malformed merge rule ('$pair' -> '$merged') — pairs are two " +
          "space-separated symbols (the learnMerges output shape)")
      require(pair.getBytes("UTF-8").length < 65536 &&
        merged.getBytes("UTF-8").length < 65536,
        s"merge rule exceeds the 64 KiB writeUTF limit ('${pair.take(32)}…')")
      out.writeUTF(pair)
      out.writeUTF(merged)
    }
    out.flush()
    ArtifactStore.writeBlob(java.nio.file.Paths.get(path), MergesMagic,
      bos.toByteArray)
  }

  /** Load a [[saveMerges]] artifact: magic + CRC + declared-length gates
    * (via the shared blob framing), then per-rule shape validation — a
    * loaded table is exactly as trustworthy as the Seq it round-tripped
    * from, and [[encodeWith]] runs it unchanged.
    */
  def loadMerges(path: String): Seq[(String, String)] = {
    val payload = ArtifactStore.readBlob(java.nio.file.Paths.get(path),
      MergesMagic, "BPE merges")
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(payload))
    val n = in.readInt()
    require(n > 0 && n <= 1000000,
      s"$path: implausible rule count $n — corrupted or foreign artifact")
    val merges = (0 until n).map { _ => (in.readUTF(), in.readUTF()) }
    require(in.available() == 0,
      s"$path: ${in.available()} trailing bytes after $n rules — truncated " +
        "write or foreign artifact")
    merges.foreach { case (pair, merged) =>
      require(pair.contains(' ') && merged.nonEmpty,
        s"$path: malformed merge rule ('$pair' -> '$merged') in a " +
          "CRC-clean artifact — not a saveMerges file")
    }
    merges
  }

  /** True token count of an [[encode]] output ("" → 0). */
  def tokenCount(tokens: Column): Column =
    when(length(tokens) === 0, 0L)
      .otherwise(size(split(tokens, " ")).cast("long"))

  /** VOCABULARY INDUCTION — learn a merges table FROM a corpus, the
    * training half of BPE ([[StandardMerges]] is the frozen-deployment
    * half; [[encode]] consumes either). Classic Sennrich training on the
    * WORD-FREQUENCY table, which is what makes it scale: the iterative
    * state is one row per DISTINCT word (vocabulary-sized, corpus
    * weights carried as counts), never the corpus itself — at 100 TB the
    * corpus is touched exactly once (tokenize + count shuffle) and every
    * learning round runs on the tiny vocab table.
    *
    * Per round: adjacent-pair counts (one map-side-combined aggregation
    * over exploded pairs, counting every overlapping position — the
    * standard definition), deterministic argmax (count desc, then pair
    * lexicographic — no RNG, no hash ordering), then ONE literal
    * replace-all applies the new rule to the delimited symbol strings —
    * the SAME left-to-right non-overlapping pass [[encode]] uses, so
    * learning and encoding share one application semantics (BpeSpec pins
    * the learner against a sequential reference that models the
    * shared-delimiter rule explicitly). The rounds run on
    * [[Lineage.iterate]].
    *
    * Learning stops early when no pair repeats (every count ≤ 1 merges
    * nothing useful — returns what it has).
    */
  def learnMerges(docs: DataFrame, textCol: String, nMerges: Int): Seq[(String, String)] = {
    require(nMerges >= 1, s"nMerges must be >= 1, got $nMerges")
    val words = docs.select(explode(split(col(textCol), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
    val init = Lineage.cut(words.select(
      concat(lit(" "), concat_ws(" ", split(col("w"), "")), lit(" </w> ")).as("s"),
      col("n")))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    // round r's probe learns rule r and the step applies it, so nMerges
    // rounds take nMerges - 1 steps
    val fix = Lineage.iterate(init, nMerges - 1) { vocab =>
      val (pair, merged) = merges.last
      vocab.select(replace(col("s"), lit(s" $pair "), lit(s" $merged ")).as("s"), col("n"))
    } { (vocab, _) =>
      val top = vocab
        .select(split(trim(col("s")), " ").as("a"), col("n"))
        .filter(size(col("a")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(a) - 1), i -> struct(a[i - 1] AS x, a[i] AS y))")).as("p"),
          col("n"))
        .groupBy(col("p.x").as("x"), col("p.y").as("y")).agg(sum(col("n")).as("cnt"))
        .orderBy(col("cnt").desc, col("x"), col("y"))
        .limit(1).collect()
      val done = top.isEmpty || top(0).getLong(2) <= 1
      if (!done) {
        val (x, y) = (top(0).getString(0), top(0).getString(1))
        merges += ((s"$x $y", x + y))
      }
      done
    }
    Lineage.release(fix.state)
    merges.toSeq
  }

  /** DuckDB replay of [[encode]] for ONE word expression: symbolization
    * (per-character slice + `</w>`) wrapped in the REPLACE chain
    * generated from [[StandardMerges]] — the oracle executes the same
    * rank-ordered passes because both sides are generated from this one
    * constant. Returns an expression yielding the TRIMMED encoded word.
    */
  def oracleEncodeSql(wordExpr: String): String = {
    val sym = s"' ' || ARRAY_TO_STRING(LIST_TRANSFORM(RANGE(1, LENGTH($wordExpr) + 1), " +
      s"i -> $wordExpr[i:i]), ' ') || ' </w> '"
    val chained = StandardMerges.foldLeft(sym) { case (acc, (p, r)) =>
      s"REPLACE($acc, ' $p ', ' $r ')"
    }
    s"TRIM($chained)"
  }

  // ---- byte-level tier --------------------------------------------------

  /** Rank-ordered BYTE merges (symbols are lowercase hex pairs of UTF-8
    * bytes; `20` is the space byte — an ordinary symbol, which is the
    * point: byte-level merges cross word boundaries, so ` the ` can
    * collapse to one token). Tuned like [[StandardMerges]]: common
    * English bigrams first, then multi-level rules referencing earlier
    * outputs up to the space-crossing ` the `.
    */
  val ByteMerges: Seq[(String, String)] = Seq(
    // th -> the -> " the" -> " the "
    "74 68" -> "7468", "7468 65" -> "746865",
    "20 746865" -> "20746865", "20746865 20" -> "2074686520",
    // common bigrams
    "69 6e" -> "696e", "65 72" -> "6572", "61 6e" -> "616e",
    "6f 6e" -> "6f6e", "72 65" -> "7265", "61 74" -> "6174",
    "65 6e" -> "656e", "65 73" -> "6573", "65 64" -> "6564",
    "6f 72" -> "6f72", "73 74" -> "7374",
    // word-edge merges (space-crossing, impossible at word level)
    "73 20" -> "7320", "65 20" -> "6520", "64 20" -> "6420",
    "20 61" -> "2061", "20 73" -> "2073")

  /** Codegen'd byte-level encode: text → space-joined hex-pair tokens.
    * No OOV (any byte symbolizes), no delimiter dependence, multilingual
    * for free — the scale tier [[encode]]'s word-delimited variant
    * cannot reach.
    */
  def encodeBytes(text: Column): Column = BpeByteEncodeExpr(text, ByteMerges)

  /** DuckDB replay of [[encodeBytes]] for a whole text expression:
    * hex-pair symbolization (`LOWER(HEX(ENCODE(t)))` spaced into pairs
    * by one regexp pass) wrapped in the REPLACE chain generated from
    * [[ByteMerges]] — the same one-constant/two-engines discipline as
    * [[oracleEncodeSql]], minus the per-word LIST machinery (the whole
    * document is ONE delimited symbol string).
    */
  def oracleByteEncodeSql(textExpr: String): String = {
    val sym = s"' ' || REGEXP_REPLACE(LOWER(HEX(ENCODE($textExpr))), '(..)', '\\1 ', 'g')"
    val chained = ByteMerges.foldLeft(sym) { case (acc, (p, r)) =>
      s"REPLACE($acc, ' $p ', ' $r ')"
    }
    s"TRIM($chained)"
  }
}
