package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Statistical language-model quality scoring — the CCNet-style
  * perplexity filter as an in-engine operator. A bigram model with
  * add-one smoothing is TRAINED as two count tables (unigram and bigram
  * frequencies plus the vocabulary size), then every document is SCORED
  * by its average per-bigram surprisal:
  *
  *   bits(w1, w2) = log2((c(w1) + V) / (c(w1, w2) + 1))
  *
  * — low average bits = the doc's transitions are typical of the corpus
  * (fluent/boilerplate-leaning), high = atypical (noise, gibberish,
  * wrong language). CCNet thresholds exactly this quantity (from a
  * pretrained KenLM); here the model is trained on the corpus being
  * scored (self-scoring — the in-engine analog), but [[score]] takes
  * the model as an argument, so a held-out model table persisted from
  * another corpus drops in unchanged.
  *
  * Determinism: the log is `milli_log2` (fixed-point integer bit-length
  * + one-shift interpolation, the q173 BM25 kernel), so every score is
  * an exact BIGINT both engines compute bit-identically — surprisal is
  * the DIFFERENCE of two milli_log2 values, each on an integer >= 1,
  * and c(w1)+V > c(w1,w2)+1 always (c12 <= c1, V >= 1), so monotonicity
  * makes every per-bigram value nonnegative.
  *
  * 100 TB story: tokenize is per-row scalar; training is two keyed
  * aggregations (token, then bigram — both map-side combinable);
  * scoring joins the doc-bigram stream against the count tables on
  * their natural keys (the unigram side is vocabulary-sized and
  * broadcastable; the bigram side is corpus-scale and must stay a
  * shuffle join — no hint pins a broadcast) and ends in one doc_id
  * aggregation. Integer envelope: (c1 + V) * 1000 stays under 2^63
  * until the corpus passes ~9e15 tokens.
  *
  * Three-implementation discipline: batch (q192 full-model DuckDB
  * oracle), incremental ([[merge]] — NgramLmSpec pins train(A ∪ B) ==
  * merge(train(A), train(B)) exactly), streaming (StreamingSpec pins
  * complete-mode counts over [[docBigrams]] == batch [[train]] counts
  * across micro-batch boundaries).
  */
object NgramLm {

  /** The trained model: unigram counts (token, c1), bigram counts
    * (w1, w2, c12), and the vocabulary size — the persistable artifact.
    */
  final case class Model(unigrams: DataFrame, bigrams: DataFrame, vocab: Long)

  /** Lowercase ASCII letter-run tokens as an ARRAY per doc (the
    * q76/BM25 tokenization, kept in document order for bigrams).
    */
  def tokenArrays(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      filter(split(lower(col(textCol)), "[^a-z]+"), t => t =!= "").as("ts"))

  /** Consecutive-token pairs per document, one row per INSTANCE
    * (position-derived from the array — no window, no shuffle).
    */
  def docBigrams(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame =
    tokenArrays(docs, idCol, textCol)
      // the size >= 2 guard matters: sequence(1, 0) is the DESCENDING
      // [1, 0], not empty, so an unguarded transform probes element 2
      // of a 1-token doc (ANSI throws; NgramLmSpec's tiny fixture pins)
      .select(col("doc_id"), explode(expr(
        "if(size(ts) >= 2, transform(sequence(1, size(ts) - 1), " +
          "i -> struct(element_at(ts, i) AS w1, element_at(ts, i + 1) AS w2)), " +
          "array())")).as("b"))
      .select(col("doc_id"), col("b.w1"), col("b.w2"))

  /** Train the add-one bigram model over a corpus: two aggregations
    * plus one distinct-count action for V. `prepare` is the storage
    * hook (the Bm25.build `prepareTfLen` discipline): it wraps both
    * count tables BEFORE the V action, so a caller that persists gets
    * uni materialized once for the action AND the later score joins —
    * without it, train's count() and every downstream use recompute the
    * full tokenize+aggregate lineage. The caller owns release (the
    * query layer passes `QueryCaches.persist`, so `QueryCaches.clear`
    * unpersists both tables like every other index artifact).
    */
  def train(docs: DataFrame, idCol: String = "doc_id",
            textCol: String = "text",
            prepare: DataFrame => DataFrame = identity): Model = {
    val toks = tokenArrays(docs, idCol, textCol)
      .select(col("doc_id"), explode(col("ts")).as("token"))
    val uni = prepare(toks.groupBy(col("token")).agg(count(lit(1)).as("c1")))
    val bi = prepare(docBigrams(docs, idCol, textCol)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12")))
    val v = uni.count()
    Model(uni, bi, v)
  }

  /** Merge two models trained on DISJOINT corpora: counts add, the
    * vocabulary re-derives from the merged unigram table (NOT vocab_a +
    * vocab_b — shared tokens would double-count). This is the
    * incremental-training story: a new crawl trains its own model
    * batch-locally and folds in with two keyed aggregations — the old
    * corpus is never re-read. Exactness is spec-pinned:
    * train(A ∪ B) == merge(train(A), train(B)) table-for-table.
    * Contract (documented, not probe-able — a model does not retain its
    * doc ids): the corpora must be disjoint, or overlapping docs
    * double-count; dedup upstream (q20/q187) is the guard.
    */
  def merge(a: Model, b: Model,
            prepare: DataFrame => DataFrame = identity): Model = {
    // prepare is train's storage hook applied to the MERGED tables
    // before the vocab action — without it, the V count() and every
    // downstream score join re-run both inputs' union+aggregate lineage
    // on each batch fold. The caller owns release, as with train.
    val uni = prepare(a.unigrams.unionByName(b.unigrams)
      .groupBy(col("token")).agg(sum(col("c1")).as("c1")))
    val bi = prepare(a.bigrams.unionByName(b.bigrams)
      .groupBy(col("w1"), col("w2")).agg(sum(col("c12")).as("c12")))
    Model(uni, bi, uni.count())
  }

  /** Score documents against a (possibly foreign) model: per doc the
    * bigram-instance count, total surprisal, and average surprisal in
    * exact integer milli-bits (`avg = total div n`, 0 for docs with
    * fewer than two tokens — those carry no transition evidence).
    * Bigrams absent from the model take c12 = 0 (the add-one floor),
    * and w1 absent takes c1 = 0 — foreign models stay well-defined.
    */
  def score(docs: DataFrame, model: Model, idCol: String = "doc_id",
            textCol: String = "text"): DataFrame = {
    // the milli_log2 formula inlined from BUILT-IN expressions (length/
    // bin/shiftright), not the SQL-registered milli_log2 temp function —
    // the operator must work in any SparkSession, registered or not;
    // both arguments are >= 1 by construction so no domain guard needed
    def mlog2(x: String): String =
      s"((length(bin($x)) - 1) * 1000 + shiftright(($x) * 1000, length(bin($x)) - 1) - 1000)"
    val bg = docBigrams(docs, idCol, textCol)
    val scored = bg
      .join(model.bigrams, Seq("w1", "w2"), "left")
      .join(model.unigrams.select(col("token").as("w1"), col("c1")), Seq("w1"), "left")
      .withColumn("bits",
        expr(s"${mlog2(s"coalesce(c1, 0L) + ${model.vocab}L")} " +
          s"- ${mlog2("coalesce(c12, 0L) + 1L")}"))
    docs.select(col(idCol).as("doc_id"))
      .join(scored.groupBy(col("doc_id")).agg(
          count(lit(1)).as("n_bigrams"),
          sum(col("bits")).as("total_millibits")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("total_millibits"), lit(0L)).as("total_millibits"))
      .withColumn("avg_millibits",
        expr("case when n_bigrams > 0 then total_millibits div n_bigrams else 0L end"))
  }
}
