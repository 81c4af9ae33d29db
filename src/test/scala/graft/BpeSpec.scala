package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Bpe
import graft.functions.{BpeCodec, BpeEncodeExpr}

/** The fixed-merges BPE tokenizer: expression output vs an INDEPENDENT
  * list-based reference (different data structure, same defined
  * semantics — boundary-space bugs in the string-replace kernel cannot
  * hide), structural invariants, and the constructor's rule validation.
  */
class BpeSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder("local[4]").getOrCreate()
  val sf = "/root/testdata/sf0.001"

  /** Reference implementation over symbol LISTS: for each rule in rank
    * order, one left-to-right non-overlapping merge pass over the list.
    * Shares no code with BpeCodec's padded-string replace — including
    * the SHARED-DELIMITER subtlety it must reproduce: in the delimited
    * string, adjacent pairs share their separating space, so after a
    * merge at (i, i+1) a pair STARTING at i+2 cannot also merge in the
    * same pass (its leading delimiter was consumed by the previous
    * match) while a pair at i+3 can. `[a,b,a,b]` → `[ab, a, b]`,
    * `[a,b,x,a,b]` → `[ab, x, ab]` — the documented BpeCodec contract.
    */
  private def applyMerges(syms0: Vector[String], merges: Seq[(String, String)]): Vector[String] = {
    var syms = syms0
    merges.foreach { case (pat, rep) =>
      val Array(a, b) = pat.split(" ")
      val out = Vector.newBuilder[String]
      var i = 0
      var blockedStart = -1
      while (i < syms.length) {
        if (i + 1 < syms.length && i != blockedStart &&
            syms(i) == a && syms(i + 1) == b) {
          out += rep
          blockedStart = i + 2
          i += 2
        } else { out += syms(i); i += 1 }
      }
      syms = out.result()
    }
    syms
  }

  private def referenceWord(w: String, merges: Seq[(String, String)]): Seq[String] =
    applyMerges(
      w.codePoints().toArray.toVector.map(cp => new String(Character.toChars(cp))) :+ "</w>",
      merges)

  private def referenceDoc(text: String): String =
    text.split(" ").filter(_.nonEmpty)
      .map(w => referenceWord(w, Bpe.StandardMerges).mkString(" "))
      .mkString(" ")

  test("expression equals the independent list-based reference on every corpus document") {
    import spark.implicits._
    val got = Tables.documents(spark, sf)
      .select($"doc_id", $"text", Bpe.encode($"text").as("tokens"))
      .as[(Long, String, String)].collect()
    assert(got.length == 500)
    got.foreach { case (id, text, tokens) =>
      assert(tokens == referenceDoc(text), s"doc $id diverges from the reference")
    }
  }

  test("known encodings: covered words collapse, tail words split into sub-word pieces") {
    val cases = Seq(
      "the" -> "the</w>",
      "join" -> "join</w>",
      "batch" -> "batch</w>",
      "stream" -> "stream</w>",
      "merge" -> "merge</w>",
      // tail words: genuine multi-piece sub-word splits (no rule merges
      // their final symbol with </w>, so the marker stays a token)
      "customer" -> "c u st o mer </w>",
      "window" -> "w in dow </w>")
    cases.foreach { case (w, want) =>
      val got = BpeCodec.encodeWord(w,
        Bpe.StandardMerges.map(m => " " + m._1 + " ").toArray,
        Bpe.StandardMerges.map(m => " " + m._2 + " ").toArray)
      assert(got == want, s"'$w' encoded to '$got', expected '$want'")
      assert(got == referenceWord(w, Bpe.StandardMerges).mkString(" "),
        s"reference disagrees on '$w'")
    }
  }

  test("losslessness: stripping </w> markers and concatenating symbols reproduces the text") {
    import spark.implicits._
    val got = Tables.documents(spark, sf).limit(50)
      .select($"text", Bpe.encode($"text").as("tokens"))
      .as[(String, String)].collect()
    got.foreach { case (text, tokens) =>
      val rebuilt = tokens.split(" ").filter(_.nonEmpty)
        .map(_.stripSuffix("</w>"))
        .mkString("")
        // word boundaries: each </w>-carrying token ended a word
      val expected = text.split(" ").filter(_.nonEmpty).mkString("")
      assert(rebuilt == expected, "merges must never invent or lose characters")
    }
  }

  test("token counts: 0 for empty, bounded by character count, smaller than char tokenization") {
    import spark.implicits._
    val df = Seq((1L, "the batch stream"), (2L, ""), (3L, "   "))
      .toDF("doc_id", "text")
      .select($"doc_id", Bpe.tokenCount(Bpe.encode($"text")).as("n"))
      .as[(Long, Long)].collect().toMap
    assert(df(1L) == 3L) // three fully-covered words -> one token each
    assert(df(2L) == 0L && df(3L) == 0L)
  }

  test("learnMerges equals a sequential reference learner; learned rules compress the corpus") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val learned = Bpe.learnMerges(docs, "text", nMerges = 16)
    assert(learned.length == 16, s"expected 16 rules, got ${learned.length}")
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"learning rounds must free every vocab table's blocks; leaked: $leaked")

    // sequential reference: same definition, collections implementation —
    // word-frequency table, overlapping pair counts, count-desc /
    // lexicographic argmax, rule application with the shared-delimiter
    // non-overlap pass (referenceWord's blockedStart logic, inlined)
    def applyRule(syms: Vector[String], a: String, b: String): Vector[String] = {
      val out = Vector.newBuilder[String]
      var i = 0
      var blockedStart = -1
      while (i < syms.length) {
        if (i + 1 < syms.length && i != blockedStart && syms(i) == a && syms(i + 1) == b) {
          out += (a + b); blockedStart = i + 2; i += 2
        } else { out += syms(i); i += 1 }
      }
      out.result()
    }
    var freq: Map[Vector[String], Long] = docs.select($"text").as[String].collect()
      .flatMap(_.split(" ").filter(_.nonEmpty))
      .groupBy(identity).map { case (w, xs) =>
        (w.map(_.toString).toVector :+ "</w>") -> xs.length.toLong
      }
    val ref = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var done = false
    while (!done && ref.length < 16) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      freq.foreach { case (syms, n) =>
        syms.sliding(2).foreach {
          case Seq(x, y) => counts((x, y)) = counts.getOrElse((x, y), 0L) + n
          case _ => ()
        }
      }
      if (counts.isEmpty) done = true
      else {
        val ((x, y), c) = counts.toSeq.minBy { case ((x, y), c) => (-c, x, y) }
        if (c <= 1) done = true
        else {
          ref += ((s"$x $y", x + y))
          freq = freq.toSeq.map { case (syms, n) => applyRule(syms, x, y) -> n }
            .groupBy(_._1).map { case (s2, xs) => s2 -> xs.map(_._2).sum }
        }
      }
    }
    assert(learned == ref.toSeq,
      s"learner diverged from reference:\n  got  ${learned.take(6)}\n  want ${ref.take(6)}")

    // learned rules are structurally valid (constructor enforces) and
    // genuinely compress the corpus they were trained on
    val nChars = docs.select(sum(length(regexp_replace($"text", " ", ""))))
      .head().getLong(0)
    val nWords = docs.select(sum(size(filter(split($"text", " "), w => length(w) > 0))))
      .head().getLong(0)
    val baseline = nChars + nWords // char-level tokens incl. one </w> per word
    val nTok = docs
      .select(graft.functions.BpeEncodeExpr($"text", learned).as("t"))
      .select(sum(when(length($"t") === 0, 0L)
        .otherwise(size(split($"t", " ")).cast("long"))))
      .head().getLong(0)
    assert(nTok < baseline * 0.75,
      s"16 learned merges should cut char-level tokens >25%: $nTok vs $baseline")
  }

  test("constructor rejects malformed merge rules") {
    import org.apache.spark.sql.functions.col
    assertThrows[IllegalArgumentException](
      BpeEncodeExpr(col("x"), Seq("a b c" -> "abc"))) // three symbols
    assertThrows[IllegalArgumentException](
      BpeEncodeExpr(col("x"), Seq("a b" -> "ab c"))) // space in output
    assertThrows[IllegalArgumentException](
      BpeEncodeExpr(col("x"), Seq("a b" -> "ba"))) // not the concatenation
    assertThrows[IllegalArgumentException](
      BpeEncodeExpr(col("x"), Seq.empty))
  }

  // ---- byte-level tier --------------------------------------------------

  /** Independent reference: UTF-8 bytes → hex-pair symbols (no word
    * split, no marker), then the same shared-delimiter merge passes.
    */
  private def referenceBytes(text: String): String =
    if (text.isEmpty) ""
    else applyMerges(
      text.getBytes("UTF-8").toVector.map(b => f"${b & 0xff}%02x"),
      Bpe.ByteMerges).mkString(" ")

  test("byte-level expression equals the list reference on corpus docs AND multilingual text") {
    import spark.implicits._
    val corpus = Tables.documents(spark, sf)
      .select($"doc_id", $"text", Bpe.encodeBytes($"text").as("tokens"))
      .as[(Long, String, String)].collect()
    assert(corpus.length == 500)
    corpus.foreach { case (id, text, tokens) =>
      assert(tokens == referenceBytes(text), s"doc $id diverges from the byte reference")
    }
    // no-OOV: CJK/diacritics/emoji byte-symbolize like anything else
    // (the word-level tier would hand these through as opaque symbols)
    val wild = Seq("数据处理", "café ß", "a🙂b", "", "  ", "the the")
    val got = wild.toDF("t").select(Bpe.encodeBytes($"t")).as[String].collect().toSeq
    assert(got == wild.map(referenceBytes))
  }

  test("byte merges cross word boundaries: ' the ' collapses to ONE token") {
    import spark.implicits._
    val enc = Seq("on the mat").toDF("t")
      .select(Bpe.encodeBytes($"t")).as[String].head()
    assert(enc.split(" ").contains("2074686520"),
      s"space-crossing ' the ' token missing: $enc")
    // and losslessness: concatenated hex symbols re-decode to the text
    val hex = enc.replace(" ", "")
    val back = new String(
      hex.grouped(2).map(h => Integer.parseInt(h, 16).toByte).toArray, "UTF-8")
    assert(back == "on the mat")
  }

  test("byte-level validator rejects non-hex symbols and malformed rules") {
    import graft.functions.BpeByteEncodeExpr
    assertThrows[IllegalArgumentException](
      BpeByteEncodeExpr(col("x"), Seq("74 68" -> "TH")))     // uppercase = not the alphabet
    assertThrows[IllegalArgumentException](
      BpeByteEncodeExpr(col("x"), Seq("74 68" -> "7468x")))  // odd/garbage tail
    assertThrows[IllegalArgumentException](
      BpeByteEncodeExpr(col("x"), Seq("74  68" -> "7468")))  // malformed pattern
  }

  test("tokenizer artifact: save/load round-trips byte-identically; loaded table encodes bit-for-bit") {
    import spark.implicits._
    // the deployment loop the artifact leg exists for: learn on one
    // session, persist, reload elsewhere, and every downstream token
    // count / packing budget / decontamination coordinate is unchanged
    val docs = Tables.documents(spark, sf)
    val learned = Bpe.learnMerges(docs, "text", nMerges = 12)
    val dir = java.nio.file.Files.createTempDirectory("bpe_artifact")
    val p = s"$dir/merges.bin"
    Bpe.saveMerges(p, learned)
    assert(Bpe.loadMerges(p) == learned, "round trip must be exact")
    // identical tables are byte-identical artifacts (re-save == save)
    val bytes1 = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    Bpe.saveMerges(p, learned)
    assert(java.util.Arrays.equals(bytes1,
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))))
    // encode with the LOADED table == encode with the in-memory one
    val sample = docs.limit(50)
    val a = sample.select($"doc_id", Bpe.encodeWith($"text", learned).as("t"))
      .as[(Long, String)].collect().toSet
    val b = sample.select($"doc_id", Bpe.encodeWith($"text", Bpe.loadMerges(p)).as("t"))
      .as[(Long, String)].collect().toSet
    assert(a == b, "loaded-table encoding diverged from the in-memory table")
  }

  test("tokenizer artifact: corrupt, truncated, foreign, and malformed files fail LOUDLY by name") {
    val dir = java.nio.file.Files.createTempDirectory("bpe_artifact_bad")
    val p = s"$dir/merges.bin"
    Bpe.saveMerges(p, Seq("t h" -> "th", "th e" -> "the"))
    val good = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    // CRC flip in the payload
    val flipped = good.clone(); flipped(good.length - 1) = (flipped(good.length - 1) ^ 0x01).toByte
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/crc.bin"), flipped)
    val e1 = intercept[IllegalArgumentException](Bpe.loadMerges(s"$dir/crc.bin"))
    assert(e1.getMessage.contains("CRC"), e1.getMessage)
    // truncation below the 16-byte header
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/trunc.bin"), good.take(9))
    val e2 = intercept[IllegalArgumentException](Bpe.loadMerges(s"$dir/trunc.bin"))
    assert(e2.getMessage.contains("header"), e2.getMessage)
    // foreign magic
    val foreign = good.clone(); foreign(0) = 'X'.toByte
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/magic.bin"), foreign)
    val e3 = intercept[IllegalArgumentException](Bpe.loadMerges(s"$dir/magic.bin"))
    assert(e3.getMessage.contains("magic"), e3.getMessage)
    // out-of-spec rules never reach the writer
    val e4 = intercept[IllegalArgumentException](
      Bpe.saveMerges(s"$dir/bad.bin", Seq("nospace" -> "x")))
    assert(e4.getMessage.contains("malformed merge rule"), e4.getMessage)
    assertThrows[IllegalArgumentException](Bpe.saveMerges(s"$dir/empty.bin", Seq.empty))
  }
}
