package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Trainable byte-pair-encoding subword tokenizer (Sennrich et al. 2016,
  * "Neural Machine Translation of Rare Words with Subword Units" — public
  * methodology): the canonical-representation-before-logic step at the
  * TOKEN level (the reference's CDM normalize move,
  * 4_silver/silver_transactions.py cast block, applied to text). Token
  * budgets computed on whitespace words mis-estimate model-tokenizer
  * counts by 1.3–1.7× on web text; shard packing (q71/s15) and span
  * budgeting want the real subword grain.
  *
  * Split of labor for 100 TB (the `kmeansCells`/`pqTrain` discipline,
  * sim/Ann.scala):
  *  - TRAIN is driver-side over a BOUNDED DETERMINISTIC word-frequency
  *    table: one distributed map-side-combined `groupBy(word).count`,
  *    top-`maxWords` collected by (count desc, word asc) — frequencies
  *    are corpus-wide EXACT, only the long tail is truncated, and the
  *    collect is `maxWords`-bounded whatever the corpus size;
  *  - ENCODE is a per-row projection through the native
  *    [[graft.functions.BpeEncode]] expression (constant broadcast-free
  *    merge table riding codegen as a referenced object) — scan-shaped,
  *    zero shuffle.
  *
  * Encode provably replays training: a ranked pair's constituents are
  * products of strictly lower ranks, so greedy min-rank application
  * reproduces the training-time segmentation of every training word
  * (property-pinned).
  */
object Bpe {

  /** The q92 oracle's FIXED merge table (rank order): generic English
    * character merges, each constituent produced by a lower rank. Fixed
    * because DuckDB cannot train — the ORACLE pins merge APPLICATION;
    * training correctness is spec-pinned against a driver reference.
    */
  val FixedMerges: Seq[String] = Seq(
    "e r", "t h", "th e", "o n", "a n", "an d", "i n", "e n", "t i", "ti on",
    "e s", "o r", "a r", "a l", "s t")

  /** Subword array of `tok` under `merges` (rank-ordered `"a b"` strings)
    * via the native expression — merge table must be a constant.
    */
  def encode(tok: Column, merges: Seq[String]): Column =
    call_function("graft_bpe_encode", tok, typedLit(merges))

  /** Per-document encode stats (q92): (`idCol`, n_words, n_bpe_tokens,
    * bpe_fp) — word and subword-token counts under `merges`, and an md5
    * of the whole subword stream ('+' joins subwords within a word, ' '
    * joins words). One projection, no shuffle.
    */
  def docStats(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[String]): DataFrame =
    docs.select(col(idCol), TextFunctions.tokens(col(textCol)).as("_toks"))
      .withColumn("_enc", transform(col("_toks"), t => encode(t, merges)))
      .select(col(idCol),
        size(col("_toks")).cast("long").as("n_words"),
        aggregate(transform(col("_enc"), e => size(e)),
          lit(0L), (a, x) => a + x).as("n_bpe_tokens"),
        md5(concat_ws(" ",
          transform(col("_enc"), e => array_join(e, "+")))).as("bpe_fp"))

  /** BYTE-LEVEL subword array of `tok` (r15): 256-byte base alphabet via
    * the GPT-2 byte↔unicode bijection + an end-of-word symbol — no OOV by
    * construction, and [[decodeBytes]] inverts it EXACTLY for arbitrary
    * unicode under any merge table (the round-trip property the code-point
    * mode can't give: there, an unseen code point has no decomposition
    * and NFC-unstable text re-segments).
    */
  def encodeBytes(tok: Column, merges: Seq[String]): Column =
    call_function("graft_bpe_byte_encode", tok, typedLit(merges))

  /** Exact inverse of the byte-level encode of ONE token: concatenate the
    * subwords, strip the end-of-word symbol, invert the byte bijection,
    * UTF-8 decode. Total for well-formed encodes; a char that is not a
    * byte symbol fails NAMED (it means the input wasn't a byte-level
    * encode).
    */
  def decodeBytes(subwords: Seq[String]): String = {
    import graft.functions.BpeEncode.{CharToByte, EndOfWord}
    val joined = subwords.mkString
    val body =
      if (joined.endsWith(EndOfWord)) joined.substring(0, joined.length - EndOfWord.length)
      else joined
    val bytes = new Array[Byte](body.length)
    var i = 0
    while (i < body.length) {
      val c = body.charAt(i)
      val b = if (c < 512) CharToByte(c) else -1
      if (b < 0) throw new IllegalArgumentException(
        s"decodeBytes: '$c' (U+${c.toInt.toHexString}) is not a byte symbol — " +
          "input is not a byte-level BPE encode")
      bytes(i) = b.toByte
      i += 1
    }
    new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
  }

  /** Byte-symbol sequence of one word — the byte-level training alphabet
    * ([[graft.functions.BpeEncode.encodeBytes]]'s pre-merge state).
    */
  def byteSymbols(w: String): Seq[String] = {
    import graft.functions.BpeEncode.{ByteToChar, EndOfWord}
    val bytes = w.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    bytes.map(b => String.valueOf(ByteToChar(b & 0xff))).toSeq :+ EndOfWord
  }

  /** `"a b"` merge-table spelling of trained pairs. */
  def mergeStrings(merges: Seq[(String, String)]): Seq[String] =
    merges.map { case (a, b) => s"$a $b" }

  /** Learn `numMerges` merges from the corpus' word-frequency table.
    * The distributed half is one exact map-side-combined word count;
    * the driver half runs [[trainOnCounts]] on the top-`maxWords` rows
    * (deterministic order: count desc, word asc). Words below `minCount`
    * pair support stop the loop early — merging singletons memorizes the
    * sample instead of compressing the language.
    */
  def train(docs: DataFrame, textCol: String, numMerges: Int = 64,
      maxWords: Int = 1 << 16, minCount: Long = 2): Seq[(String, String)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val wc = docs
      .select(explode(TextFunctions.tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w"))
      .limit(maxWords)
      .as[(String, Long)].collect().toSeq
    trainOnCounts(wc, numMerges, minCount)
  }

  /** Driver-side BPE training over (word, count) pairs: start from code
    * points; each round counts adjacent symbol pairs (weighted by word
    * count), takes the most frequent (ties → lexicographically smallest
    * (a, b) — fully deterministic), and fuses all its occurrences
    * left-to-right in every word. Stops at `numMerges`, or earlier when
    * the best pair's support falls below `minCount`.
    */
  def trainOnCounts(wordCounts: Seq[(String, Long)], numMerges: Int,
      minCount: Long = 2): Seq[(String, String)] =
    trainLoop(wordCounts.map { case (w, c) =>
      val syms = scala.collection.mutable.ArrayBuffer[String]()
      var i = 0
      while (i < w.length) {
        val n = Character.charCount(w.codePointAt(i))
        syms += w.substring(i, i + n)
        i += n
      }
      (syms, c)
    }, numMerges, minCount)

  /** Byte-level training (r15): same loop, same determinism, but the
    * initial symbols are [[byteSymbols]] (256-byte alphabet + end-of-word)
    * — the learned merges feed [[encodeBytes]]. End-of-word participates
    * in merges like any symbol (frequent word-final subwords absorb it),
    * which is what makes whole common words single tokens.
    */
  def trainBytesOnCounts(wordCounts: Seq[(String, Long)], numMerges: Int,
      minCount: Long = 2): Seq[(String, String)] =
    trainLoop(wordCounts.map { case (w, c) =>
      (scala.collection.mutable.ArrayBuffer[String](byteSymbols(w): _*), c)
    }, numMerges, minCount)

  /** Distributed byte-level training face — [[train]]'s bounded-collect
    * discipline with the byte alphabet.
    */
  def trainBytes(docs: DataFrame, textCol: String, numMerges: Int = 64,
      maxWords: Int = 1 << 16, minCount: Long = 2): Seq[(String, String)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val wc = docs
      .select(explode(TextFunctions.tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w"))
      .limit(maxWords)
      .as[(String, Long)].collect().toSeq
    trainBytesOnCounts(wc, numMerges, minCount)
  }

  private def trainLoop(
      words: Seq[(scala.collection.mutable.ArrayBuffer[String], Long)],
      numMerges: Int, minCount: Long): Seq[(String, String)] = {
    val merges = scala.collection.mutable.ArrayBuffer[(String, String)]()
    var go = true
    while (go && merges.size < numMerges) {
      val counts = scala.collection.mutable.HashMap[(String, String), Long]()
      words.foreach { case (syms, c) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          counts(k) = counts.getOrElse(k, 0L) + c
          i += 1
        }
      }
      if (counts.isEmpty) go = false
      else {
        val ((a, b), support) = counts.minBy { case ((x, y), c) => (-c, x, y) }
        if (support < minCount) go = false
        else {
          merges += ((a, b))
          words.foreach { case (syms, _) =>
            var i = 0
            while (i < syms.length - 1) {
              if (syms(i) == a && syms(i + 1) == b) {
                syms(i) = a + b
                syms.remove(i + 1)
              }
              i += 1 // past the fused symbol: occurrences fuse non-overlapping, left-to-right
            }
          }
        }
      }
    }
    merges.toSeq
  }

  /** Final training-time segmentation of each training word — the
    * replay-equivalence spec target ([[trainOnCounts]] re-run to collect
    * end states).
    */
  def trainSegmentation(wordCounts: Seq[(String, Long)], numMerges: Int,
      minCount: Long = 2): Map[String, Seq[String]] = {
    val merges = trainOnCounts(wordCounts, numMerges, minCount)
    val ranks = merges.zipWithIndex.map { case ((a, b), i) => (a, b) -> (i + 1) }.toMap
    wordCounts.map { case (w, _) =>
      val syms = scala.collection.mutable.ArrayBuffer[String]()
      var i = 0
      while (i < w.length) {
        val n = Character.charCount(w.codePointAt(i))
        syms += w.substring(i, i + n)
        i += n
      }
      merges.foreach { case (a, b) =>
        var j = 0
        while (j < syms.length - 1) {
          if (syms(j) == a && syms(j + 1) == b) {
            syms(j) = a + b
            syms.remove(j + 1)
          }
          j += 1
        }
      }
      w -> syms.toSeq
    }.toMap
  }
}
