package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding subword tokenizer: distributed training +
  * distributed apply — the tokenizer-construction stage of a
  * training-data pipeline (richer than the BPE-ish regex count in
  * [[TextOps.tokenCount]]).
  *
  * Scale shape: the only corpus-sized pass is the word-frequency
  * aggregation (one shuffle, map-side combined). The merge-learning
  * loop then runs over the AGGREGATED (word, count) table — the
  * standard shape for BPE training: vocab-scale data, not
  * corpus-scale — and tokenization streams per partition with the
  * merge table broadcast (read-only, a few KB).
  *
  * Algorithm: classic BPE (Sennrich et al. 2016, "Neural Machine
  * Translation of Rare Words with Subword Units"): start from
  * characters with an end-of-word marker, repeatedly merge the most
  * frequent adjacent symbol pair. Ties break on (count desc, pair
  * lexicographic asc) so training is deterministic. Apply follows the
  * learned merge ORDER (rank), merging the lowest-rank adjacent pair
  * first — the published apply rule.
  */
object Bpe {

  /** End-of-word marker so merges can't cross word boundaries and
    * word-final subwords stay distinct from word-internal ones.
    */
  val Eow = "</w>"

  /** Lowercased a-z0-9 words of a document column — the SAME helper
    * [[TextOps.cleanText]] uses, so tokenizer vocab and text cleaning
    * can't silently diverge.
    */
  private def wordsCol = TextOps.normalizedWords

  /** Distributed (word, count) aggregation — the corpus-scale pass. */
  def wordCounts(docs: DataFrame): DataFrame =
    docs.select(explode(wordsCol).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** Learn `numMerges` BPE merges from the aggregated word counts.
    * Returns merges in learned order (rank = index).
    *
    * Incremental trainer (the standard Sennrich implementation shape):
    * pair counts and a pair→words index are maintained across merges,
    * so each merge touches only the words that CONTAIN the winning
    * pair instead of recounting the whole vocabulary — O(affected
    * symbols) per merge, which is what makes a 10⁶-word capped vocab
    * trainable on the driver. Selection order (count desc, pair
    * lexicographic asc) is identical to the full-recount formulation
    * (BpeSpec pins the equivalence).
    */
  def train(counts: Seq[(String, Long)], numMerges: Int): Seq[(String, String)] = {
    import scala.collection.mutable
    val words: Array[Array[String]] =
      counts.map { case (w, _) => w.map(_.toString).toArray :+ Eow }.toArray
    val wordCount: Array[Long] = counts.map(_._2).toArray
    val pairCounts = mutable.HashMap.empty[(String, String), Long]
    val pairWords = mutable.HashMap.empty[(String, String), mutable.BitSet]
    def addWord(wi: Int, sign: Long): Unit = {
      val syms = words(wi); val c = wordCount(wi) * sign
      var j = 0
      while (j < syms.length - 1) {
        val p = (syms(j), syms(j + 1))
        val n = pairCounts.getOrElse(p, 0L) + c
        if (n == 0L) pairCounts.remove(p) else pairCounts.update(p, n)
        if (sign > 0) pairWords.getOrElseUpdate(p, mutable.BitSet.empty) += wi
        j += 1
      }
    }
    words.indices.foreach(addWord(_, 1L))
    val merges = Vector.newBuilder[(String, String)]
    var i = 0
    var done = false
    while (i < numMerges && !done) {
      if (pairCounts.isEmpty) done = true
      else {
        val best = pairCounts.minBy { case ((a, b), c) => (-c, a, b) }._1
        merges += best
        // re-segment ONLY the words that contain the winning pair; the
        // index may hold stale members (pair long since merged away) —
        // addWord(-1)/addWord(+1) is a no-op for them
        val affected = pairWords.getOrElse(best, mutable.BitSet.empty).clone()
        affected.foreach { wi =>
          addWord(wi, -1L)
          words(wi) = mergePair(words(wi), best)
          addWord(wi, 1L)
        }
        pairWords.remove(best)
        i += 1
      }
    }
    merges.result()
  }

  private def mergePair(syms: Array[String], p: (String, String)): Array[String] = {
    val out = Array.newBuilder[String]
    var j = 0
    while (j < syms.length) {
      if (j < syms.length - 1 && syms(j) == p._1 && syms(j + 1) == p._2) {
        out += syms(j) + syms(j + 1); j += 2
      } else { out += syms(j); j += 1 }
    }
    out.result()
  }

  /** Tokenize one word with the learned merges: repeatedly apply the
    * LOWEST-rank merge present (the canonical apply order).
    */
  def encodeWord(word: String, rank: Map[(String, String), Int]): Array[String] = {
    var syms: Array[String] = word.map(_.toString).toArray :+ Eow
    var continue = syms.length > 1
    while (continue) {
      var bestRank = Int.MaxValue
      var bestPair: (String, String) = null
      var j = 0
      while (j < syms.length - 1) {
        val r = rank.getOrElse((syms(j), syms(j + 1)), Int.MaxValue)
        if (r < bestRank) { bestRank = r; bestPair = (syms(j), syms(j + 1)) }
        j += 1
      }
      if (bestPair == null) continue = false
      else syms = mergePair(syms, bestPair)
      if (syms.length < 2) continue = false
    }
    syms
  }

  /** End-to-end: train `numMerges` merges on the corpus, then tokenize
    * every document. Output per doc: subword count and the subword
    * sequence of the first words (bounded preview, space-joined so
    * every output column is a flat scalar). The merge table is
    * broadcast; per-partition tokenization memoizes repeated words.
    *
    * The vocab collect is CAPPED at the `maxVocab` most frequent words
    * (ordered cnt desc, word asc — deterministic): at web scale the
    * distinct-word table is 10⁸+, while BPE merge learning is driven
    * by the frequent head — rare-tail words contribute ~0 pair mass.
    */
  def tokenizeDocs(spark: SparkSession, dir: String, numMerges: Int = 64,
      maxVocab: Int = 1 << 20): DataFrame = {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, dir)
    val counts = wordCounts(docs)
      .orderBy(col("cnt").desc, col("word"))
      .limit(maxVocab)
      .as[(String, Long)].collect().toSeq
      .sortBy { case (w, c) => (-c, w) } // deterministic train input order
    val merges = train(counts, numMerges)
    encodeDocsWith(docs, merges)
  }

  /** The encode leg alone over an arbitrary documents frame with an
    * already-learned merge table — shared by [[tokenizeDocs]] and
    * the streaming dual (this over
    * [[graft.streaming.DocStream.docsStream]]; the standing
    * merges are the batch training artifact; refitting is the batch
    * job, exactly the curriculumScoreStream model contract).
    */
  private[graft] def encodeDocsWith(docs: DataFrame,
      merges: Seq[(String, String)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val rankB = spark.sparkContext.broadcast(
      merges.zipWithIndex.map { case (p, r) => p -> r }.toMap)
    docs.select(col("doc_id"), wordsCol.as("words"))
      .as[(Long, Seq[String])]
      .mapPartitions { it =>
        val rank = rankB.value
        val memo = scala.collection.mutable.HashMap.empty[String, Array[String]]
        it.map { case (id, words) =>
          val toks = words.filter(_.nonEmpty).flatMap(w =>
            memo.getOrElseUpdate(w, encodeWord(w, rank)))
          (id, toks.length.toLong, toks.take(12).mkString(" "))
        }
      }
      .toDF("doc_id", "n_subwords", "subword_preview")
  }

  /** Learn the merge table alone (the [[tokenizeDocs]] training leg)
    * — what a streaming pipeline fits offline and broadcasts.
    */
  private[graft] def trainOnDocs(docs: DataFrame, numMerges: Int = 64,
      maxVocab: Int = 1 << 20): Seq[(String, String)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val counts = wordCounts(docs)
      .orderBy(col("cnt").desc, col("word"))
      .limit(maxVocab)
      .as[(String, Long)].collect().toSeq
      .sortBy { case (w, c) => (-c, w) }
    train(counts, numMerges)
  }

  /** ROUNDTRIP CHECK for [[tokenizeDocs]] (round-11 partial-oracle
    * tier): the learned merges and subword ids aren't
    * SQL-expressible, but BPE's defining invariant is — merges only
    * CONCATENATE adjacent symbols, so every word's subword sequence
    * reassembles to `word + Eow` exactly. Per doc the oracle
    * recomputes the normalized word count and character mass from
    * raw text (the tokenizer's conservation legs) while
    * `roundtrip_ok` must equal TRUE — a merge-table or encoder
    * regression that drops or mangles a single symbol breaks the
    * driver hash. Same broadcast + per-partition memo as the
    * tokenizer.
    */
  def bpeRoundtrip(spark: SparkSession, dir: String, numMerges: Int = 64,
      maxVocab: Int = 1 << 20): DataFrame = {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, dir)
    val counts = wordCounts(docs)
      .orderBy(col("cnt").desc, col("word"))
      .limit(maxVocab)
      .as[(String, Long)].collect().toSeq
      .sortBy { case (w, c) => (-c, w) }
    val merges = train(counts, numMerges)
    val rankB = spark.sparkContext.broadcast(
      merges.zipWithIndex.map { case (p, r) => p -> r }.toMap)
    docs.select(col("doc_id"), wordsCol.as("words"))
      .as[(Long, Seq[String])]
      .mapPartitions { it =>
        val rank = rankB.value
        val memo = scala.collection.mutable.HashMap.empty[String, Boolean]
        it.map { case (id, words) =>
          val ws = words.filter(_.nonEmpty)
          var ok = true
          var chars = 0L
          ws.foreach { w =>
            chars += w.length
            ok &&= memo.getOrElseUpdate(w,
              encodeWord(w, rank).mkString("") == w + Eow)
          }
          (id, ws.length.toLong, chars, ok)
        }
      }
      .toDF("doc_id", "n_words", "n_chars_norm", "roundtrip_ok")
  }

  def bpeRoundtripSql: String =
    """WITH w AS (
      |  SELECT doc_id,
      |    list_filter(string_split(trim(regexp_replace(regexp_replace(
      |      lower(trim(text)), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')),
      |      ' '), x -> x <> '') AS ws
      |  FROM documents
      |)
      |SELECT doc_id, len(ws)::BIGINT AS n_words,
      |  coalesce(list_sum(list_transform(ws, x -> length(x))), 0)::BIGINT
      |    AS n_chars_norm,
      |  true AS roundtrip_ok
      |FROM w ORDER BY doc_id""".stripMargin
}
