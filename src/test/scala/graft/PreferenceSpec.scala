package graft

import graft.operators.Preference
import org.apache.spark.sql.functions._

/** Preference-pair mining (q_pref_pairs / q_pref_stats): pairing
  * structure, margin gating, and the length-bias audit on a corpus
  * whose quality order is constructed by hand.
  */
class PreferenceSpec extends SparkSuite {
  import spark.implicits._

  // quality_score is 0.4·min(words/100,1) + 0.3·min(stop·5,1)
  // + 0.3·(1−min(punct·10,1)); all-stopword long docs score high,
  // punct-heavy short docs score low — build a 5-doc source whose
  // rank order is unambiguous and a 4-doc source with one near-tie.
  private def doc(id: Long, src: String, words: Int, junk: Boolean) = {
    val body =
      if (junk) Seq.fill(words)("x;;!?").mkString(" ")
      else Seq.fill(words)("the and of to a in is").mkString(" ")
    (id, body, "en", src, body.length.toLong)
  }

  private lazy val docs = Seq(
    doc(1, "a", 40, junk = false), // high: long, stopwords, clean
    doc(2, "a", 20, junk = false),
    doc(3, "a", 8, junk = false),
    doc(4, "a", 6, junk = true), // junk: punct-saturated
    doc(5, "a", 2, junk = true), // worst
    // b is a two-doc group of EQUAL saturated quality (both clear the
    // 100-word length cap, all stopwords, zero punct): its one pair
    // (rank 1 → rank 2, id-tiebroken) is the exact tie the margin
    // floor must reject
    doc(6, "b", 30, junk = false),
    doc(7, "b", 29, junk = false),
    (10L, "solo doc", "en", "c", 8L) // singleton source: no pairs
  ).toDF("doc_id", "text", "lang", "source", "n_chars")

  private lazy val pairs = Preference.prefPairsDocs(docs).cache()

  test("median-offset pairing: n − ⌊n/2⌋ pairs per source, singletons dropped") {
    val bySrc = pairs.groupBy("source").count().as[(String, Long)]
      .collect().toMap
    assert(bySrc == Map("a" -> 3L, "b" -> 1L)) // 5−2=3, 2−1=1; c absent
  }

  test("each doc appears at most once per side and never self-pairs") {
    val chosen = pairs.select("chosen_id").as[Long].collect()
    val rejected = pairs.select("rejected_id").as[Long].collect()
    assert(chosen.distinct.length == chosen.length)
    assert(rejected.distinct.length == rejected.length)
    assert(pairs.filter($"chosen_id" === $"rejected_id").count() == 0)
  }

  test("pairs contrast the quality halves: chosen_q > rejected_q on clean-vs-junk") {
    // source a: ranks (1,2,3) pair with (3+offset)=(4,5) shifted by ⌊5/2⌋=2
    val a = pairs.filter($"source" === "a")
      .select("chosen_id", "rejected_id").as[(Long, Long)].collect().toSet
    assert(a == Set((1L, 3L), (2L, 4L), (3L, 5L)))
    assert(pairs.filter($"source" === "a" && !($"chosen_q" > $"rejected_q"))
      .count() == 0)
  }

  test("margin floor gates near-ties: accepted ⇔ margin ≥ 0.05") {
    val m = pairs.select($"margin", $"accepted").as[(Double, Boolean)]
      .collect()
    assert(m.nonEmpty)
    m.foreach { case (margin, acc) => assert(acc == (margin >= 0.05)) }
    // the b-source pair is an exact quality tie (margin 0) — rejected
    val tie = pairs.filter($"source" === "b")
    assert(tie.count() == 1)
    val t = tie.select("chosen_id", "margin", "accepted")
      .as[(Long, Double, Boolean)].head()
    assert(t == ((6L, 0.0, false)))
  }

  test("stats audit: counts, exact mean margin, length-bias rate") {
    val stats = Preference.prefStatsPairs(pairs)
    val row = stats.filter($"source" === "a").collect().head
    val accA = pairs.filter($"source" === "a" && $"accepted")
      .select("margin", "chosen_chars", "rejected_chars")
      .as[(Double, Long, Long)].collect()
    assert(row.getAs[Long]("n_pairs") == accA.length)
    // replicate the impl's scaled-integer path: S = Σ round(m·10⁸),
    // HALF_UP(S/n) = (2S + n) / (2n) in integers, back to 8-dp double
    val s8 = accA.map(t => math.round(t._1 * 1e8)).sum
    val n = accA.length.toLong
    val meanM = ((2 * s8 + n) / (2 * n)).toDouble / 1e8
    assert(row.getAs[Double]("mean_margin") == meanM)
    // clean docs are longer than junk here — the audit must read 1.0
    assert(row.getAs[Double]("len_bias_rate") == 1.0)
    // a source with zero accepted pairs contributes no stats row
    assert(stats.filter($"source" === "c").count() == 0)
  }

  test("best-of-n: argmax per group, id tiebreak, null margin on singletons") {
    // doc_ids 0-3 → group 0; 4-7 → group 1; 8 → singleton group 2
    val bo = Preference.bestOfNDocs(frame(
      (0, 40, false), (1, 40, false), // exact tie: id 0 must win
      (2, 8, false), (3, 2, true),
      (4, 6, true), (5, 30, false), (6, 2, true), (7, 9, false),
      (8, 10, false))).cache()
    val g0 = bo.filter($"group_id" === 0).collect().head
    assert(g0.getAs[Long]("best_id") == 0L) // tie → lowest doc_id
    assert(g0.getAs[Double]("sel_margin") == 0.0)
    assert(g0.getAs[Long]("n_cands") == 4L)
    val g1 = bo.filter($"group_id" === 1).collect().head
    assert(g1.getAs[Long]("best_id") == 5L)
    assert(g1.getAs[Double]("sel_margin") > 0.0)
    val g2 = bo.filter($"group_id" === 2).collect().head
    assert(g2.getAs[Long]("n_cands") == 1L)
    assert(g2.isNullAt(g2.fieldIndex("second_q")))
    assert(g2.isNullAt(g2.fieldIndex("sel_margin")))
  }

  test("best-of-n mean is the scaled-integer HALF_UP mean") {
    val docs = frame((0, 40, false), (1, 20, false), (2, 8, false),
      (3, 2, true))
    val qs = operators.TextOps.qualityScoreDocs(docs)
      .select("quality_score").as[Double].collect()
    val s8 = qs.map(q => math.round(q * 1e8)).sum
    val n = qs.length.toLong
    val expected = ((2 * s8 + n) / (2 * n)).toDouble / 1e8
    val row = Preference.bestOfNDocs(docs).collect().head
    assert(row.getAs[Double]("mean_q") == expected)
  }

  test("length-matched pairing controls the confound it claims to") {
    val docs = Tables.documents(spark, sfDir)
    val matched = Preference.prefPairsMatchedDocs(docs).cache()
    // every pair sits in one 256-char band — lengths differ < 256
    assert(matched.filter(
      abs($"chosen_chars" - $"rejected_chars") >= 256).count() == 0)
    // chosen still at most once, never self-paired
    val chosen = matched.select("chosen_id").as[Long].collect()
    assert(chosen.distinct.length == chosen.length)
    assert(matched.filter($"chosen_id" === $"rejected_id").count() == 0)
    // the audit reads LOWER bias on matched pairs than on unmatched
    // (the fixed driver corpus: 0.816 vs 0.958 mean rate) — the
    // whole point of the variant
    def meanBias(stats: org.apache.spark.sql.DataFrame): Double = {
      val r = stats.select("len_bias_rate").as[Double].collect()
      r.sum / r.length
    }
    val matchedBias = meanBias(Preference.prefStatsPairs(matched))
    val unmatchedBias = meanBias(
      Preference.prefStatsPairs(Preference.prefPairsDocs(docs)))
    assert(matchedBias < unmatchedBias)
  }

  test("streaming best-of-n replay is row-identical to batch") {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, sfDir)
    // two time-ordered files split by id parity: every group spans
    // both microbatches, so the leaderboard state genuinely carries
    val staged = java.nio.file.Files.createTempDirectory("bon").toString
    docs.filter($"doc_id" % 2 === 0).coalesce(1)
      .write.parquet(s"$staged/a.parquet")
    docs.filter($"doc_id" % 2 === 1).coalesce(1)
      .write.parquet(s"$staged/b.parquet")
    val flat = java.nio.file.Files.createTempDirectory("bonflat")
    new java.io.File(staged).listFiles().filter(_.isDirectory)
      .sortBy(_.getName)
      .flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet"))
      .zipWithIndex.foreach { case (f, i) =>
        val dst = flat.resolve(f"part$i%02d.parquet")
        java.nio.file.Files.copy(f.toPath, dst)
        require(dst.toFile.setLastModified(1700000000000L + i * 60000L))
      }
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(flat.toString)
    val ckpt = java.nio.file.Files.createTempDirectory("bon_ckpt").toString
    val q = graft.streaming.DocStream.bestOfNDocsStream(spark, stream)
      .toDF().writeStream.outputMode("update")
      .format("memory").queryName("bon_snap")
      .option("checkpointLocation", ckpt).start()
    q.processAllAvailable(); q.stop()
    // final snapshot per group = the emission with the highest
    // candidate count (n_cands is strictly monotone per group)
    val w = Window.partitionBy("group_id").orderBy(col("n_cands").desc)
    val last = spark.table("bon_snap")
      .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
    val cols = Seq("group_id", "n_cands", "best_id", "best_q",
      "second_q", "sel_margin", "mean_q")
    val streamed = last.select(cols.map(col): _*)
      .collect().map(_.toSeq).toSet
    val batch = Preference.bestOfN(spark, sfDir)
      .select(cols.map(col): _*).collect().map(_.toSeq).toSet
    assert(streamed == batch)
  }

  test("streaming pref-pair replay is row-identical to batch") {
    val docs = Tables.documents(spark, sfDir)
    // two time-ordered files split by WITHIN-SOURCE rank parity (the
    // corpus assigns each source ids of one global parity, so an id
    // split would hand whole sources to single batches): every source
    // spans both microbatches, the rolling-rank state genuinely
    // carries, and the median-offset pairs RESHUFFLE between snapshots
    val staged = java.nio.file.Files.createTempDirectory("pp").toString
    val parted = docs.withColumn("prk", row_number().over(
      org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy("doc_id")))
    parted.filter($"prk" % 2 === 1).drop("prk").coalesce(1)
      .write.parquet(s"$staged/a.parquet")
    parted.filter($"prk" % 2 === 0).drop("prk").coalesce(1)
      .write.parquet(s"$staged/b.parquet")
    val flat = java.nio.file.Files.createTempDirectory("ppflat")
    new java.io.File(staged).listFiles().filter(_.isDirectory)
      .sortBy(_.getName)
      .flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet"))
      .zipWithIndex.foreach { case (f, i) =>
        val dst = flat.resolve(f"part$i%02d.parquet")
        java.nio.file.Files.copy(f.toPath, dst)
        require(dst.toFile.setLastModified(1700000000000L + i * 60000L))
      }
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(flat.toString)
    val ckpt = java.nio.file.Files.createTempDirectory("pp_ckpt").toString
    // collect each microbatch's emission separately (the memory sink
    // here retains only the latest update-mode batch, which would
    // make an interim-snapshot assertion vacuous)
    val emitted = scala.collection.mutable.ArrayBuffer
      .empty[Seq[org.apache.spark.sql.Row]]
    val q = graft.streaming.DocStream.prefPairsStream(spark, stream)
      .toDF().writeStream.outputMode("update")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = b.collect().toSeq
        emitted.synchronized { emitted += rows }: Unit
      }
      .option("checkpointLocation", ckpt).start()
    q.processAllAvailable(); q.stop()
    // the replay genuinely spanned two microbatches, BOTH emitting —
    // the parity below is a real rolling-state equivalence, not a
    // single batch in disguise
    assert(emitted.count(_.nonEmpty) >= 2,
      s"expected >= 2 emitting microbatches, got ${emitted.map(_.size)}")
    // final snapshot per source = the emission at the highest group
    // size (n_group is strictly monotone per source across batches)
    val all = emitted.flatten
    val maxN = all.groupBy(_.getAs[String]("source"))
      .map { case (s, rs) => s -> rs.map(_.getAs[Long]("n_group")).max }
    val cols = Seq("source", "chosen_id", "rejected_id", "chosen_q",
      "rejected_q", "margin", "chosen_chars", "rejected_chars", "accepted")
    val streamed = all
      .filter(r => r.getAs[Long]("n_group") == maxN(r.getAs[String]("source")))
      .map(r => cols.map(c => r.getAs[Any](c))).toSet
    val batch = Preference.prefPairsDocs(docs)
      .select(cols.map(col): _*).collect().map(_.toSeq.toList).toSet
    assert(streamed.map(_.toList) == batch)
    // and the interim snapshot genuinely reshuffled: at least one
    // interim pair is absent from the final set
    val interim = all.filter(r =>
      r.getAs[Long]("n_group") < maxN(r.getAs[String]("source")))
      .map(r => cols.map(c => r.getAs[Any](c)).toList).toSet
    assert(interim.nonEmpty && (interim -- streamed.map(_.toList)).nonEmpty,
      "interim snapshots never reshuffled — state carry is unproven")
  }

  private def frame(rows: (Long, Int, Boolean)*) =
    rows.map { case (id, words, junk) =>
      val d = doc(id, "g", words, junk); (d._1, d._2, d._3, d._4, d._5)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
}
