package graft

import graft.operators.{Dedup, IndexManifest, Similarity, TextOps}
import org.apache.spark.sql.functions._

class LlmOpsSpec extends SparkSuite {

  test("tokenFertility reconciles with per-doc token counts") {
    val got = TextOps.tokenFertility(spark, sfDir).collect()
    assert(got.nonEmpty)
    val perDoc = TextOps.tokenCount(spark, sfDir)
      .join(Tables.documents(spark, sfDir).select("doc_id", "lang", "source"),
        Seq("doc_id")).collect()
      .groupBy(r => (r.getAs[String]("lang"), r.getAs[String]("source")))
    assert(got.length == perDoc.size)
    got.foreach { r =>
      val g = perDoc((r.getString(0), r.getString(1)))
      assert(r.getAs[Long]("n_docs") == g.length)
      assert(r.getAs[Long]("ws_tokens") ==
        g.map(_.getAs[Int]("n_ws_tokens").toLong).sum)
      assert(r.getAs[Long]("bpe_tokens") ==
        g.map(_.getAs[Int]("n_bpe_tokens").toLong).sum)
      assert(r.getAs[Double]("fertility") >= 0.9,
        "bpe tokens can hardly undercount whitespace words")
    }
  }

  test("containment catches a planted verbatim quote that Jaccard misses") {
    import spark.implicits._
    val quote = (1 to 12).map(i => s"quoted$i").mkString(" ")
    val longDoc = (1 to 60).map(i => s"host$i").mkString(" ") +
      " " + quote + " " + (61 to 120).map(i => s"host$i").mkString(" ")
    val unrelated = (1 to 40).map(i => s"other$i").mkString(" ")
    val docs = Seq(
      (1L, longDoc), (2L, quote), (3L, unrelated),
      // a short doc (< 8 words) must contribute no grams and no pair
      (4L, "tiny doc under eight words total here")
    ).toDF("doc_id", "text")
    val rows = Dedup.containmentDocs(docs).collect()
    // exactly the (long, quote) pair collides on the quote's grams
    assert(rows.length == 1, rows.mkString(";"))
    val r = rows.head
    assert(r.getLong(0) == 1L && r.getLong(1) == 2L)
    // the quote's 12 words yield 5 8-grams, all inside the long doc
    assert(r.getAs[Long]("n_shared") == 5)
    assert(r.getAs[Double]("cont_b") == 1.0, "short side fully contained")
    assert(r.getAs[Double]("cont_a") < 0.1, "long side barely overlaps")
    assert(r.getAs[Boolean]("subset_dup"), "subset flag must fire")
    // symmetric Jaccard over the same sets would score ~0.04 — the
    // case the asymmetric score exists for
    val ja = r.getAs[Long]("n_shared").toDouble /
      (125 + 5 - r.getAs[Long]("n_shared"))
    assert(ja < 0.1)
  }

  test("char_ngrams equals the declarative HOF formulation, incl. unicode") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq("hello", "ab", "a", "", "héllo wörld", "日本語テスト")
      .toDF("t")
    val rows = df.select(
      graft.functions.CharNgrams.char_ngrams(col("t"), 2).as("fast"),
      expr("CASE WHEN length(t) > 1 THEN transform(sequence(1, length(t) - 1), " +
        "i -> substring(t, i, 2)) ELSE array() END").as("hof")).collect()
    rows.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1),
        s"fast=${r.getSeq[String](0)} hof=${r.getSeq[String](1)}")
    }
    // trigram sanity
    val tri = df.filter("t = 'hello'")
      .select(graft.functions.CharNgrams.char_ngrams(col("t"), 3))
      .head.getSeq[String](0)
    assert(tri == Seq("hel", "ell", "llo"))
  }

  test("tokenCount: ws tokens positive, bpe >= ws for word text") {
    val df = TextOps.tokenCount(spark, sfDir)
    assert(df.count() == Tables.documents(spark, sfDir).count())
    assert(df.filter("n_ws_tokens <= 0").count() == 0)
    assert(df.filter("n_bpe_tokens < n_ws_tokens").count() == 0)
  }

  test("qualityScore bounded in [0,1]") {
    val df = TextOps.qualityScore(spark, sfDir)
    assert(df.filter("quality_score < 0 OR quality_score > 1").count() == 0)
  }

  test("langId predicts a valid language for every doc") {
    val df = TextOps.langId(spark, sfDir)
    assert(df.filter(!col("predicted_lang").isin("en", "fr", "es", "de", "zh")).count() == 0)
    assert(df.count() == Tables.documents(spark, sfDir).count())
  }

  test("langIdEval confusion matrix reconciles with the per-doc classifier") {
    val cells = TextOps.langIdEval(spark, sfDir).collect()
    val docs = TextOps.langId(spark, sfDir)
      .select("lang", "predicted_lang").collect()
      .map(r => (r.getString(0), r.getString(1)))
    // cells sum to the corpus; every cell count matches a driver-side
    // recount; recall_ppm is the documented integer ratio
    assert(cells.map(_.getAs[Long]("n_docs")).sum == docs.length)
    val recount = docs.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val goldTotals = docs.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    cells.foreach { c =>
      val k = (c.getAs[String]("lang"), c.getAs[String]("predicted_lang"))
      assert(c.getAs[Long]("n_docs") == recount(k), s"cell $k")
      assert(c.getAs[Long]("n_gold") == goldTotals(k._1))
      assert(c.getAs[Long]("recall_ppm") ==
        c.getAs[Long]("n_docs") * 1000000L / c.getAs[Long]("n_gold"))
    }
    // the heuristic must beat uniform 5-way chance on its gold labels
    val correct = cells.filter(c =>
      c.getAs[String]("lang") == c.getAs[String]("predicted_lang"))
      .map(_.getAs[Long]("n_docs")).sum
    assert(correct.toDouble / docs.length > 0.2,
      s"diagonal mass $correct of ${docs.length}")
  }

  test("langMix flags planted mixed-language docs, clears pure ones") {
    import spark.implicits._
    // corpus surface: every doc classified, block counts reconcile
    val corpus = TextOps.langMix(spark, sfDir).collect()
    assert(corpus.length == Tables.documents(spark, sfDir).count())
    corpus.foreach { r =>
      val blocks = r.getAs[Long]("n_blocks")
      val sum = Seq("n_en", "n_fr", "n_es", "n_de", "n_zh")
        .map(r.getAs[Long]).sum
      assert(sum == blocks, s"block counts must partition: $r")
      assert(r.getAs[Long]("dom_share_ppm") <= 1000000L)
    }
    // planted fixtures: 20-word blocks by construction
    val en20 = Seq.fill(20)("the and of to a in is word").mkString(" ")
      .split(" ").take(20).mkString(" ")
    val fr20 = Seq.fill(20)("le la et les des un une mot").mkString(" ")
      .split(" ").take(20).mkString(" ")
    val zh20 = Seq.fill(20)("天").mkString(" ")
    val planted = Seq(
      (1L, "en", s"$en20 $en20 $en20"),         // pure english
      (2L, "en", s"$en20 $fr20"),               // half en / half fr
      (3L, "zh", s"$zh20 $zh20"),               // pure cjk
      (4L, "en", s"$en20 $en20 $en20 $en20 $fr20") // 80% en: NOT mixed
    ).toDF("doc_id", "lang", "text")
    val got = TextOps.langMixDocs(planted).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(!got(1L).getAs[Boolean]("is_mixed"))
    assert(got(1L).getAs[String]("dom_lang") == "en")
    assert(got(1L).getAs[Long]("dom_share_ppm") == 1000000L)
    assert(got(2L).getAs[Boolean]("is_mixed"),
      "a half-en half-fr doc must flag mixed")
    assert(got(2L).getAs[Long]("n_langs") == 2L)
    assert(got(2L).getAs[Long]("dom_share_ppm") == 500000L)
    assert(got(3L).getAs[String]("dom_lang") == "zh"
      && !got(3L).getAs[Boolean]("is_mixed"))
    assert(!got(4L).getAs[Boolean]("is_mixed"),
      "dominant share exactly 800000 ppm must NOT flag (strict <)")
    assert(got(4L).getAs[Long]("dom_share_ppm") == 800000L)
  }

  test("knnClassify labels the probe sample from its neighbors") {
    val res = Similarity.knnClassify(spark, sfDir).collect()
    val n = Tables.embeddings(spark, sfDir).count()
    assert(res.length.toLong == (n + 3) / 4, s"${res.length} probes of $n")
    // EVERY probe's prediction reconciles with a driver-side recount
    // of the exact top-10 vote (cos desc / id ranks, vote-count desc /
    // label tie-breaks — the full documented decision path)
    val emb = Tables.embeddings(spark, sfDir).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Seq[Float]]("embedding").map(_.toDouble).toArray,
          r.getAs[Int]("label"))).toMap
    def cos(a: Array[Double], b: Array[Double]) = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    res.foreach { r =>
      val pid = r.getAs[Long]("probe_id")
      val pv = emb(pid)._1
      val top = emb.toSeq.filter(_._1 != pid)
        .map { case (id, (v, l)) => (id, cos(pv, v), l) }
        .sortBy { case (id, c, _) => (-c, id) }.take(10)
      val (expectLabel, expectVotes) = top.groupBy(_._3).view
        .mapValues(_.size).toSeq.sortBy { case (l, c) => (-c, l) }.head
      assert(r.getAs[Int]("predicted_label") == expectLabel
        && r.getAs[Long]("votes") == expectVotes.toLong
        && r.getAs[Boolean]("is_match") == (expectLabel == emb(pid)._2),
        s"probe $pid: got $r, driver says ($expectLabel, $expectVotes)")
    }
    // vote mechanics on label-PURE planted blobs: three tight clusters
    // around orthogonal centers, labels = blob id → accuracy must be
    // exactly 1.0 (testdata labels are independent of geometry, so the
    // real-corpus leg above can only check reconciliation)
    import spark.implicits._
    val rnd = new java.util.Random(11L)
    val blobs = (0 until 60).map { i =>
      val b = i % 3
      val v = Array.tabulate(6)(j =>
        (if (j == b * 2) 10.0 else 0.0) + rnd.nextGaussian() * 0.05)
      (i.toLong, v.toSeq, b)
    }
    val corpus = blobs.map { case (id, v, _) => (id, v) }.toDF("vec_id", "v")
      .withColumn("norm", sqrt(graft.operators.Dedup.dot(col("v"), col("v"))))
    val labels = blobs.map { case (id, _, b) => (id, b) }.toDF("vec_id", "label")
    val planted = Similarity.knnClassifyOn(corpus, labels).collect()
    assert(planted.length == 15 && planted.forall(_.getAs[Boolean]("is_match")),
      "planted blobs must classify perfectly")
  }

  test("chunkDocs covers every document with overlapping chunks") {
    val chunks = TextOps.chunkDocs(spark, sfDir)
    assert(chunks.select("doc_id").distinct().count() ==
      Tables.documents(spark, sfDir).count())
    assert(chunks.filter("chunk_len > 200").count() == 0)
    // long docs produce multiple chunks
    assert(chunks.groupBy("doc_id").count().filter("count > 1").count() > 0)
  }

  test("cleanText strips stopwords and punctuation") {
    val df = TextOps.cleanText(spark, sfDir)
    assert(df.count() == Tables.documents(spark, sfDir).count())
    assert(df.filter(col("clean_text").contains(" the ")).count() == 0)
    assert(df.filter("n_clean_tokens <= 0").count() == 0)
  }

  test("wordFreq top-100 is ordered and counts are positive") {
    val rows = TextOps.wordFreq(spark, sfDir).collect()
    assert(rows.length <= 100 && rows.nonEmpty)
    val freqs = rows.map(_.getAs[Long]("freq"))
    assert(freqs.sameElements(freqs.sortBy(-_)))
  }

  test("zipfFit recovers s = -1 on an exact-Zipf corpus and replays OLS") {
    import spark.implicits._
    // planted corpus: word_i appears round(1000/i) times — Zipf with
    // s = -1 up to the integer floor
    val planted = (1 to 20).flatMap(i =>
      Seq.fill(math.round(1000.0 / i).toInt)(("en", s"w${"%02d".format(i)}")))
    val docs = planted.grouped(50)
      .map(g => ("en", g.map(_._2).mkString(" ")))
      .toSeq.toDF("lang", "text")
    val r = TextOps.zipfFitDocs(docs).collect()
    assert(r.length == 1)
    val slope = r.head.getAs[Double]("zipf_slope")
    val r2 = r.head.getAs[Double]("r2")
    assert(math.abs(slope + 1.0) < 0.01, s"planted slope $slope")
    assert(r2 > 0.999, s"planted r2 $r2")
    assert(r.head.getAs[Long]("n_types") == 20)
    assert(r.head.getAs[Long]("n_tokens") == planted.length)

    // corpus run reconciles with a driver OLS over the same surface
    def r12(x: Double) = BigDecimal(x)
      .setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
    def sr6(x: Double) = BigDecimal(x * 1e6)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble / 1e6
    val counts = Tables.documents(spark, sfDir)
      .select(col("lang"), explode(split(trim(col("text")), "\\s+"))
        .as("word"))
      .groupBy("lang", "word").agg(count(lit(1)).as("freq"))
      .collect()
      .map(x => (x.getString(0), x.getString(1), x.getLong(2)))
    val got = TextOps.zipfFit(spark, sfDir).collect()
      .map(x => x.getString(0) -> x).toMap
    counts.groupBy(_._1).foreach { case (lang, ws) =>
      val ranked = ws.sortBy(w => (-w._3, w._2)).zipWithIndex
        .map { case ((_, _, f), i) =>
          (r12(math.log((i + 1).toDouble)), r12(math.log(f.toDouble))) }
      val n = ranked.length.toDouble
      val (sx, sy) = (ranked.map(_._1).sum, ranked.map(_._2).sum)
      val sxy = ranked.map(p => p._1 * p._2).sum
      val (sxx, syy) = (ranked.map(p => p._1 * p._1).sum,
        ranked.map(p => p._2 * p._2).sum)
      val (sxxC, sxyC, syyC) =
        (sxx - sx * sx / n, sxy - sx * sy / n, syy - sy * sy / n)
      val g = got(lang)
      assert(g.getAs[Long]("n_types") == ranked.length)
      // driver sums run in rank order vs Spark's partition order —
      // compare to the fold residual, not bit-exact
      assert(math.abs(g.getAs[Double]("zipf_slope") - sr6(sxyC / sxxC))
        <= 1e-6, s"$lang slope")
      assert(math.abs(g.getAs[Double]("r2") -
        sr6(sxyC * sxyC / (sxxC * syyC))) <= 1e-6, s"$lang r2")
      // real text: slope negative, fit explains most variance
      assert(g.getAs[Double]("zipf_slope") < 0.0, s"$lang sign")
    }
  }

  test("charEntropy replays a driver recount and pins planted extremes") {
    import spark.implicits._
    def sr6(x: Double) = BigDecimal(x * 1e6)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble / 1e6
    // planted extremes: one repeated bigram -> entropy 0 (and the
    // single-bigram uniform convention -> norm 1); an
    // all-distinct-bigram doc -> normalized entropy exactly 1
    val planted = Seq((1L, "aaaaaaaa"), (2L, "abcdefgh"), (3L, "xy"))
      .toDF("doc_id", "text")
    val pr = TextOps.charEntropyDocs(planted).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(pr(1L).getAs[Double]("entropy") == 0.0)
    assert(pr(1L).getAs[Long]("n_distinct") == 1)
    assert(pr(1L).getAs[Double]("norm_entropy") == 1.0)
    assert(pr(2L).getAs[Double]("norm_entropy") == 1.0)
    assert(pr(2L).getAs[Long]("n_distinct") == 7)
    assert(pr(3L).getAs[Long]("n_bigrams") == 1)

    // corpus recount: classic counts formulation on the driver
    val texts = Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = TextOps.charEntropy(spark, sfDir).collect()
    assert(got.length == texts.count(_._2.length >= 2))
    got.foreach { r =>
      val t = texts(r.getAs[Long]("doc_id"))
      val bgs = (0 until t.length - 1).map(i => t.substring(i, i + 2))
      val n = bgs.length.toDouble
      val counts = bgs.groupBy(identity).map(_._2.length.toDouble)
      val ent = -counts.map(f => (f / n) * math.log(f / n)).sum
      assert(r.getAs[Long]("n_bigrams") == bgs.length)
      assert(r.getAs[Long]("n_distinct") == counts.size)
      assert(math.abs(r.getAs[Double]("entropy") - sr6(ent)) <= 1e-6)
      val ne = r.getAs[Double]("norm_entropy")
      assert(ne >= 0.0 && ne <= 1.0 + 1e-9, s"norm entropy $ne")
    }
  }

  test("minhashCalibration: exact recount + the binomial envelope holds") {
    def r6c(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val texts = Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def sh3(t: String): Set[String] = {
      val w = t.trim.split("\\s+")
      (1 to math.max(w.length - 2, 1))
        .map(i => w.slice(i - 1, i + 2).mkString(" ")).toSet
    }
    val rows = Dedup.minhashCalibration(spark, sfDir).collect()
    assert(rows.nonEmpty, "no candidate pairs — corpus shape changed")
    var errs = List.empty[Double]
    rows.foreach { r =>
      val (a, b) = (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))
      val (sa, sb) = (sh3(texts(a)), sh3(texts(b)))
      val exact = r6c((sa & sb).size.toDouble / (sa | sb).size)
      assert(r.getAs[Double]("exact_jaccard") == exact, s"($a,$b) exact")
      val est = r.getAs[Double]("est_jaccard")
      // estimates are agreement counts over 32 hashes (display-rounded
      // to 4 dp in the query, so the grid check carries 32 * 5e-5)
      assert(est >= 0.0 && est <= 1.0 &&
        math.abs(est * 32 - math.round(est * 32)) <= 0.0017, s"($a,$b) grid")
      val err = r.getAs[Double]("err")
      assert(math.abs(err - r6c(est - exact)) < 1e-9)
      // 4-sigma binomial envelope at 32 hashes: sigma <= 0.0884
      assert(math.abs(err) <= 0.36, s"($a,$b) err $err outside envelope")
      errs ::= err
    }
    assert(errs.map(math.abs).sum / errs.size <= 0.1,
      "mean |err| beyond the calibration envelope")
    // identical docs (exact jaccard 1) must estimate 1 exactly
    rows.filter(_.getAs[Double]("exact_jaccard") == 1.0)
      .foreach(r => assert(r.getAs[Double]("est_jaccard") == 1.0))
  }

  test("heavyHittersExact IS the sketch queries' verifier tier") {
    import graft.operators.TextOps
    val exact = TextOps.heavyHittersExact(spark, sfDir).collect()
      .map(r => (r.getAs[String]("word"), r.getAs[Long]("freq"))).toSeq
    assert(exact.nonEmpty && exact.length <= 50)
    // identical (word, freq) list, same order, as the CMS report's
    // exact columns — the oracle-graded shadow covers that tier
    val cms = graft.operators.TextOps.heavyHitters(spark, sfDir).collect()
      .map(r => (r.getAs[String]("word"), r.getAs[Long]("freq"))).toSeq
    assert(exact == cms, "exact shadow diverged from the CMS verifier tier")
    // descending-frequency total order with the word tie-break
    exact.zip(exact.tail).foreach { case ((wa, fa), (wb, fb)) =>
      assert(fa > fb || (fa == fb && wa < wb))
    }
  }

  test("minhashCalibrationExact covers all adjacent pairs, agrees on overlap") {
    import graft.operators.Dedup
    val nDocs = Tables.documents(spark, sfDir).count()
    val adj = Dedup.minhashCalibrationExact(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Double]("exact_jaccard")).toMap
    assert(adj.size == nDocs - 1, "one row per adjacent id pair")
    assert(adj.values.forall(j => j >= 0.0 && j <= 1.0))
    // where an adjacent pair also LSH-collides, the calibration's
    // exact column must be the same number (same shingles, same math)
    val shared = Dedup.minhashCalibration(spark, sfDir).collect()
      .filter(r => adj.contains(
        (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))))
    shared.foreach { r =>
      val k = (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))
      assert(r.getAs[Double]("exact_jaccard") == adj(k),
        s"$k: exact-jaccard drift between the two surfaces")
    }
  }

  test("qualityConfluence votes equal their standalone surfaces") {
    val got = TextOps.qualityConfluence(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(got.nonEmpty)
    val rep = graft.operators.Curation.gopherChain(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("keep_rep"))
      .toMap
    val qs = TextOps.qualityScore(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("quality_score"))
      .toMap
    val ppl = TextOps.perplexity(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("perplexity"))
      .toMap
    val medp = {
      val xs = ppl.values.toArray.sorted
      val h = (xs.length - 1) * 0.5
      val lo = xs(h.toInt)
      lo + (h - h.toInt) * (xs(math.ceil(h).toInt) - lo)
    }
    val lm = TextOps.langId(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("is_match"))
      .toMap
    val ttr = TextOps.lexicalDiversity(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("ttr")).toMap
    // report covers exactly the docs present on every surface
    assert(got.keySet ==
      (rep.keySet & qs.keySet & ppl.keySet & lm.keySet & ttr.keySet))
    got.foreach { case (id, r) =>
      assert(r.getAs[Int]("v_rep") == (if (rep(id)) 1 else 0), s"$id rep")
      assert(r.getAs[Int]("v_quality") == (if (qs(id) >= 0.5) 1 else 0))
      assert(r.getAs[Int]("v_ppl") == (if (ppl(id) <= medp) 1 else 0))
      assert(r.getAs[Int]("v_lang") == (if (lm(id)) 1 else 0))
      assert(r.getAs[Int]("v_lex") == (if (ttr(id) >= 0.35) 1 else 0))
      val s = r.getAs[Int]("v_rep") + r.getAs[Int]("v_quality") +
        r.getAs[Int]("v_ppl") + r.getAs[Int]("v_lang") + r.getAs[Int]("v_lex")
      assert(r.getAs[Int]("score") == s)
      assert(r.getAs[Boolean]("keep") == (s >= 4))
    }
    // the gate separates: both verdicts occur on this corpus
    assert(got.values.exists(_.getAs[Boolean]("keep")))
    assert(got.values.exists(!_.getAs[Boolean]("keep")))
  }

  test("embedOutliers flags planted junk and leaves the tight corpus alone") {
    import spark.implicits._
    // 200 vectors in a tight band around a shifted center, plus two
    // planted wrecks: a far spike and a zero vector
    val d = 8
    val tight = (0 until 200).map { i =>
      (i.toLong, Array.tabulate(d)(j =>
        1.0 + 0.01 * math.sin(i * 0.37 + j)).toSeq)
    }
    val planted = Seq(
      (900L, Array.tabulate(d)(j => if (j == 0) 50.0 else 1.0).toSeq),
      (901L, Array.fill(d)(0.0).toSeq))
    val emb = (tight ++ planted).toDF("vec_id", "embedding")
    val rows = Similarity.embedOutliersOf(emb).collect()
      .map(r => r.getAs[Long]("vec_id") -> r).toMap
    assert(rows.size == 202)
    assert(rows(900L).getAs[Boolean]("is_outlier"), "far spike not flagged")
    assert(rows(901L).getAs[Boolean]("is_outlier"), "zero vector not flagged")
    val flagged = rows.values.count(_.getAs[Boolean]("is_outlier"))
    assert(flagged == 2, s"robust gate flagged $flagged of 202 — " +
      "the tight band must stay clean")
    // the robust model ignores the wrecks: median distance sits in
    // the tight band's scale, not dragged toward the 49-unit spike
    assert(rows(0L).getAs[Double]("med") < 1.0)
    // corpus run: report covers every vector, z defined when MAD > 0
    val corpus = Similarity.embedOutliers(spark, sfDir).collect()
    assert(corpus.length ==
      Tables.embeddings(spark, sfDir).count())
    corpus.foreach { r =>
      assert(r.getAs[Double]("dist") >= 0.0)
      if (r.getAs[Double]("mad") > 0) assert(!r.isNullAt(r.fieldIndex("z")))
    }
  }

  test("heapsFit pins planted growth exponents and replays the curve") {
    import spark.implicits._
    // every doc brings 3 never-seen words: V(n) = 3n over N(n) = 3n
    // exactly, so the log-log fit is the line y = x: beta 1, K 1,
    // r2 1 — bit-exact, not approximate
    val linear = (0 until 40)
      .map(i => (i.toLong, s"a$i b$i c$i")).toDF("doc_id", "text")
    val lr = TextOps.heapsFitDocs(linear).head
    assert(lr.getAs[Double]("heaps_beta") == 1.0)
    assert(lr.getAs[Double]("heaps_k") == 1.0)
    assert(lr.getAs[Double]("r2") == 1.0)
    assert(lr.getAs[Long]("total_tokens") == 120 &&
      lr.getAs[Long]("total_types") == 120)
    // a template corpus (all docs identical) plateaus: beta near 0
    val flat = (0 until 40)
      .map(i => (i.toLong, "the same three words")).toDF("doc_id", "text")
    val fr = TextOps.heapsFitDocs(flat).head
    assert(fr.getAs[Double]("heaps_beta") < 0.05,
      s"template corpus beta ${fr.getAs[Double]("heaps_beta")}")
    assert(fr.getAs[Long]("total_types") == 4)

    // corpus run: replay the growth curve + OLS on the driver
    def r12(x: Double) = BigDecimal(x)
      .setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
    def sr6(x: Double) = BigDecimal(x * 1e6)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble / 1e6
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val seen = scala.collection.mutable.Set[String]()
    var (ct, cv) = (0L, 0L)
    val pts = docs.map { case (_, text) =>
      val ws = text.trim.split("\\s+")
      ct += ws.length
      ws.foreach(w => if (seen.add(w)) cv += 1)
      (r12(math.log(ct.toDouble)), r12(math.log(cv.toDouble)))
    }
    val n = pts.length.toDouble
    val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
    val (sxy, sxx, syy) = (pts.map(p => p._1 * p._2).sum,
      pts.map(p => p._1 * p._1).sum, pts.map(p => p._2 * p._2).sum)
    val (sxxC, sxyC, syyC) =
      (sxx - sx * sx / n, sxy - sx * sy / n, syy - sy * sy / n)
    val g = TextOps.heapsFit(spark, sfDir).head
    assert(g.getAs[Long]("n_docs") == docs.length)
    assert(g.getAs[Long]("total_tokens") == ct &&
      g.getAs[Long]("total_types") == cv)
    assert(math.abs(g.getAs[Double]("heaps_beta") - sr6(sxyC / sxxC))
      <= 1e-6, "corpus beta")
    assert(math.abs(g.getAs[Double]("r2") -
      sr6(sxyC * sxyC / (sxxC * syyC))) <= 1e-6, "corpus r2")
    // growth exponents live in (0, 1] — sublinear vocabulary growth
    val beta = g.getAs[Double]("heaps_beta")
    assert(beta > 0.0 && beta <= 1.0, s"corpus beta $beta")
  }

  test("lexicalDiversity masses reconcile with a driver recount") {
    def sr6(x: Double) = BigDecimal(x * 1e6)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble / 1e6
    val texts = Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = TextOps.lexicalDiversity(spark, sfDir).collect()
    assert(got.length == texts.size, "every doc is profiled")
    got.foreach { r =>
      val words = texts(r.getAs[Long]("doc_id")).trim.split("\\s+").toSeq
      val byWord = words.groupBy(identity).map(_._2.length)
      val (nTok, nTyp) = (words.length.toLong, byWord.size.toLong)
      val nHap = byWord.count(_ == 1).toLong
      assert(r.getAs[Long]("n_tokens") == nTok)
      assert(r.getAs[Long]("n_types") == nTyp)
      assert(r.getAs[Long]("n_hapax") == nHap)
      assert(r.getAs[Double]("ttr") == sr6(nTyp.toDouble / nTok))
      assert(r.getAs[Double]("hapax_ratio") == sr6(nHap.toDouble / nTyp))
      // structural envelope: hapax <= types <= tokens, ratios in (0,1]
      assert(nHap <= nTyp && nTyp <= nTok)
      assert(r.getAs[Double]("ttr") > 0.0 && r.getAs[Double]("ttr") <= 1.0)
    }
  }

  test("fingerprint is stable and 32 hex chars") {
    val df = TextOps.fingerprint(spark, sfDir)
    assert(df.filter(length(col("fingerprint")) =!= 32).count() == 0)
    // identical texts get identical fingerprints
    val nDistinctTexts = Tables.documents(spark, sfDir).select("text").distinct().count()
    assert(df.select("fingerprint").distinct().count() <= nDistinctTexts)
  }

  test("exact dedup copies reconcile with total docs") {
    val df = Dedup.exact(spark, sfDir)
    val total = df.agg(sum("n_copies")).head.getLong(0)
    assert(total == Tables.documents(spark, sfDir).count())
  }

  test("ngramJaccard values in [0,1]") {
    val df = Dedup.ngramJaccard(spark, sfDir)
    assert(df.count() > 0)
    assert(df.filter("jaccard < 0 OR jaccard > 1").count() == 0)
  }

  test("minhashLsh finds planted duplicates with est_jaccard 1.0") {
    val tmp = java.nio.file.Files.createTempDirectory("minhash_docs").toString
    val base = Tables.documents(spark, sfDir).limit(50)
    val planted = base.limit(5).select((col("doc_id") + 100000).as("doc_id"),
      col("text"), col("lang"), col("source"), col("n_chars"))
    base.unionByName(planted).coalesce(1)
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val pairs = Dedup.minhashLsh(spark, tmp).collect()
    val found = pairs.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val expectedDups = base.limit(5).select("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(0) + 100000)).toSet
    assert(expectedDups.subsetOf(found),
      s"missing planted dups: ${expectedDups -- found}")
    pairs.filter(p => expectedDups((p.getAs[Long]("doc_a"), p.getAs[Long]("doc_b"))))
      .foreach(p => assert(p.getAs[Double]("est_jaccard") == 1.0))
    assert(pairs.forall(p => p.getAs[Double]("est_jaccard") >= 0.5))
  }

  test("minhash est_jaccard tracks the exact shingle jaccard") {
    // exact 3-word-shingle jaccard computed independently in Scala
    val texts = Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> {
        val ws = r.getString(1).trim.split("\\s+")
        // MinHashShingles emits ONE whole-document shingle for docs
        // shorter than the shingle width — mirror that, not ws.toSet
        if (ws.length < 3) Set(ws.mkString(" "))
        else ws.sliding(3).map(_.mkString(" ")).toSet
      }).toMap
    val pairs = Dedup.minhashLsh(spark, sfDir).collect()
    assert(pairs.nonEmpty)
    val errors = pairs.map { p =>
      val a = texts(p.getAs[Long]("doc_a"))
      val b = texts(p.getAs[Long]("doc_b"))
      val exact = (a & b).size.toDouble / (a | b).size
      val est = p.getAs[Double]("est_jaccard")
      math.abs(est - exact)
    }
    // 32 hashes → σ ≈ sqrt(J(1−J)/32) ≤ 0.09; allow 4σ per pair
    assert(errors.max <= 0.36, s"worst estimate error ${errors.max}")
    assert(errors.sum / errors.length <= 0.15,
      s"mean estimate error ${errors.sum / errors.length}")
  }

  test("simhash near-dups are symmetric-free and low hamming") {
    val pairs = Dedup.simhashDedup(spark, sfDir)
    assert(pairs.filter("hamming > 8 OR doc_a >= doc_b").count() == 0)
  }

  test("embeddingDedup pairs have cosine >= 0.4") {
    val pairs = Dedup.embeddingDedup(spark, sfDir)
    assert(pairs.filter("cosine < 0.4 OR cosine > 1.0").count() == 0)
  }

  test("connectedComponents resolves chains, cliques, and singletons") {
    import spark.implicits._
    // chain 1-2-3-4 (diameter 3, needs >1 propagation round), clique
    // {10,11,12}, bridge 12-13, isolated vertices 20 and 21
    val verts = Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L, 13L, 20L, 21L).toDF("id")
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L), (11L, 12L),
      (10L, 12L), (13L, 12L)).toDF("src", "dst")
    val got = Dedup.connectedComponents(verts, edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L, 20L -> 20L, 21L -> 21L)
    assert(got == want)
  }

  test("star contraction matches the default loop, incl. a planted long chain") {
    import spark.implicits._
    // the crafted graph the default loop's spec uses...
    val verts = Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L, 13L, 20L, 21L).toDF("id")
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L), (11L, 12L),
      (10L, 12L), (13L, 12L)).toDF("src", "dst")
    val star = Dedup.connectedComponentsStar(verts, edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val loop = Dedup.connectedComponents(verts, edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star == loop)
    // ...plus the shape the default loop is WRONG for at scale: a
    // 256-link chain is ~256 min-propagation rounds but must stay
    // inside star contraction's O(log n) budget (maxRounds = 64 would
    // blow up if rounds scaled with diameter)
    val n = 256
    val chainVerts = (0L until n.toLong).toDF("id")
    val chainEdges = (0L until (n - 1).toLong).map(i => (i, i + 1)).toDF("src", "dst")
    val chainLabels = Dedup.connectedComponentsStar(chainVerts, chainEdges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(chainLabels == (0L until n.toLong).map(_ -> 0L).toMap)
    // the DEFAULT loop now survives the same chain, through all THREE
    // solver paths: (1) the default cap admits the whole raw edge list
    // up front → one-shot driver union-find, no rounds; (2) a cap of
    // 100 rejects the 255-edge chain at the early guard (2·100 < 510
    // symmetrized rows) but admits the label graph CONTRACTED by
    // `switchAfter` rounds → the round budget + driver TAIL; (3) a
    // zero cap forces the distributed STAR tail. Exact labels via all.
    val chainEarly = Dedup.connectedComponents(chainVerts, chainEdges,
        switchAfter = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(chainEarly == chainLabels)
    val chainDriver = Dedup.connectedComponents(chainVerts, chainEdges,
        switchAfter = 4, driverSolveMaxEdges = 100L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(chainDriver == chainLabels)
    val chainStar = Dedup.connectedComponents(chainVerts, chainEdges,
        switchAfter = 4, driverSolveMaxEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(chainStar == chainLabels)
    // real pair graph: identical labels from both algorithms
    val pairs = Dedup.embeddingDedup(spark, sfDir)
      .select(col("a_id").as("src"), col("b_id").as("dst"))
    val ids = Tables.embeddings(spark, sfDir).select(col("vec_id").as("id"))
    val viaStar = Dedup.connectedComponentsStar(ids, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaLoop = Dedup.connectedComponents(ids, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaStar == viaLoop)
  }

  test("updateComponents folds a batch into standing labels == from-scratch") {
    import spark.implicits._
    // standing graph: cluster {1,2,3} (label 1), cluster {10,11}
    // (label 10), singletons 20, 21
    val standingVerts = Seq(1L, 2L, 3L, 10L, 11L, 20L, 21L).toDF("id")
    val standingEdges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst")
    val standing = Dedup.connectedComponents(standingVerts, standingEdges)
    // batch: edge (3,10) MERGES the two standing clusters; new vertex
    // 0 attaches to cluster 1 and TAKES OVER as its minimum; new pair
    // (30,31) is a cluster of only-new ids; new vertex 40 arrives
    // with no edges; vertex 21 is never touched
    val newVerts = Seq(0L, 30L, 31L, 40L).toDF("id")
    val newEdges = Seq((3L, 10L), (0L, 1L), (30L, 31L)).toDF("src", "dst")
    val got = Dedup.updateComponents(standing, newVerts, newEdges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val scratch = Dedup.connectedComponents(
        standingVerts.union(newVerts),
        standingEdges.union(newEdges))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == scratch)
    // spot-check the planted shapes, not just agreement
    assert(got(10L) == 0L && got(3L) == 0L, "cross-batch merge + takeover")
    assert(got(30L) == 30L && got(31L) == 30L)
    assert(got(40L) == 40L && got(21L) == 21L)

    // real corpus: standing half + arriving half == one-shot clustering
    val incr = Dedup.embeddingClustersIncremental(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val full = Dedup.embeddingClusters(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(incr.sorted.sameElements(full.sorted))
  }

  test("updateCanonical recomputes touched clusters only == from-scratch") {
    import spark.implicits._
    // same planted topology as the updateComponents spec
    val standingVerts = Seq(1L, 2L, 3L, 10L, 11L, 20L, 21L).toDF("id")
    val standingEdges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst")
    val standing = Dedup.connectedComponents(standingVerts, standingEdges)
      .localCheckpoint(eager = true)
    // scores: id 10 dominates, so the cross-batch merge must move the
    // merged cluster's representative to the ABSORBED side; everyone
    // else scores their own id (ties impossible)
    def scoresOf(ids: Seq[Long]) = ids
      .map(i => (i, if (i == 10L) 999.0 else i.toDouble))
      .toDF("doc_id", "score")
    val emptyCanon = Seq.empty[(Long, Long, Long, Boolean)]
      .toDF("doc_id", "cluster_id", "canonical_id", "is_canonical")
    def allClusters(labels: org.apache.spark.sql.DataFrame) =
      labels.select(col("label").as("cluster_id")).distinct()
    // bootstrap: fold-into-empty with every cluster touched IS the
    // from-scratch computation
    val standingIds = Seq(1L, 2L, 3L, 10L, 11L, 20L, 21L)
    val canon0 = Dedup.updateCanonical(emptyCanon, standing,
      allClusters(standing), scoresOf(standingIds))
      .localCheckpoint(eager = true)
    // batch fold: merge {1,2,3}+{10,11} via (3,10), new min 0, new
    // cluster (30,31), singleton 40
    val newVerts = Seq(0L, 30L, 31L, 40L).toDF("id")
    val newEdges = Seq((3L, 10L), (0L, 1L), (30L, 31L)).toDF("src", "dst")
    val (newLabels, touched) =
      Dedup.updateComponentsDetailed(standing, newVerts, newEdges)
    val allIds = standingIds ++ Seq(0L, 30L, 31L, 40L)
    val incr = Dedup.updateCanonical(canon0, newLabels, touched,
      scoresOf(allIds))
    val scratch = Dedup.updateCanonical(emptyCanon, newLabels,
      allClusters(newLabels), scoresOf(allIds))
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .sortBy(_._1).toSeq
    assert(rows(incr) == rows(scratch))
    val byDoc = rows(incr).map(t => t._1 -> t).toMap
    // the merged cluster (label 0) elects the dominant absorbed member
    assert(byDoc(0L) == ((0L, 0L, 10L, false)), s"got ${byDoc(0L)}")
    assert(byDoc(10L)._4, "id 10 must be the merged cluster's canonical")
    // untouched singletons carry their standing rows verbatim
    val canon0ByDoc = rows(canon0).map(t => t._1 -> t).toMap
    assert(byDoc(20L) == canon0ByDoc(20L) && byDoc(21L) == canon0ByDoc(21L))
    // only-new cluster and singleton arrival are their own canonicals
    assert(byDoc(31L) == ((31L, 30L, 31L, true)),
      "score 31 > 30 → 31 is the new pair's canonical")
    assert(byDoc(40L)._4)

    // SCORE-LESS members must stay in the canonical table (left join):
    // they lose any mixed cluster but an all-score-less cluster falls
    // back to min id — a doc whose score hasn't landed yet must never
    // silently vanish from the rewrite map
    val (labels2, touched2) = Dedup.updateComponentsDetailed(
      newLabels, Seq(50L, 51L).toDF("id"),
      Seq((50L, 51L), (50L, 30L)).toDF("src", "dst"))
    val incr2 = Dedup.updateCanonical(incr, labels2, touched2,
      scoresOf(allIds)) // no rows for 50/51
    val byDoc2 = rows(incr2).map(t => t._1 -> t).toMap
    assert(byDoc2.contains(50L) && byDoc2.contains(51L),
      "score-less arrivals vanished from the canonical table")
    assert(byDoc2(50L)._3 == 31L && byDoc2(51L)._3 == 31L,
      "scored member 31 must still win the merged cluster")
  }

  test("embeddingClusters equals a driver-side union-find over the pairs") {
    // independent oracle: union-find over the collected exact pairs
    val pairs = Dedup.embeddingDedup(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val ids = Tables.embeddings(spark, sfDir).select("vec_id").collect()
      .map(_.getLong(0))
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      parent(x) = r; r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = ids.map(i => i -> find(i)).toMap
    val got = Dedup.embeddingClusters(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
    // keep verdicts: exactly one representative per cluster, = its min
    val clusters = Dedup.embeddingClusters(spark, sfDir)
    assert(clusters.filter("keep AND vec_id != cluster_id").count() == 0)
    assert(clusters.filter("keep").count() ==
      clusters.select("cluster_id").distinct().count())
  }

  test("annBruteForce returns k ranked neighbors per probe") {
    val df = Similarity.annBruteForce(spark, sfDir).collect()
    val byProbe = df.groupBy(_.getAs[Long]("probe_id"))
    assert(byProbe.size == 5)
    byProbe.values.foreach { rows =>
      assert(rows.length == 10)
      val cosines = rows.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("cosine"))
      assert(cosines.sameElements(cosines.sorted.reverse), "ranked by cosine desc")
    }
  }

  test("pq codebook fits are bit-identical across invocations (concurrent fit)") {
    // round-13 optimization pin: the PqM per-subspace KMeans fits run
    // CONCURRENTLY from a bounded pool; each fit is seeded per
    // subspace, so two independent invocations must produce the same
    // codebooks to the bit — a regression to unseeded or shared-state
    // fitting fails here
    val corpus = Similarity.vecs(spark, sfDir).toDF("vec_id", "v", "norm")
    val a = Similarity.fitPqCodebooks(corpus)
    val b = Similarity.fitPqCodebooks(corpus)
    assert(a.length == b.length)
    for (m <- a.indices) {
      assert(a(m).length == b(m).length, s"subspace $m codebook size")
      for (c <- a(m).indices)
        assert(a(m)(c).sameElements(b(m)(c)), s"subspace $m center $c drifted")
    }
  }

  test("annIvf recall against brute force is reasonable") {
    val exact = Similarity.annBruteForce(spark, sfDir)
      .select("probe_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.annIvf(spark, sfDir)
      .select("probe_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    // measured 0.44 @ sf0.001, 0.58 @ sf0.1 (nProbe=3 of 16 cells)
    assert(recall >= 0.35, s"IVF recall $recall too low")
  }

  test("annLsh legacy 8-plane config recall against brute force is reasonable") {
    val exact = Similarity.annBruteForce(spark, sfDir)
      .select("probe_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // the 256-bucket/radius-3 sizing that scans ~36% of the space —
    // the only config with usable recall on the UNIFORM corpus, whose
    // cosine-0.3 neighbors are the documented LSH hard instance
    val approx = Similarity.annLsh(spark, sfDir, radius = 3,
        numPlanes = 8, numTables = 1)
      .select("probe_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    // measured 0.54 @ sf0.001, 0.64 @ sf0.1 (hamming<=3 multiprobe)
    assert(recall >= 0.4, s"LSH recall $recall too low")
    // approximate results are a subset of scored candidates, all ranked
    assert(approx.nonEmpty)
  }

  test("annLsh production default recalls clustered neighbors probing <1% of buckets") {
    // the registered entry's 16-plane/radius-2/4-table default is
    // sized for the near-duplicate regime (neighbor cosine ≥ ~0.85):
    // a deterministic clustered corpus pins its envelope
    val cl = SynthData.clustered(spark, 1000).cache()
    try {
      val probes = cl.filter(col("vec_id") < 5).toDF("probe_id", "p_v", "p_norm")
      val pairsOf = (df: org.apache.spark.sql.DataFrame) =>
        df.select("probe_id", "neighbor_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      val exact = pairsOf(Similarity.annBruteForceOn(cl, probes))
      assert(exact.size == 50)
      val got = pairsOf(Similarity.annLshOn(cl, probes, 2, 16, 4))
      val recall = (exact & got).size.toDouble / exact.size
      // measured 0.94-0.98 across seeds; 137·4/65536 ≈ 0.8% of the
      // bucket space probed per probe
      assert(recall >= 0.8, s"clustered recall $recall below envelope")
      // multi-table candidates are deduped: ranks within a probe unique
      val byProbe = Similarity.annLshOn(cl, probes, 2, 16, 4)
        .collect().groupBy(_.getAs[Long]("probe_id"))
      byProbe.values.foreach { rows =>
        val ranks = rows.map(_.getAs[Int]("rank"))
        assert(ranks.distinct.length == ranks.length)
        val ids = rows.map(_.getAs[Long]("neighbor_id"))
        assert(ids.distinct.length == ids.length, "duplicate neighbor across tables")
      }
    } finally cl.unpersist(): Unit
  }

  test("annSq8 recall against brute force is near-exact") {
    val exactRows = Similarity.annBruteForce(spark, sfDir).collect()
    val exact = exactRows.map(r => (r.getAs[Long]("probe_id"),
      r.getAs[Long]("neighbor_id"))).toSet
    val approx = Similarity.annSq8(spark, sfDir).collect()
    val got = approx.map(r => (r.getAs[Long]("probe_id"),
      r.getAs[Long]("neighbor_id"))).toSet
    val recall = (exact & got).size.toDouble / exact.size
    // int8 + 32-candidate exact rerank loses almost nothing
    assert(recall >= 0.9, s"SQ8 recall $recall")
    // reranked cosines are EXACT — identical to brute force for
    // every neighbor both variants returned
    val exactCos = exactRows.map(r => (r.getAs[Long]("probe_id"),
      r.getAs[Long]("neighbor_id")) -> r.getAs[Double]("cosine")).toMap
    approx.foreach { r =>
      val k = (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))
      exactCos.get(k).foreach(c => assert(c == r.getAs[Double]("cosine")))
    }
    // shape: 10 ranked rows per probe
    assert(approx.groupBy(_.getAs[Long]("probe_id")).forall(_._2.length == 10))
  }

  test("annPca: recall floor, candidate-budget monotone, exact reranked cosines") {
    val exactRows = Similarity.annBruteForce(spark, sfDir).collect()
    val exact = exactRows.map(r => (r.getAs[Long]("probe_id"),
      r.getAs[Long]("neighbor_id"))).toSet
    val pairsOf = (df: org.apache.spark.sql.DataFrame) =>
      df.select("probe_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.annPca(spark, sfDir).collect()
    val got = approx.map(r => (r.getAs[Long]("probe_id"),
      r.getAs[Long]("neighbor_id"))).toSet
    val recall = (exact & got).size.toDouble / exact.size
    // measured 0.88 at the (k=16, cands=128) default on this corpus
    assert(recall >= 0.8, s"PCA recall $recall below envelope")
    // a bigger candidate budget can only add true neighbors, and more
    // retained dimensions sharpen the candidate ordering
    val r32 = (exact & pairsOf(Similarity.annPca(spark, sfDir, cands = 32))).size
    val r128 = (exact & pairsOf(Similarity.annPca(spark, sfDir, cands = 128))).size
    assert(r128 >= r32, s"recall must be monotone in cands ($r32 -> $r128)")
    val k32 = (exact & pairsOf(Similarity.annPca(spark, sfDir, cands = 128,
      k = 32))).size
    assert(k32 >= r128, s"k=32 must not lose recall vs k=16 ($r128 -> $k32)")
    // reranked cosines are EXACT — identical to brute force for
    // every neighbor both variants returned
    val exactCos = exactRows.map(r => (r.getAs[Long]("probe_id"),
      r.getAs[Long]("neighbor_id")) -> r.getAs[Double]("cosine")).toMap
    approx.foreach { r =>
      val k = (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))
      exactCos.get(k).foreach(c => assert(c == r.getAs[Double]("cosine")))
    }
    // shape: 10 ranked rows per probe, ranks 1..10 within each
    val byProbe = approx.groupBy(_.getAs[Long]("probe_id"))
    assert(byProbe.size == 5)
    byProbe.values.foreach { rs =>
      assert(rs.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to 10))
    }
    // persistence: a saved-then-loaded index serves BIT-identical
    // results (doubles round-trip parquet exactly; one shared
    // projection definition)
    val path = java.nio.file.Files.createTempDirectory("pca_idx").toString
    Similarity.savePcaIndex(Similarity.pcaIndex(spark, sfDir), path)
    val served = Similarity.annPcaSearch(spark, sfDir,
      Similarity.loadPcaIndex(spark, path)).collect()
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("probe_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("cosine"))
    assert(served.map(key).sorted.toSeq == approx.map(key).sorted.toSeq,
      "loaded index diverged from the fused build")
  }

  test("annPca: candidate budget scales with the corpus (round 12)") {
    // the adaptive rule: a quarter of the corpus with a 128 floor —
    // the fix for the measured recall collapse of a FIXED budget
    // (0.90 at N=500 → 0.44 at N=2000 with cands=128)
    assert(Similarity.pcaCands(0L) == 128)
    assert(Similarity.pcaCands(500L) == 128)
    assert(Similarity.pcaCands(512L) == 128)
    assert(Similarity.pcaCands(2000L) == 500)
    assert(Similarity.pcaCands(2001L) == 501)
    assert(Similarity.pcaCands(20000L) == 5000)
    // the index carries the corpus size it was fit on, and the count
    // survives the save/load round-trip so a LOADED index derives the
    // same budget as the fresh fit
    val idx = Similarity.pcaIndex(spark, sfDir)
    assert(idx.n == Similarity.vecs(spark, sfDir).count())
    val path = java.nio.file.Files.createTempDirectory("pca_n").toString
    Similarity.savePcaIndex(idx, path)
    assert(Similarity.loadPcaIndex(spark, path).n == idx.n)
  }

  test("bitextMargin: ratio-margin replay, mutual-best symmetry, acceptance") {
    def r(x: Double, s: Int) = BigDecimal(x)
      .setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
    // float→double widening must be the exact binary cast the engine
    // applies (a toString round-trip would perturb the 8th decimal)
    val vecs = Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding").collect()
      .map(row => row.getLong(0) ->
        row.getSeq[Any](1).map {
          case f: java.lang.Float => f.toDouble
          case d: java.lang.Double => d.toDouble
          case o => o.toString.toDouble
        }.toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (p, q) => p * q }.sum
      r(d / (math.sqrt(a.map(x => x * x).sum)
        * math.sqrt(b.map(x => x * x).sum)), 12)
    }
    val xs = vecs.keys.filter(_ % 2 == 0).toSeq.sorted
    val ys = vecs.keys.filter(_ % 2 == 1).toSeq.sorted
    val rows = Similarity.bitextMargin(spark, sfDir).collect()
    // one row per X sentence, its best-margin candidate
    assert(rows.map(_.getAs[Long]("x_id")).toSeq.sorted == xs)
    // driver replay of the full margin math (k-NN means as exact
    // decimal sums of 12-decimal cosines) for a sample of X rows
    val fwd = xs.map(x => x -> ys.map(y => y -> cos(vecs(x), vecs(y)))
      .sortBy { case (y, c) => (-c, y) }.take(Similarity.BitextK)).toMap
    val bwd = ys.map(y => y -> xs.map(x => x -> cos(vecs(x), vecs(y)))
      .sortBy { case (x, c) => (-c, x) }.take(Similarity.BitextK)).toMap
    def dsum(cs: Seq[Double]) =
      cs.map(c => BigDecimal(c).setScale(14, BigDecimal.RoundingMode.HALF_UP))
        .sum.toDouble
    def margin(x: Long, y: Long): Double = {
      val den = (dsum(fwd(x).map(_._2)) / fwd(x).length
        + dsum(bwd(y).map(_._2)) / bwd(y).length) / 2
      r(cos(vecs(x), vecs(y)) / den, 8)
    }
    val byX = rows.map(row => row.getAs[Long]("x_id") -> row).toMap
    xs.take(25).foreach { x =>
      val expBest = fwd(x).map { case (y, _) => y -> margin(x, y) }
        .sortBy { case (y, m) => (-m, y) }.head
      val row = byX(x)
      assert(row.getAs[Long]("y_id") == expBest._1, s"x=$x best candidate")
      assert(row.getAs[Double]("margin") == expBest._2, s"x=$x margin")
      // mutual flag replays Y's own best-margin choice
      val yBest = bwd(expBest._1).map { case (x2, _) =>
        x2 -> margin(x2, expBest._1) }.sortBy { case (x2, m) => (-m, x2) }.head
      assert(row.getAs[Boolean]("mutual") == (yBest._1 == x), s"x=$x mutual")
      assert(row.getAs[Boolean]("accepted") ==
        (row.getAs[Boolean]("mutual") && row.getAs[Double]("margin") >= 1.05))
    }
    // the miner discriminates on this corpus: accepted is a proper
    // non-empty subset
    val acc = rows.count(_.getAs[Boolean]("accepted"))
    assert(acc > 0 && acc < rows.length, s"accepted=$acc of ${rows.length}")
  }

  test("bitext production path: IVF-bounded recall gated; clustered regime near-exact") {
    def accepted(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.filter(col("accepted")).select("x_id", "y_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // the gate holds at the default config on the driver corpus
    val g = Similarity.bitextGate(spark, sfDir).collect().head
    assert(g.getAs[Boolean]("recall_ok"),
      s"IVF bitext recall under floor: $g")
    assert(g.getAs[Long]("n_exact_accepted") ==
      accepted(Similarity.bitextMargin(spark, sfDir)).size)
    // PLANTED-PAIR corpus — the regime real parallel text lives in:
    // every X sentence (even id 2i) has one true translation twin
    // (odd id 2i+1 = the same clustered vector under a small
    // deterministic perturbation, cos ≈ 0.99) among same-cluster
    // distractors at cos ≈ 0.9. The ratio margin singles the twin
    // out (≈ 1.08 vs ≈ 0.97 for distractors), so the exact miner
    // accepts (essentially only) planted pairs — and the IVF-bounded
    // path, whose cells align with the clusters here, keeps them at
    // a SMALL probe budget (the uniform driver corpus above is the
    // documented hard instance that needs nProbe=8)
    val base = SynthData.clustered(spark, 400)
    val xSide = base.select((col("vec_id") * 2).as("vec_id"), col("v"))
    val ySide = base.select((col("vec_id") * 2 + 1).as("vec_id"), col("v"))
      .withColumn("v", expr(
        "transform(v, (e, j) -> e + 0.02 * sin((vec_id % 97 + 1.0) * (j + 1)))"))
    val both = xSide.unionByName(ySide)
      .withColumn("norm",
        sqrt(graft.operators.Dedup.dot(col("v"), col("v"))))
      .cache()
    val exact = accepted(Similarity.bitextMarginOn(both))
    val planted = (0L until 400L).map(i => (2 * i, 2 * i + 1)).toSet
    assert(exact.subsetOf(planted), "only planted twins may be mined")
    assert(exact.size >= 280, s"planted twins mined: ${exact.size} of 400")
    val ann = accepted(Similarity.bitextMarginIvfOn(
      Similarity.fitIvf(both.select("vec_id", "v", "norm")), nProbe = 2))
    val recall = (exact & ann).size.toDouble / exact.size
    assert(recall >= 0.9, s"planted-pair IVF recall $recall")
    both.unpersist(): Unit
  }

  test("annGraphAuto routes flat NSW below NswServeCap, HNSW above") {
    // small corpus (N=500 ≤ 4096): the routed surface IS flat NSW
    val small = Similarity.annGraphAuto(spark, sfDir)
      .collect().map(_.toString).sorted.toSeq
    val nsw = Similarity.annGraph(spark, sfDir)
      .collect().map(_.toString).sorted.toSeq
    assert(small == nsw, "small-corpus serve must be the flat NSW result")
    // above the cap: the routed surface IS the HNSW hierarchy — flat
    // NSW's single layer loses navigability with graph diameter
    // (measured 0.26 recall at N=20k vs HNSW's 1.00), so no corpus
    // past the cap is ever served from it
    val big = SynthData.clustered(spark, Similarity.NswServeCap.toInt + 256)
    val dir = java.nio.file.Files.createTempDirectory("nsw_route").toString
    big.select(col("vec_id"), col("v").as("embedding"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val routed = Similarity.annGraphAuto(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    val hnsw = Similarity.annHnsw(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    assert(routed == hnsw, "past-cap serve must be the HNSW result")
  }

  test("tfidf emits up to 3 ranked keywords per doc, scores sane") {
    val rows = TextOps.tfidf(spark, sfDir).collect()
    val byDoc = rows.groupBy(_.getAs[Long]("doc_id"))
    // every document has words in this corpus → every doc is keyed
    assert(byDoc.size == Tables.documents(spark, sfDir).count())
    byDoc.values.foreach { rs =>
      val sorted = rs.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq == (1 to rs.length))
      val scores = sorted.map(_.getAs[Double]("tfidf"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
        "scores non-increasing in rank")
      assert(rs.length <= 3)
      assert(scores.forall(_ >= 0.0), "idf = ln(N/df) >= 0")
    }
    // keywords discriminate: not every doc picks the same top word
    assert(rows.filter(_.getAs[Int]("rank") == 1)
      .map(_.getAs[String]("word")).distinct.length > 1)
  }

  test("perplexity scores every multi-word doc under the corpus LM") {
    val rows = TextOps.perplexity(spark, sfDir).collect()
    assert(rows.length == Tables.documents(spark, sfDir).count(),
      "synthetic corpus has no sub-2-word docs — all must score")
    rows.foreach { r =>
      val ce = r.getAs[Double]("cross_entropy")
      val ppl = r.getAs[Double]("perplexity")
      assert(ce > 0.0 && ppl > 1.0, "smoothed probs are < 1")
      assert(math.abs(math.exp(ce) - ppl) < 1e-3, "ppl == exp(ce)")
      assert(r.getAs[Long]("n_bigrams") > 0)
    }
  }

  test("qualityPrune keeps exactly each source's top half by score") {
    val rows = TextOps.qualityPrune(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[String]("source")).foreach { case (s, rs) =>
      val n = rs.length
      assert(rs.forall(_.getAs[Long]("n_source") == n))
      val kept = rs.filter(_.getAs[Boolean]("keep_doc"))
      assert(kept.length == (n + 1) / 2, s"source $s kept ${kept.length}/$n")
      val minKept = kept.map(_.getAs[Double]("quality_score")).min
      rs.filterNot(_.getAs[Boolean]("keep_doc")).foreach { r =>
        assert(r.getAs[Double]("quality_score") <= minKept,
          s"dropped doc outscores a kept one in $s")
      }
    }
  }

  test("annPq recall with exact rerank against brute force") {
    val exactRows = Similarity.annBruteForce(spark, sfDir).collect()
    val exact = exactRows.map(r => (r.getAs[Long]("probe_id"),
      r.getAs[Long]("neighbor_id"))).toSet
    val approx = Similarity.annPq(spark, sfDir).collect()
    val got = approx.map(r => (r.getAs[Long]("probe_id"),
      r.getAs[Long]("neighbor_id"))).toSet
    val recall = (exact & got).size.toDouble / exact.size
    // RecallProbe measured @ sf0.001: rerank 10/16/32/64/128 →
    // 0.32/0.44/0.60/0.74/0.92 — the 4-byte code is coarse, the
    // rerank knob buys it back
    assert(recall >= 0.5, s"PQ recall $recall")
    // reranked cosines are EXACT — identical to brute force for
    // every neighbor both variants returned
    val exactCos = exactRows.map(r => (r.getAs[Long]("probe_id"),
      r.getAs[Long]("neighbor_id")) -> r.getAs[Double]("cosine")).toMap
    approx.foreach { r =>
      val k = (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))
      exactCos.get(k).foreach(c => assert(c == r.getAs[Double]("cosine")))
    }
    assert(approx.groupBy(_.getAs[Long]("probe_id")).forall(_._2.length == 10))
  }

  test("sampled PQ codebook fit keeps recall; full-corpus cap is bit-identical") {
    import graft.operators.Similarity.PqIndex
    val corpus = Similarity.vecs(spark, sfDir).toDF("vec_id", "v", "norm")
    // cap ≥ corpus → every=1 → the sample IS the corpus: books equal
    val full = Similarity.fitPqCodebooks(corpus)
    val capped = Similarity.fitPqCodebooks(corpus, sampleCap = 1000000L)
    assert(full.flatten.flatten.toSeq == capped.flatten.flatten.toSeq)
    // cap ≪ corpus → fit on the ~1/4 hash sample; the encode + ADC +
    // exact-rerank pipeline holds its recall (rerank buys back the
    // coarser codebooks — measured 0.56 @ sf0.001 vs 0.60 full-fit)
    val sampled = Similarity.fitPqCodebooks(corpus, sampleCap = 128L)
    val idx = PqIndex(Similarity.encodePq(corpus, sampled), sampled)
    val approx = Similarity.annPqSearch(idx, corpus, rerank = 32).collect()
    val exact = Similarity.annBruteForce(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))).toSet
    val got = approx.map(r => (r.getAs[Long]("probe_id"),
      r.getAs[Long]("neighbor_id"))).toSet
    assert(approx.groupBy(_.getAs[Long]("probe_id")).forall(_._2.length == 10))
    val recall = (exact & got).size.toDouble / exact.size
    assert(recall >= 0.4, s"sampled-fit PQ recall $recall")
  }

  test("annOpq: orthogonal rotation, recall floor, exact reranked cosines") {
    val corpus = Similarity.vecs(spark, sfDir).toDF("vec_id", "v", "norm")
    val rot = Similarity.fitOpqRotation(corpus)
    // R orthogonal: R·Rᵀ == I (so ⟨Rp,Rv⟩ = ⟨p,v⟩ and |Rv| = |v|)
    val dim = rot.length
    for (i <- 0 until dim; j <- i until dim) {
      val d = rot(i).zip(rot(j)).map { case (a, b) => a * b }.sum
      assert(math.abs(d - (if (i == j) 1.0 else 0.0)) < 1e-9,
        s"R·Rᵀ[$i][$j] = $d")
    }
    val exactRows = Similarity.annBruteForce(spark, sfDir).collect()
    val exact = exactRows.map(r => (r.getAs[Long]("probe_id"),
      r.getAs[Long]("neighbor_id"))).toSet
    val approx = Similarity.annOpq(spark, sfDir).collect()
    val got = approx.map(r => (r.getAs[Long]("probe_id"),
      r.getAs[Long]("neighbor_id"))).toSet
    val recall = (exact & got).size.toDouble / exact.size
    assert(recall >= 0.5, s"OPQ recall $recall")
    // reranked cosines are exact ORIGINAL-space cosines
    val exactCos = exactRows.map(r => (r.getAs[Long]("probe_id"),
      r.getAs[Long]("neighbor_id")) -> r.getAs[Double]("cosine")).toMap
    approx.foreach { r =>
      val k = (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))
      exactCos.get(k).foreach(c => assert(c == r.getAs[Double]("cosine")))
    }
    assert(approx.groupBy(_.getAs[Long]("probe_id")).forall(_._2.length == 10))
  }

  test("annOpqNp: Procrustes alternation keeps orthogonality and recall") {
    val corpus = Similarity.vecs(spark, sfDir).toDF("vec_id", "v", "norm")
    val (rot, books) = Similarity.fitOpqNp(corpus)
    assert(books != null && books.length == 8)
    val dim = rot.length
    for (i <- 0 until dim; j <- i until dim) {
      val d = rot(i).zip(rot(j)).map { case (a, b) => a * b }.sum
      assert(math.abs(d - (if (i == j) 1.0 else 0.0)) < 1e-9,
        s"NP rotation not orthogonal at [$i][$j]: $d")
    }
    val exactRows = Similarity.annBruteForce(spark, sfDir).collect()
    val exact = exactRows.map(r => (r.getAs[Long]("probe_id"),
      r.getAs[Long]("neighbor_id"))).toSet
    // reuse the SAME alternation for the search index (the fit is
    // deterministic but 3x8 KMeans fits are the suite's slowest work)
    val idx = Similarity.opqIndexFromFit(corpus, rot, books)
    val approx = Similarity.annOpqSearch(idx, corpus, 32).collect()
    val got = approx.map(r => (r.getAs[Long]("probe_id"),
      r.getAs[Long]("neighbor_id"))).toSet
    val recall = (exact & got).size.toDouble / exact.size
    assert(recall >= 0.5, s"OPQ-NP recall $recall")
    // reranked cosines remain exact original-space cosines
    val exactCos = exactRows.map(r => (r.getAs[Long]("probe_id"),
      r.getAs[Long]("neighbor_id")) -> r.getAs[Double]("cosine")).toMap
    approx.foreach { r =>
      val k = (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))
      exactCos.get(k).foreach(c => assert(c == r.getAs[Double]("cosine")))
    }
    assert(approx.groupBy(_.getAs[Long]("probe_id")).forall(_._2.length == 10))
  }

  test("OPQ index save/load: loaded search equals a fresh build") {
    val corpus = Similarity.vecs(spark, sfDir).toDF("vec_id", "v", "norm")
    val idx = Similarity.opqIndex(spark, sfDir)
    val path = java.nio.file.Files.createTempDirectory("graft_opq").toString
    Similarity.saveOpqIndex(idx, path)
    val loaded = Similarity.loadOpqIndex(spark, path)
    val fresh = Similarity.annOpqSearch(idx, corpus, 32).collect().toSeq
    val reread = Similarity.annOpqSearch(loaded, corpus, 32).collect().toSeq
    assert(fresh == reread)
  }

  test("annGraph: NSW beam search recall, exact cosines, full result shape") {
    val exactRows = Similarity.annBruteForce(spark, sfDir).collect()
    val exact = exactRows.map(r => (r.getAs[Long]("probe_id"),
      r.getAs[Long]("neighbor_id"))).toSet
    val approx = Similarity.annGraph(spark, sfDir).collect()
    val got = approx.map(r => (r.getAs[Long]("probe_id"),
      r.getAs[Long]("neighbor_id"))).toSet
    val recall = (exact & got).size.toDouble / exact.size
    // RecallProbe @ sf0.01: efSearch 4/8/16/32/64 →
    // 0.46/0.66/0.90/1.00/1.00 with maxDeg=8 over 4 shards
    assert(recall >= 0.7, s"graph recall $recall")
    // the graph only picks WHICH vectors get scored — scored cosines
    // are the exact kernel, identical to brute force
    val exactCos = exactRows.map(r => (r.getAs[Long]("probe_id"),
      r.getAs[Long]("neighbor_id")) -> r.getAs[Double]("cosine")).toMap
    approx.foreach { r =>
      val k = (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))
      exactCos.get(k).foreach(c => assert(c == r.getAs[Double]("cosine")))
    }
    assert(approx.groupBy(_.getAs[Long]("probe_id")).forall(_._2.length == 10))
    // deterministic: a second build+search returns the same rows
    val again = Similarity.annGraph(spark, sfDir).collect()
    assert(approx.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("graph index: build-once search equals fused; save/load round-trips") {
    val corpus = Similarity.vecs(spark, sfDir).toDF("vec_id", "v", "norm")
    val fused = Similarity.annGraph(spark, sfDir).collect().map(_.toString).toSeq
    val idx = Similarity.hnswIndex(spark, sfDir, layered = false)
    val viaIdx = Similarity.annHnswSearch(idx, corpus)
      .collect().map(_.toString).toSeq
    assert(fused == viaIdx, "index-path search diverged from the fused build")
    val path = java.nio.file.Files.createTempDirectory("graft_nsw").toString
    Similarity.saveHnswIndex(idx, path)
    // a single-layer index saves in the flat graph's layout — the
    // columns and encoder types of a (shard, vec_id, v, norm, nbrs)
    // node row, manifest family ann_nsw — so earlier flat saves load
    import spark.implicits._
    val flatPath = java.nio.file.Files.createTempDirectory("graft_nsw_layout").toString
    Seq.empty[(Int, Long, Seq[Double], Double, Seq[Long])]
      .toDF("shard", "vec_id", "v", "norm", "nbrs")
      .write.mode("overwrite").parquet(flatPath)
    assert(spark.read.parquet(path).schema == spark.read.parquet(flatPath).schema)
    assert(IndexManifest.validate(spark, path, "ann_nsw", Seq(".")).isDefined)
    val reloaded = Similarity.loadHnswIndex(spark, path)
    assert(!reloaded.layered && reloaded.numShards == idx.numShards)
    val loaded = Similarity.annHnswSearch(reloaded, corpus)
      .collect().map(_.toString).toSeq
    assert(viaIdx == loaded)
  }

  test("single-layer updateHnswIndex appends in place and new vectors become findable") {
    val corpus = Similarity.vecs(spark, sfDir).toDF("vec_id", "v", "norm")
    val idx = Similarity.hnswIndex(spark, sfDir, layered = false)
    // ingest batch: verbatim copies of the 5 probe vectors, fresh ids
    val batch = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 5)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        col("embedding").cast("array<double>").as("v"))
    val updated = Similarity.updateHnswIndex(idx, batch)
    // row accounting: all old nodes plus each new node exactly once
    assert(updated.nodes.count() == idx.nodes.count() + 5)
    assert(updated.nodes.select("vec_id").distinct().count()
      == updated.nodes.count())
    // the append keeps the policy: every node stays on level 0
    assert(!updated.layered &&
      updated.nodes.filter(size(col("lnbrs")) =!= 1).isEmpty)
    // each probe's planted twin surfaces as its rank-1 neighbor
    val res = Similarity.annHnswSearch(updated, corpus).collect()
    val byProbe = res.groupBy(_.getAs[Long]("probe_id"))
    (0L until 5L).foreach { p =>
      val top = byProbe(p).minBy(_.getAs[Int]("rank"))
      assert(top.getAs[Long]("neighbor_id") == p + 1000000L,
        s"probe $p: expected its twin first, got $top")
      assert(math.abs(top.getAs[Double]("cosine") - 1.0) < 1e-6)
    }
    // deterministic append
    val again = Similarity.updateHnswIndex(idx, batch)
    assert(updated.nodes.collect().map(_.toString).sorted.toSeq
      == again.nodes.collect().map(_.toString).sorted.toSeq)
  }

  test("annHnsw: layered descent recall, exact cosines, determinism") {
    val exactRows = Similarity.annBruteForce(spark, sfDir).collect()
    val exact = exactRows.map(r => (r.getAs[Long]("probe_id"),
      r.getAs[Long]("neighbor_id"))).toSet
    val approx = Similarity.annHnsw(spark, sfDir).collect()
    val got = approx.map(r => (r.getAs[Long]("probe_id"),
      r.getAs[Long]("neighbor_id"))).toSet
    val recall = (exact & got).size.toDouble / exact.size
    assert(recall >= 0.7, s"hnsw recall $recall")
    // the hierarchy only changes WHERE the layer-0 beam enters — the
    // scored cosines are still the exact kernel
    val exactCos = exactRows.map(r => (r.getAs[Long]("probe_id"),
      r.getAs[Long]("neighbor_id")) -> r.getAs[Double]("cosine")).toMap
    approx.foreach { r =>
      val k = (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))
      exactCos.get(k).foreach(c => assert(c == r.getAs[Double]("cosine")))
    }
    assert(approx.groupBy(_.getAs[Long]("probe_id")).forall(_._2.length == 10))
    // levels hash off vec_ids, not an RNG: build+search is a pure
    // function of the corpus
    val again = Similarity.annHnsw(spark, sfDir).collect()
    assert(approx.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("hnsw index: real hierarchy, fused == index path, save/load, append") {
    val corpus = Similarity.vecs(spark, sfDir).toDF("vec_id", "v", "norm")
    val idx = Similarity.hnswIndex(spark, sfDir)
    // the hierarchy is real: levels are geometric(1/maxDeg), so a
    // ~1000-vector corpus must place SOME nodes above layer 0 and
    // most below; lnbrs length encodes the level
    val levels = idx.nodes.select(size(col("lnbrs")).cast("long"))
      .collect().map(_.getLong(0) - 1)
    assert(levels.max >= 1, "no node above layer 0 — hierarchy degenerate")
    val upperFrac = levels.count(_ >= 1).toDouble / levels.length
    assert(upperFrac > 0.02 && upperFrac < 0.35,
      s"layer-1 occupancy $upperFrac outside the geometric envelope")
    val fused = Similarity.annHnsw(spark, sfDir).collect().map(_.toString).toSeq
    val viaIdx = Similarity.annHnswSearch(idx, corpus)
      .collect().map(_.toString).toSeq
    assert(fused == viaIdx, "index-path search diverged from the fused build")
    val path = java.nio.file.Files.createTempDirectory("graft_hnsw").toString
    Similarity.saveHnswIndex(idx, path)
    val loaded = Similarity.annHnswSearch(
      Similarity.loadHnswIndex(spark, path), corpus)
      .collect().map(_.toString).toSeq
    assert(viaIdx == loaded)
    // append: planted twins of the probes become rank-1 neighbors
    val batch = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 5)
      .select((col("vec_id") + 2000000L).as("vec_id"),
        col("embedding").cast("array<double>").as("v"))
    val updated = Similarity.updateHnswIndex(idx, batch)
    assert(updated.nodes.count() == idx.nodes.count() + 5)
    val res = Similarity.annHnswSearch(updated, corpus).collect()
    val byProbe = res.groupBy(_.getAs[Long]("probe_id"))
    (0L until 5L).foreach { p =>
      val top = byProbe(p).minBy(_.getAs[Int]("rank"))
      assert(top.getAs[Long]("neighbor_id") == p + 2000000L,
        s"probe $p: expected its twin first, got $top")
      assert(math.abs(top.getAs[Double]("cosine") - 1.0) < 1e-6)
    }
  }

  // segments, merged serve and compaction are one implementation under
  // both build policies, and the tier keeps main's policy throughout
  private def segmentedTierChecks(layered: Boolean): Unit = {
    val corpus = Similarity.vecs(spark, sfDir).toDF("vec_id", "v", "norm")
    val clue = if (layered) "layered" else "single-layer"
    val mainIdx = Similarity.hnswIndex(spark, sfDir, layered = layered)
    def twins(lo: Long, hi: Long) = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") >= lo && col("vec_id") < hi)
      .select((col("vec_id") + 2000000L).as("vec_id"),
        col("embedding").cast("array<double>").as("v"))
    var seg = Similarity.HnswSegmented(mainIdx, Nil)
    seg = Similarity.hnswAppendSegment(seg, twins(0, 3))
    seg = Similarity.hnswAppendSegment(seg, twins(3, 5))
    // the append economics: main's node frame is the SAME object —
    // nothing about the standing index was recomputed or rewritten
    assert((seg.main.nodes eq mainIdx.nodes) && seg.segments.length == 2,
      s"$clue: segment append must not touch main")
    assert(seg.segments.forall(_.layered == layered), clue)
    // merged serve: each twin lives ONLY in a segment, so finding it
    // rank-1 proves the segment legs participate in the global top-k
    val probes = corpus.filter(col("vec_id") < 5)
      .toDF("probe_id", "p_v", "p_norm")
    val res = Similarity.annHnswSearchSegmented(seg, probes,
      excludeSelf = true).collect()
    val byProbe = res.groupBy(_.getAs[Long]("probe_id"))
    (0L until 5L).foreach { p =>
      val top = byProbe(p).minBy(_.getAs[Int]("rank"))
      assert(top.getAs[Long]("neighbor_id") == p + 2000000L,
        s"$clue probe $p: expected its segment twin first, got $top")
      assert(math.abs(top.getAs[Double]("cosine") - 1.0) < 1e-6)
    }
    // the union re-ranks to ONE top-k: full rank runs, descending
    byProbe.values.foreach { rows =>
      val sorted = rows.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq == (1 to rows.length),
        s"$clue: ranks must be a contiguous 1..k run after the merge")
      val cosines = sorted.map(_.getAs[Double]("cosine")).toSeq
      assert(cosines == cosines.sorted.reverse, s"$clue: merge must rank by cosine")
    }
    // compaction = ONE rewrite, bit-identical to having appended the
    // concatenated batches directly (id-ordered insertion makes
    // segment order irrelevant)
    val compacted = Similarity.compactHnswSegments(seg)
    assert(compacted.segments.isEmpty)
    val direct = Similarity.updateHnswIndex(mainIdx, twins(0, 5))
    assert(compacted.main.nodes.collect().map(_.toString).sorted.toSeq
      == direct.nodes.collect().map(_.toString).sorted.toSeq,
      s"$clue: compacted index diverged from a direct append")
    // and the compacted index still serves the twins rank-1
    val resC = Similarity.annHnswSearchProbes(compacted.main, probes,
      excludeSelf = true).collect().groupBy(_.getAs[Long]("probe_id"))
    (0L until 5L).foreach { p =>
      val top = resC(p).minBy(_.getAs[Int]("rank"))
      assert(top.getAs[Long]("neighbor_id") == p + 2000000L,
        s"$clue: post-compaction probe $p lost its twin: $top")
    }
  }

  test("segmented hnsw: appends leave main untouched, merged serve, one-rewrite compaction") {
    segmentedTierChecks(layered = true)
  }

  test("segmented flat-NSW mirrors the HNSW segment tier") {
    segmentedTierChecks(layered = false)
  }

  test("bloom_might_contain: parity with sketch probes, null-safe both sides, codegen'd") {
    import spark.implicits._
    // build side tolerates null fingerprints (null-text docs) — they
    // are excluded, matching the probe's null → false
    val standing = Seq(Some("alpha"), Some("βeta"), Some("gamma"), None)
      .toDF("fingerprint")
    val bloom = Dedup.fingerprintBloom(standing)
    val probed = Seq(Some("alpha"), Some("βeta"), Some("delta"), None)
      .toDF("fingerprint")
      .withColumn("hit", Dedup.bloomHit(spark, bloom)(col("fingerprint")))
    val hits = probed.collect()
      .map(r => Option(r.getString(0)) -> r.getBoolean(1)).toMap
    assert(hits(Some("alpha")) && hits(Some("βeta")), "members must flag")
    assert(!hits(None), "null fingerprint must probe false, never null")
    // bit-parity with the sketch's own String probe (UTF-8 path incl.
    // multi-byte), for every non-null value
    hits.foreach { case (fp, hit) =>
      assert(hit == fp.exists(bloom.mightContainString), s"parity on $fp")
    }
    // the probe is a native expression: on the parquet-backed gate
    // (local relations above constant-fold through the eval path) the
    // executed plan keeps it inside WholeStageCodegen, no ScalaUDF
    val gate = Dedup.bloomGate(spark, sfDir)
    gate.collect() // materialize so AQE settles on the final plan
    val plan = gate.queryExecution.executedPlan.toString
    // assert on the expression tree, not a plan-string substring: an
    // unlucky alias containing "UDF" must not fail this test
    val hasScalaUdf = gate.queryExecution.executedPlan
      .flatMap(_.expressions).exists(_.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.ScalaUDF]))
    assert(!hasScalaUdf, s"probe left codegen (ScalaUDF in plan):\n$plan")
    val codegenSpan = plan.linesIterator
      .exists(l => l.contains("*") && l.contains("bloom_might_contain"))
    assert(codegenSpan, s"probe outside WholeStageCodegen:\n$plan")
    // a collated string column probes by bytes like the default one
    val collated = probed
      .withColumn("cfp", expr("collate(fingerprint, 'UTF8_LCASE')"))
      .withColumn("chit", Dedup.bloomHit(spark, bloom)(col("cfp")))
      .collect().map(r => Option(r.getAs[String]("cfp")) -> r.getAs[Boolean]("chit"))
    collated.foreach { case (fp, hit) =>
      assert(hit == fp.exists(bloom.mightContainString), s"collated parity on $fp")
    }
    // caller-owned broadcast: one handle serves many gates, and the
    // caller can destroy it when the standing sketch is replaced
    val bc = spark.sparkContext.broadcast(bloom)
    val viaHandle = graft.functions.BloomMightContain.fromBroadcast(bc)
    val h1 = probed.withColumn("h", viaHandle(col("fingerprint")))
      .select("h").collect().map(_.getBoolean(0)).toSeq
    val h2 = probed.withColumn("h", viaHandle(col("fingerprint")))
      .select("h").collect().map(_.getBoolean(0)).toSeq
    assert(h1 == h2 && h1 == probed.select("hit").collect().map(_.getBoolean(0)).toSeq)
    bc.destroy()
  }

  test("nearDupGate: no false negatives vs the LSH candidate rule, codegen'd") {
    import spark.implicits._
    val gate = Dedup.nearDupGate(spark, sfDir)
    gate.collect(): Unit
    val flags = gate.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("candidate_near_dup"))
      .toMap
    // the standing overlap (350-399) shares every band with itself —
    // all must flag
    flags.filter(_._1 < 400).foreach { case (id, f) =>
      assert(f, s"standing-overlap doc $id not flagged")
    }
    // NO false negatives vs the batch LSH rule: any batch doc sharing
    // a band bucket with ANY standing doc must flag — recompute the
    // band-collision set directly from signatures
    val sigs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), Dedup.sigCol(col("text")).as("sig"))
    def banded(df: org.apache.spark.sql.DataFrame) = df.select(col("doc_id"),
      posexplode(array((0 until 16).map { j =>
        xxhash64(element_at(col("sig"), 2 * j + 1),
          element_at(col("sig"), 2 * j + 2), lit(j))
      }: _*)).as(Seq("band", "bucket")))
    val mustFlag = banded(sigs.filter(col("doc_id") >= 350))
      .join(banded(sigs.filter(col("doc_id") < 400))
        .toDF("s_doc_id", "band", "bucket"), Seq("band", "bucket"))
      .select("doc_id").distinct().as[Long].collect().toSet
    mustFlag.foreach(id => assert(flags(id), s"band-sharing doc $id missed"))
    // fresh docs WITHOUT a standing band partner flag only at the
    // compound Bloom fpp — a handful at most, never wholesale
    val fresh = flags.keySet.filter(_ >= 400) -- mustFlag
    val falsePos = fresh.count(flags)
    assert(falsePos.toDouble / math.max(fresh.size, 1) <= 0.15,
      s"$falsePos/${fresh.size} clean docs flagged")
    // the 16-probe OR stays native and inside whole-stage codegen
    val plan = gate.queryExecution.executedPlan
    assert(!plan.flatMap(_.expressions).exists(_.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.ScalaUDF])))
    assert(plan.toString.linesIterator.exists(l =>
      l.contains("*") && l.contains("bloom_might_contain")))
    // the per-band SHARDED layout honors the same contract: every
    // band-collision doc flags there too (fp sets may differ — the
    // hash layouts are independent — but the no-false-negative
    // guarantee is per band and survives the sharding)
    val shardedHit = Dedup.bandKeyHitSharded(spark,
      Dedup.bandBloomsSharded(sigs.filter(col("doc_id") < 400)))
    val shardedFlags = sigs.filter(col("doc_id") >= 350)
      .withColumn("f", shardedHit(col("sig")))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("f"))
      .toMap
    (mustFlag ++ flags.keySet.filter(_ < 400)).foreach(id =>
      assert(shardedFlags(id), s"sharded gate missed band-sharing doc $id"))
  }

  test("rolling band gate: retained epochs always flag, evicted epochs forget") {
    import spark.implicits._
    val sigs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), Dedup.sigCol(col("text")).as("sig"))
      .filter(col("sig").isNotNull)
    def slice(lo: Long, hi: Long) =
      sigs.filter(col("doc_id") >= lo && col("doc_id") < hi)
    def flags(g: Dedup.RollingBandGate): Map[Long, Boolean] = {
      val hit = Dedup.bandKeyHitSharded(spark, g.serving)
      sigs.withColumn("f", hit(col("sig"))).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("f")).toMap
    }
    var gate = Dedup.emptyRollingGate(windowEpochs = 2, capacity = 400L)
    // the empty gate flags nothing
    assert(flags(gate).count(_._2) == 0, "empty gate must not flag")
    gate = Dedup.rollingGateAppend(gate, slice(0, 150), 1L)
    gate = Dedup.rollingGateAppend(gate, slice(150, 300), 2L)
    val f2 = flags(gate)
    f2.keys.filter(_ < 300L).foreach(id =>
      assert(f2(id), s"in-window doc $id missed — no false negatives"))
    // epoch 3 rotates epoch 1 out (window 2): eviction is a drop, the
    // standing corpus is never rescanned
    gate = Dedup.rollingGateAppend(gate, slice(300, 400), 3L)
    assert(gate.epochs.map(_._1) == Vector(2L, 3L))
    val f3 = flags(gate)
    f3.keys.filter(id => id >= 150L && id < 400L).foreach(id =>
      assert(f3(id), s"retained-epoch doc $id missed after rotation"))
    // evicted docs may still flag if they GENUINELY share a band with
    // a retained doc (real near-dups) or at the compound fpp — but a
    // leak of epoch 1's bits into the serving union (a clone bug)
    // would keep them ALL flagging
    def banded(df: org.apache.spark.sql.DataFrame) = df.select(col("doc_id"),
      posexplode(array((0 until 16).map { j =>
        xxhash64(element_at(col("sig"), 2 * j + 1),
          element_at(col("sig"), 2 * j + 2), lit(j))
      }: _*)).as(Seq("band", "bucket")))
    val legit = banded(slice(0, 150))
      .join(banded(slice(150, 400)).toDF("s_doc_id", "band", "bucket"),
        Seq("band", "bucket"))
      .select("doc_id").distinct().as[Long].collect().toSet
    val evictedClean = f3.keys.filter(_ < 150L).filterNot(legit).toSeq
    val leaked = evictedClean.count(f3)
    assert(leaked.toDouble / math.max(evictedClean.size, 1) <= 0.15,
      s"$leaked/${evictedClean.size} evicted docs still flag — epoch bits leaked")
  }

  test("gateResolve: the pruned exact join equals direct membership") {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        graft.operators.TextOps.fingerprintCol(col("text")).as("fingerprint"))
    val standing = docs.filter(col("doc_id") < 400)
    val batch = docs.filter(col("doc_id") >= 350)
    val res = Dedup.gateResolve(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("confirmed_dup"))
      .toMap
    // ground truth: direct exact membership with NO bloom at all
    val direct = batch.filter(col("fingerprint").isNotNull)
      .join(standing.select("fingerprint")
        .filter(col("fingerprint").isNotNull).distinct(),
        Seq("fingerprint"), "left_semi")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(res.keySet == batch.select("doc_id").collect()
      .map(_.getLong(0)).toSet, "every batch doc must get a verdict")
    res.foreach { case (id, confirmed) =>
      assert(confirmed == direct(id),
        s"doc $id: pruned verdict $confirmed != direct ${direct(id)}")
    }
    // the overlap slice is its own standing twin — all confirmed; and
    // the pruning is real: the exact tier only ever saw flagged docs,
    // so a bloom false positive shows up as candidate && !confirmed,
    // never as a wrong verdict
    (350L until 400L).filter(res.contains).foreach(id =>
      assert(res(id), s"standing-overlap doc $id not confirmed"))
  }

  test("rolling exact gate: retained fingerprints flag, evicted decay to fpp") {
    val fps = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        graft.operators.TextOps.fingerprintCol(col("text")).as("fingerprint"))
      .filter(col("fingerprint").isNotNull)
    def slice(lo: Long, hi: Long) =
      fps.filter(col("doc_id") >= lo && col("doc_id") < hi)
    def flags(g: Dedup.RollingExactGate): Map[Long, Boolean] = {
      val hit = Dedup.bloomHit(spark, g.serving)
      fps.withColumn("f", hit(col("fingerprint"))).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("f")).toMap
    }
    var gate = Dedup.emptyRollingExactGate(windowEpochs = 2, capacity = 400L)
    assert(flags(gate).count(_._2) == 0, "empty gate must not flag")
    gate = Dedup.rollingExactGateAppend(gate, slice(0, 150), 1L)
    gate = Dedup.rollingExactGateAppend(gate, slice(150, 300), 2L)
    val f2 = flags(gate)
    f2.keys.filter(_ < 300L).foreach(id =>
      assert(f2(id), s"in-window fingerprint $id missed"))
    gate = Dedup.rollingExactGateAppend(gate, slice(300, 400), 3L)
    assert(gate.epochs.map(_._1) == Vector(2L, 3L))
    val f3 = flags(gate)
    f3.keys.filter(id => id >= 150L && id < 400L).foreach(id =>
      assert(f3(id), s"retained-epoch fingerprint $id missed after rotation"))
    // exact fingerprints of the evicted slice can only still flag via
    // a GENUINE duplicate text in a retained slice or the plain fpp —
    // wholesale flagging means epoch bits leaked through the rotation
    val dupOfRetained = fps.toDF("a_id", "fingerprint")
      .filter(col("a_id") < 150)
      .join(slice(150, 400).select("fingerprint"), Seq("fingerprint"))
      .select("a_id").collect().map(_.getLong(0)).toSet
    val evictedClean = f3.keys.filter(_ < 150L).filterNot(dupOfRetained).toSeq
    val leaked = evictedClean.count(f3)
    assert(leaked.toDouble / math.max(evictedClean.size, 1) <= 0.1,
      s"$leaked/${evictedClean.size} evicted fingerprints still flag")
  }

  test("bloomGate: every true duplicate flags; fresh docs mostly pass") {
    val rows = Dedup.bloomGate(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("candidate_dup"))
    val (overlap, fresh) = rows.partition(_._1 < 400)
    assert(overlap.nonEmpty && fresh.nonEmpty)
    // Bloom filters have NO false negatives: the overlap slice shares
    // its fingerprints with the standing side and must all flag
    overlap.foreach { case (id, dup) => assert(dup, s"true dup $id missed") }
    // fresh docs flag only at ~the configured fpp (1%; allow slack)
    val fpRate = fresh.count(_._2).toDouble / fresh.length
    assert(fpRate <= 0.05, s"false-positive rate $fpRate")
    // deterministic (the filter's bit array is an order-independent OR)
    val again = Dedup.bloomGate(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("candidate_dup"))
    assert(rows.toSeq == again.toSeq)
  }

  test("dedupCanonical keeps the largest doc per cluster, maps every doc") {
    val canon = Dedup.dedupCanonical(spark, sfDir).collect()
    val clusters = Dedup.embeddingClusters(spark, sfDir).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cluster_id")).toMap
    val nchars = Tables.documents(spark, sfDir).select("doc_id", "n_chars")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(canon.length == clusters.size, "every doc maps")
    canon.groupBy(_.getAs[Long]("cluster_id")).foreach { case (cid, rows) =>
      val canons = rows.map(_.getAs[Long]("canonical_id")).distinct
      assert(canons.length == 1, s"cluster $cid has ${canons.length} canonicals")
      // the canonical is IN its cluster and wins on (n_chars desc, id asc)
      assert(clusters(canons.head) == cid)
      val best = rows.map(_.getAs[Long]("doc_id"))
        .maxBy(id => (nchars(id), -id))
      assert(canons.head == best, s"cluster $cid: ${canons.head} != $best")
      assert(rows.count(_.getAs[Boolean]("is_canonical")) == 1)
    }
  }

  test("sourceOverlap equals explicit within-cluster pair enumeration") {
    // the count-based pair arithmetic (n*(n-1)/2 diagonal, na*nb
    // off-diagonal over per-(cluster, source) counts) must equal the
    // naive answer: materialize every within-cluster doc pair, label
    // both ends with their source, count per unordered source pair
    val clusters = Dedup.embeddingClusters(spark, sfDir).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cluster_id")).toMap
    val srcOf = Tables.documents(spark, sfDir).select("doc_id", "source")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val byCluster = clusters.toSeq.groupBy(_._2).values
    val naive = scala.collection.mutable.Map
      .empty[(String, String), (Long, Set[Long])]
    byCluster.foreach { members =>
      val ids = members.map(_._1).toSeq.sorted
      for (i <- ids.indices; j <- (i + 1) until ids.length) {
        val (sa, sb) = (srcOf(ids(i)), srcOf(ids(j)))
        val key = if (sa <= sb) (sa, sb) else (sb, sa)
        val (n, cl) = naive.getOrElse(key, (0L, Set.empty[Long]))
        naive(key) = (n + 1, cl + clusters(ids(i)))
      }
    }
    val got = Dedup.sourceOverlap(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(got.keySet == naive.keySet, "source-pair sets differ")
    naive.foreach { case (key, (nPairs, cls)) =>
      assert(got(key) == ((nPairs, cls.size.toLong)),
        s"$key: got ${got(key)}, naive ($nPairs, ${cls.size})")
    }
  }

  test("semanticDecontaminate scores every training vector vs the eval set") {
    val rows = Dedup.semanticDecontaminate(spark, sfDir).collect()
    val nTrain = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") >= 10).count()
    assert(rows.length == nTrain)
    rows.foreach { r =>
      val c = r.getAs[Double]("max_eval_cos")
      assert(c >= -1.0 - 1e-9 && c <= 1.0 + 1e-9)
      assert(r.getAs[Boolean]("contaminated") == (c >= 0.35))
    }
  }

  test("semDedup candidates are exact pairs bounded to shared cells") {
    val exact = Dedup.embeddingDedup(spark, sfDir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val sem = Dedup.semDedup(spark, sfDir).collect()
    val pairs = sem.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.nonEmpty, "the 16-cell quantizer must co-locate some pairs")
    assert(pairs.subsetOf(exact.keySet), "precision must be 1.0")
    // cell-bounded cosines are the SAME exact kernel — values equal
    sem.foreach { r =>
      assert(exact((r.getLong(0), r.getLong(1))) == r.getDouble(2))
    }
  }

  test("annIvfPq composes cell pruning with residual-PQ scoring") {
    val exactRows = Similarity.annBruteForce(spark, sfDir).collect()
    val exact = exactRows.map(r => (r.getAs[Long]("probe_id"),
      r.getAs[Long]("neighbor_id"))).toSet
    val approx = Similarity.annIvfPq(spark, sfDir).collect()
    val got = approx.map(r => (r.getAs[Long]("probe_id"),
      r.getAs[Long]("neighbor_id"))).toSet
    val recall = (exact & got).size.toDouble / exact.size
    // RecallProbe @ sf0.001: nProbe 2/4/8 × rerank 32/64 →
    // 0.34/0.58/0.60 ... 0.34/0.58/0.74 — cell pruning dominates,
    // rerank recovers the residual-coding loss
    assert(recall >= 0.45, s"IVF-PQ recall $recall")
    // reranked cosines are exact
    val exactCos = exactRows.map(r => (r.getAs[Long]("probe_id"),
      r.getAs[Long]("neighbor_id")) -> r.getAs[Double]("cosine")).toMap
    approx.foreach { r =>
      val k = (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))
      exactCos.get(k).foreach(c => assert(c == r.getAs[Double]("cosine")))
    }
    assert(approx.groupBy(_.getAs[Long]("probe_id")).forall(_._2.length == 10))
  }

  test("dedupCanonicalLsh refines the exact clusters, never merges them") {
    val lsh = Dedup.dedupCanonicalLsh(spark, sfDir).collect()
    val exact = Dedup.dedupCanonical(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(lsh.length == exact.size, "every doc maps in the LSH path too")
    // one canonical per LSH cluster, chosen inside the cluster
    lsh.groupBy(_.getAs[Long]("cluster_id")).foreach { case (cid, rows) =>
      assert(rows.map(_.getAs[Long]("canonical_id")).distinct.length == 1)
      assert(rows.count(_.getAs[Boolean]("is_canonical")) == 1)
      // refinement: all members of an LSH cluster share ONE exact
      // cluster (missed pairs can split, never merge)
      assert(rows.map(r => exact(r.getAs[Long]("doc_id"))).distinct.length == 1,
        s"LSH cluster $cid spans multiple exact clusters")
    }
  }

  test("embeddingDedupLsh: exact subset of all-pairs, recall pinned") {
    val exact = Dedup.embeddingDedup(spark, sfDir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val approx = Dedup.embeddingDedupLsh(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // the exact cosine post-filter makes every emitted pair real
    assert(approx.subsetOf(exact.keySet), "precision must be 1.0")
    // the synthetic embeddings have no high-cos planted copies (max
    // pair cosine ~0.5), so recall is pinned over ALL threshold pairs
    // — the hardest case for hyperplane LSH (expected code hamming
    // ~3 of 8 at cos 0.45; radius-3 multiprobe covers ~70% in theory)
    assert(exact.nonEmpty)
    val recall = (exact.keySet & approx).size.toDouble / exact.size
    assert(recall >= 0.35, s"LSH dedup recall $recall on ${exact.size} pairs")
  }

  test("updateIvfIndex appends in-distribution batches, refits on drift") {
    val idx = Similarity.ivfIndex(spark, sfDir)
    val n0 = idx.assigned.count()
    // append path: the centroids themselves as new vectors — zero
    // quantization error, so no drift by construction
    val easy = idx.centers.select(
      (col("center_cell").cast("long") + 100000L).as("vec_id"),
      col("center").as("v"))
    val (appended, refit1) = Similarity.updateIvfIndex(idx, easy)
    assert(!refit1, "in-distribution batch must not trigger a refit")
    assert(appended.assigned.count() == n0 + 16)
    // each centroid vector lands in its OWN cell, with the original
    // centers untouched
    val cells = appended.assigned.filter(col("vec_id") >= 100000L)
      .select(col("vec_id"), col("cell")).collect()
      .map(r => r.getLong(0) - 100000L -> r.getInt(1)).toMap
    assert(cells.forall { case (c, cell) => cell.toLong == c })
    assert(appended.centers.collect().map(_.toString).sorted
      .sameElements(idx.centers.collect().map(_.toString).sorted))
    // drift path: the same batch shifted far outside the trained
    // distribution must force a recluster over corpus + batch
    val far = easy.select(col("vec_id"),
      transform(col("v"), x => x + lit(100.0)).as("v"))
    val (refitIdx, refit2) = Similarity.updateIvfIndex(idx, far)
    assert(refit2, "out-of-distribution batch must trigger a refit")
    assert(refitIdx.assigned.count() == n0 + 16)
    // the refit quantizer covers the new region: every far vector's
    // assigned centroid is itself far out (no old-cell mislabeling)
    val farCells = refitIdx.assigned.filter(col("vec_id") >= 100000L)
      .select("cell").distinct().collect().map(_.getInt(0)).toSet
    val centerNorms = refitIdx.centers.collect()
      .map(r => r.getInt(0) -> math.sqrt(
        r.getSeq[Double](1).map(x => x * x).sum)).toMap
    assert(farCells.forall(c => centerNorms(c) > 100.0),
      s"far vectors must map to far centroids, got cells $farCells")
  }

  test("persisted IVF index searches identically to a fresh build") {
    val path = java.nio.file.Files.createTempDirectory("ivf_idx").toString
    val idx = Similarity.ivfIndex(spark, sfDir)
    Similarity.saveIvfIndex(idx, path)
    val loaded = Similarity.loadIvfIndex(spark, path)
    val fresh = Similarity.annIvfSearch(idx, 3).collect().map(_.toString).sorted
    val reread = Similarity.annIvfSearch(loaded, 3).collect().map(_.toString).sorted
    assert(fresh.sameElements(reread), "loaded index diverged from fresh build")
  }

  test("persisted PQ index searches identically to a fresh build") {
    val path = java.nio.file.Files.createTempDirectory("pq_idx").toString
    val idx = Similarity.pqIndex(spark, sfDir)
    Similarity.savePqIndex(idx, path)
    val loaded = Similarity.loadPqIndex(spark, path)
    val corpus = Similarity.vecs(spark, sfDir).toDF("vec_id", "v", "norm")
    val fresh = Similarity.annPqSearch(idx, corpus, 32)
      .collect().map(_.toString).sorted
    val reread = Similarity.annPqSearch(loaded, corpus, 32)
      .collect().map(_.toString).sorted
    assert(fresh.sameElements(reread), "loaded PQ index diverged")
    assert(fresh.nonEmpty)
  }

  test("persisted IVF-PQ index searches identically to a fresh build") {
    val path = java.nio.file.Files.createTempDirectory("ivfpq_idx").toString
    val idx = Similarity.ivfPqIndex(spark, sfDir)
    Similarity.saveIvfPqIndex(idx, path)
    val loaded = Similarity.loadIvfPqIndex(spark, path)
    val corpus = Similarity.vecs(spark, sfDir).toDF("vec_id", "v", "norm")
    val fresh = Similarity.annIvfPqSearch(idx, corpus, 4, 32)
      .collect().map(_.toString).sorted
    val reread = Similarity.annIvfPqSearch(loaded, corpus, 4, 32)
      .collect().map(_.toString).sorted
    assert(fresh.sameElements(reread), "loaded IVF-PQ index diverged")
    assert(fresh.nonEmpty)
  }

  test("dedupCanonicalQuality picks each cluster's best-written doc") {
    val canon = Dedup.dedupCanonicalQuality(spark, sfDir).collect()
    val quality = graft.operators.TextOps.qualityScore(spark, sfDir)
      .select("doc_id", "quality_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(canon.nonEmpty)
    canon.groupBy(_.getAs[Long]("cluster_id")).foreach { case (cid, rows) =>
      val canons = rows.map(_.getAs[Long]("canonical_id")).distinct
      assert(canons.length == 1)
      val best = rows.map(_.getAs[Long]("doc_id"))
        .maxBy(id => (quality(id), -id))
      assert(canons.head == best, s"cluster $cid: ${canons.head} != $best")
      assert(rows.count(_.getAs[Boolean]("is_canonical")) == 1)
    }
  }

  test("dedupCanonicalQualityIncremental equals the from-scratch quality canonical") {
    // the quality-signal dual of the incremental==from-scratch proof:
    // the standing half folds the arriving half in one batch, touched
    // clusters re-run the quality-ordered selection window, everything
    // else carries — and the result must be row-identical to the
    // from-scratch quality canonical over the whole corpus
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"),
        r.getAs[Long]("canonical_id"), r.getAs[Boolean]("is_canonical")))
      .sortBy(_._1).toSeq
    assert(rows(Dedup.dedupCanonicalQualityIncremental(spark, sfDir)) ==
      rows(Dedup.dedupCanonicalQuality(spark, sfDir)),
      "incremental quality canonical diverges from from-scratch")
  }

  test("annLsh candidate selection is a bucket equi-join, not a scan") {
    // the probe side expands to its hamming<=3 code set and hash-joins
    // on `code`: corpus rows outside probed buckets are rejected at the
    // hash table — cost independent of probe count, unlike the old
    // BroadcastNestedLoopJoin which tested every corpus row per probe
    val plan = Similarity.annLsh(spark, sfDir).queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), "full scan per probe")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("ShuffledHashJoin"),
      "expected a hash join on the code key")
  }

  test("embeddingQuality counts planted NaN / Inf / zero / ragged vectors") {
    import spark.implicits._
    val planted = Seq(
      (0, Array(3.0f, 4.0f)),                  // norm exactly 5
      (0, Array(0.0f, 0.0f)),                  // zero vector
      (0, Array(Float.NaN, 1.0f)),             // non-finite
      (1, Array(Float.PositiveInfinity, 0f)),  // non-finite
      (1, Array(1.0f, 0.0f)),                  // unit norm
      (1, Array(1.0f, 0.0f, 0.0f)),            // ragged: dim 3
      (2, Array.empty[Float])                  // zero-LENGTH vector
    ).toDF("label", "embedding")
    val res = Similarity.embeddingQualityOf(planted).collect()
      .map(r => r.getAs[Int]("label") -> r).toMap
    val l0 = res(0)
    assert(l0.getAs[Long]("n_vecs") == 3 && l0.getAs[Long]("n_dims") == 1)
    assert(l0.getAs[Long]("n_nonfinite") == 1 && l0.getAs[Long]("n_zero") == 1)
    // non-finite vectors must NOT poison the envelope (NULL norm)
    assert(l0.getAs[Double]("min_norm") == 0.0 &&
      l0.getAs[Double]("max_norm") == 5.0)
    assert(l0.getAs[Long]("n_low_norm") == 1 && l0.getAs[Long]("n_high_norm") == 1)
    val l1 = res(1)
    assert(l1.getAs[Long]("n_dims") == 2, "ragged dimensionality must surface")
    assert(l1.getAs[Long]("n_nonfinite") == 1 && l1.getAs[Long]("n_zero") == 0)
    assert(l1.getAs[Double]("min_norm") == 1.0 &&
      l1.getAs[Double]("max_norm") == 1.0)
    // zero-length vector: dim 0, norm 0 (the fold's init), counted
    // as a zero vector — reported, never a crash (the SQL dual
    // guards the same case against DuckDB's empty-list list_reduce)
    val l2 = res(2)
    assert(l2.getAs[Long]("n_vecs") == 1 && l2.getAs[Long]("n_zero") == 1)
    assert(l2.getAs[Long]("n_nonfinite") == 0 &&
      l2.getAs[Double]("max_norm") == 0.0)
    // the shipped corpus passes the gate clean: one dim, no
    // non-finites, no zeros, every norm inside the unit envelope
    Similarity.embeddingQuality(spark, sfDir).collect().foreach { r =>
      assert(r.getAs[Long]("n_dims") == 1 && r.getAs[Long]("n_nonfinite") == 0 &&
        r.getAs[Long]("n_zero") == 0 && r.getAs[Long]("n_low_norm") == 0 &&
        r.getAs[Long]("n_high_norm") == 0, s"corpus gate failed: $r")
    }
  }

  test("docLengthHist buckets are dyadic and reconcile with tokenCount") {
    val rows = TextOps.docLengthHist(spark, sfDir).collect()
    val toks = TextOps.tokenCount(spark, sfDir).collect()
      .map(_.getAs[Int]("n_ws_tokens").toLong)
    assert(rows.map(_.getAs[Long]("n_docs")).sum == toks.length.toLong)
    rows.foreach { r =>
      val b = r.getAs[Long]("bucket")
      assert(r.getAs[Long]("lo_tokens") == (1L << b))
      assert(r.getAs[Long]("hi_tokens") == (1L << (b + 1)) - 1)
    }
    val expect = toks.groupBy(n => (63 - java.lang.Long.numberOfLeadingZeros(n)).toLong)
      .view.mapValues(_.length.toLong).toMap
    assert(rows.map(r => r.getAs[Long]("bucket") -> r.getAs[Long]("n_docs")).toMap
      == expect, "bucket counts diverge from a driver-side recount")
  }

  private def normWords(text: String): Seq[String] =
    text.toLowerCase.trim.replaceAll("[^a-z0-9\\s]", " ")
      .replaceAll("\\s+", " ").trim.split(" ").filter(_.nonEmpty).toSeq

  test("vocabStats reconciles with a driver recount, Zipf slope near -1 shape") {
    val docs = Tables.documents(spark, sfDir)
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val bySource = docs.groupBy(_._1).view
      .mapValues(_.flatMap(d => normWords(d._2))).toMap
    val rows = TextOps.vocabStats(spark, sfDir).collect()
    assert(rows.map(_.getString(0)).toSet == bySource.keySet)
    rows.foreach { r =>
      val words = bySource(r.getString(0))
      val wf = words.groupBy(identity).view.mapValues(_.length.toLong).toMap
      assert(r.getAs[Long]("n_tokens") == words.length.toLong)
      assert(r.getAs[Long]("vocab") == wf.size.toLong)
      assert(r.getAs[Long]("hapax") == wf.count(_._2 == 1).toLong)
      assert(r.getAs[Long]("hapax_ppm") ==
        wf.count(_._2 == 1).toLong * 1000000L / wf.size)
      assert(r.getAs[Long]("ttr_ppm") == wf.size * 1000000L / words.length)
      val ranked = wf.toSeq.sortBy { case (w, n) => (-n, w) }
      assert(r.getAs[String]("top_word") == ranked.head._1)
      assert(r.getAs[Long]("top_n") == ranked.head._2)
      // slope recount over the same top-K rank/freq pairs
      val top = ranked.take(100).zipWithIndex
        .map { case ((_, n), i) => (math.log(i + 1.0), math.log(n.toDouble)) }
      val k = top.length.toDouble
      val (sx, sy) = (top.map(_._1).sum, top.map(_._2).sum)
      val sxy = top.map(p => p._1 * p._2).sum
      val sxx = top.map(p => p._1 * p._1).sum
      val slope = (k * sxy - sx * sy) / (k * sxx - sx * sx)
      assert(math.abs(r.getAs[Double]("zipf_slope") - slope) < 1e-5,
        s"${r.getString(0)}: slope ${r.getAs[Double]("zipf_slope")} vs $slope")
      // a frequency-ranked fit can only slope downward
      assert(r.getAs[Double]("zipf_slope") < 0.0)
    }
  }

  test("tokenDrift: KL >= 0, zero for a lone source, driver recount agrees") {
    import spark.implicits._
    // a single-source corpus IS the corpus distribution → KL exactly 0
    val lone = Seq((1L, "alpha beta beta gamma", "s1"),
      (2L, "alpha gamma gamma", "s1")).toDF("doc_id", "text", "source")
    val zero = TextOps.tokenDriftDocs(lone).collect()
    assert(zero.length == 1 && zero.head.getAs[Double]("kl_nats") == 0.0)
    // real corpus: non-negative, and a full double recount agrees
    val docs = Tables.documents(spark, sfDir)
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val bySource = docs.groupBy(_._1).view
      .mapValues(_.flatMap(d => normWords(d._2))).toMap
    val corpusWf = bySource.values.flatten.toSeq
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val nTotal = corpusWf.values.sum.toDouble
    val rows = TextOps.tokenDrift(spark, sfDir).collect()
    rows.foreach { r =>
      val words = bySource(r.getString(0))
      val wf = words.groupBy(identity).view.mapValues(_.length.toLong).toMap
      val ns = words.length.toDouble
      val kl = wf.map { case (w, n) =>
        (n / ns) * math.log(n * nTotal / (ns * corpusWf(w)))
      }.sum
      assert(r.getAs[Long]("n_tokens") == words.length.toLong)
      assert(r.getAs[Long]("vocab") == wf.size.toLong)
      val got = r.getAs[Double]("kl_nats")
      assert(got >= 0.0, s"KL must be non-negative, got $got")
      assert(math.abs(got - kl) < 1e-6,
        s"${r.getString(0)}: kl $got vs recount $kl")
    }
  }

  test("filtered ANN: predicate is total; all-cells IVF equals exact") {
    import org.apache.spark.sql.functions._
    val exact = graft.operators.Similarity.annFiltered(spark, sfDir)
    val rows = exact.collect()
    assert(rows.nonEmpty)
    // every neighbor satisfies the probe's predicate (pre-filter can
    // never leak a non-matching vector into the top-k)
    val labels = Tables.embeddings(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getAs[Integer]("label")).toMap
    rows.foreach { r =>
      assert(labels(r.getAs[Long]("neighbor_id")) ==
        r.getAs[Integer]("label"), "neighbor escapes the filter")
    }
    // ranks are contiguous from 1 and cosines monotone within a probe
    rows.groupBy(_.getAs[Long]("probe_id")).foreach { case (p, g) =>
      val sorted = g.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq ==
        (1 to sorted.length), s"probe $p ranks")
      val cos = sorted.map(_.getAs[Double]("cosine"))
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b },
        s"probe $p not ranked by cosine")
    }
    // probing EVERY cell makes the IVF candidate set the whole
    // corpus — the filtered-IVF machinery must then be LOSSLESS
    val allCells = graft.operators.Similarity
      .annFilteredIvf(spark, sfDir, nProbe = 16)
    assert(allCells.exceptAll(exact).count() == 0 &&
      exact.exceptAll(allCells).count() == 0,
      "all-cells filtered IVF diverged from exact filtered search")
    // the default nProbe result also never leaks a filtered vector
    val ivf = graft.operators.Similarity.annFilteredIvf(spark, sfDir)
    assert(ivf.count() > 0)
    assert(ivf.collect().forall(r =>
      labels(r.getAs[Long]("neighbor_id")) == r.getAs[Integer]("label")))
  }

  test("minhashClusters equals a driver union-find over the LSH pairs") {
    val pairs = Dedup.minhashLsh(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    val ids = Tables.documents(spark, sfDir).collect()
      .map(_.getAs[Long]("doc_id"))
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = ids.map(i => i -> find(i)).toMap
    val got = Dedup.minhashClusters(spark, sfDir).collect()
    assert(got.length == ids.length, "resolution must be TOTAL over docs")
    got.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Long]("cluster_id") == expected(id), s"doc $id label")
      assert(r.getAs[Boolean]("keep") == (expected(id) == id))
    }
    // the pair graph actually merges something on this corpus
    assert(expected.values.toSet.size < ids.length,
      "corpus has no minhash near-dups — the spec is vacuous")
  }

  test("clusterStats reconciles with the resolved components") {
    val sizes = Dedup.embeddingClusters(spark, sfDir).collect()
      .groupBy(_.getAs[Long]("cluster_id")).map(_._2.length.toLong)
    val expected = sizes.groupBy(identity).map { case (s, g) => s -> g.size.toLong }
    val total = sizes.sum
    val got = Dedup.clusterStats(spark, sfDir).collect()
    assert(got.length == expected.size)
    got.foreach { r =>
      val s = r.getAs[Long]("size")
      assert(r.getAs[Long]("n_clusters") == expected(s), s"size $s count")
      assert(r.getAs[Long]("n_docs") == s * expected(s))
      assert(r.getAs[Long]("dup_docs") == (s - 1) * expected(s))
      assert(r.getAs[Long]("doc_ppm") == s * expected(s) * 1000000L / total)
    }
    // masses reconcile: docs sum to the corpus, dups to docs - clusters
    assert(got.map(_.getAs[Long]("n_docs")).sum == total)
    assert(got.map(_.getAs[Long]("dup_docs")).sum ==
      total - sizes.size)
  }

  test("tripletMine anchors every clustered doc with in/out-of-cluster mates") {
    import graft.operators.Dedup
    val byDoc = Dedup.embeddingClusters(spark, sfDir).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cluster_id")).toMap
    val sizes = byDoc.groupBy(_._2).view.mapValues(_.size).toMap
    val trips = Dedup.tripletMine(spark, sfDir).collect()
    // exactly the members of >=2-doc clusters anchor a triplet
    val expectedAnchors = byDoc.filter { case (_, c) => sizes(c) >= 2 }.keySet
    assert(trips.map(_.getAs[Long]("anchor_id")).toSet == expectedAnchors)
    assert(trips.length == expectedAnchors.size, "one triplet per anchor")
    trips.foreach { t =>
      val a = t.getAs[Long]("anchor_id")
      val p = t.getAs[Long]("positive_id")
      val n = t.getAs[Long]("negative_id")
      val c = t.getAs[Long]("cluster_id")
      assert(byDoc(a) == c && t.getAs[Long]("cluster_size") == sizes(c))
      // positive: a DIFFERENT member of the SAME cluster — the
      // smallest other member
      assert(p != a && byDoc(p) == c, s"positive $p not a cluster mate of $a")
      val others = byDoc.collect { case (d, cc) if cc == c && d != a => d }
      assert(p == others.min, s"positive must be the smallest other member")
      // negative: a representative of a DIFFERENT component — provably
      // not a near-dup of the anchor
      assert(byDoc(n) != c, s"negative $n shares the anchor's cluster")
      assert(byDoc(n) == n, s"negative $n must be a cluster representative")
      // the negative map is built from ≥2-member clusters ONLY (the
      // near-dup components — a small set at any real dedup rate)
      assert(sizes(n) >= 2, s"negative $n must represent a >=2 cluster")
    }
  }

  test("tripletMineHard picks the most-similar out-of-cluster LSH candidate") {
    import graft.operators.Dedup
    val byDoc = Dedup.embeddingClusters(spark, sfDir).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cluster_id")).toMap
    val easy = Dedup.tripletMine(spark, sfDir).collect()
      .map(r => r.getAs[Long]("anchor_id") ->
        r.getAs[Long]("positive_id")).toMap
    // driver recount of the full unfloored LSH candidate set
    val pairs = Dedup.embeddingPairsLshBase(spark, sfDir, minCos = -1.0)
      .select("a_id", "b_id", "cos").collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"),
        r.getAs[Double]("cos")))
    val candsOf = (pairs.map(p => (p._1, (p._2, p._3))) ++
      pairs.map(p => (p._2, (p._1, p._3))))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val hard = Dedup.tripletMineHard(spark, sfDir).collect()
    assert(hard.nonEmpty, "no hard triplets on the clustered corpus")
    val seen = hard.map(_.getAs[Long]("anchor_id")).toSet
    hard.foreach { t =>
      val a = t.getAs[Long]("anchor_id")
      val n = t.getAs[Long]("hard_negative_id")
      // same anchor set semantics + the SAME positive as the easy dual
      assert(easy.contains(a), s"anchor $a not a clustered-doc anchor")
      assert(t.getAs[Long]("positive_id") == easy(a), s"positive drift $a")
      // negative: out-of-component, and THE argmax of the candidate set
      assert(byDoc(n) != byDoc(a), s"hard negative $n shares $a's cluster")
      val cross = candsOf(a).filter { case (c, _) => byDoc(c) != byDoc(a) }
      val best = cross.maxBy { case (c, cos) => (cos, -c) }
      assert(n == best._1, s"anchor $a: expected ${best._1}, got $n")
      assert(math.abs(t.getAs[Double]("neg_cosine") -
        math.round(best._2 * 1e6) / 1e6) < 1e-12)
    }
    // anchors with no cross-cluster collision drop — every OTHER easy
    // anchor must be present
    easy.keySet.diff(seen).foreach { a =>
      val cross = candsOf.getOrElse(a, Array.empty[(Long, Double)])
        .filter { case (c, _) => byDoc(c) != byDoc(a) }
      assert(cross.isEmpty, s"anchor $a dropped despite candidates")
    }
  }

  test("embedPca: orthonormal basis, descending lambdas, Parseval, refit-stable") {
    val model = Similarity.fitPca(spark, sfDir, 8)
    val d = model.mean.length
    assert(model.components.length == 8 && model.eigenvalues.length == 8)
    for (a <- model.components.indices; b <- a until model.components.length) {
      val dot = (0 until d).map(j =>
        model.components(a)(j) * model.components(b)(j)).sum
      if (a == b) assert(math.abs(dot - 1.0) < 1e-9, s"comp $a not unit")
      else assert(math.abs(dot) < 1e-9, s"comps $a,$b not orthogonal")
    }
    model.eigenvalues.sliding(2).foreach { w =>
      assert(w(0) >= w(1) - 1e-12, "eigenvalues must descend") }
    assert(model.eigenvalues.forall(_ > 0), "top-8 lambdas positive")
    // driver replay: mean, total variance, per-component variance = lambda
    val vs = graft.Tables.embeddings(spark, sfDir)
      .select(col("embedding").cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toArray)
    val n = vs.length.toDouble
    val mean = Array.tabulate(d)(j => vs.map(_(j)).sum / n)
    mean.zip(model.mean).foreach { case (e, g) =>
      assert(math.abs(e - g) < 1e-9, "mean drift") }
    val trace = (0 until d).map(j =>
      vs.map(v => (v(j) - mean(j)) * (v(j) - mean(j))).sum / n).sum
    assert(model.eigenvalues.sum <= trace + 1e-9, "captured <= total variance")
    // clustered structure makes the top directions beat the uniform
    // 8/64 share (measured ~0.20 on this corpus vs 0.125 uniform)
    assert(model.eigenvalues.sum > 8.0 / d * trace,
      "top-8 must capture more than a uniform spectrum's share")
    val got = Similarity.embedPcaOf(
      graft.Tables.embeddings(spark, sfDir), model).collect()
    assert(got.length == vs.length)
    val pcsByRow = got.map(_.getSeq[Double](2).toArray)
    // registered surface: scalar pc_0..pc_7 (driver-canonicalizable),
    // bit-identical to the internal array form
    val flat = Similarity.embedPca(spark, sfDir)
    assert(flat.columns.toSeq ==
      Seq("vec_id", "label") ++ (0 until 8).map(j => s"pc_$j") :+ "recon_err2")
    val flatRows = flat.collect()
    assert(flatRows.length == got.length)
    got.zip(flatRows).foreach { case (a, f) =>
      assert(a.getAs[Number]("vec_id").longValue() ==
        f.getAs[Number]("vec_id").longValue())
      val pcs = a.getSeq[Double](2)
      (0 until 8).foreach { j =>
        assert(pcs(j) == f.getAs[Double](s"pc_$j"), s"pc_$j drift") }
      assert(a.getAs[Double]("recon_err2") == f.getAs[Double]("recon_err2"))
    }
    for (j <- 0 until 8) {
      val xs = pcsByRow.map(_(j))
      val m = xs.sum / n
      assert(math.abs(m) < 1e-6, s"pc$j not centered")
      val v = xs.map(x => (x - m) * (x - m)).sum / n
      assert(math.abs(v - model.eigenvalues(j)) <=
        1e-6 * math.max(1.0, model.eigenvalues(j)), s"var(pc$j) != lambda$j")
    }
    // Parseval: recon_err2 = ||v - mu||^2 - sum pc^2, and non-negative
    val vById = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id").cast("long"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    got.foreach { r =>
      val v = vById(r.getAs[Number]("vec_id").longValue())
      val cd2 = (0 until d).map(j => (v(j) - mean(j)) * (v(j) - mean(j))).sum
      val pcs = r.getSeq[Double](2).toArray
      val e = cd2 - pcs.map(x => x * x).sum
      val gotErr = r.getAs[Double]("recon_err2")
      assert(math.abs(gotErr - e) < 1e-7, "reconstruction identity")
      assert(gotErr >= -1e-9, "Parseval non-negativity")
    }
    // adding components only helps: mean error at k=8 < at k=4
    val m4 = Similarity.fitPca(spark, sfDir, 4)
    val err4 = Similarity.embedPcaOf(
      graft.Tables.embeddings(spark, sfDir), m4)
      .agg(avg("recon_err2")).head.getDouble(0)
    val err8 = got.map(_.getAs[Double]("recon_err2")).sum / n
    assert(err8 < err4, "k=8 must reconstruct better than k=4")
    // refit determinism (bit-level)
    val again = Similarity.fitPca(spark, sfDir, 8)
    assert(again.mean.sameElements(model.mean) &&
      again.eigenvalues.sameElements(model.eigenvalues) &&
      again.components.zip(model.components).forall {
        case (x, y) => x.sameElements(y) })
  }
}
