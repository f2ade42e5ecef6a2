package graft

import graft.operators.Curation
import org.apache.spark.sql.functions._

class CurationSpec extends SparkSuite {

  test("clusterLabels replays the c-TF-IDF walk and the cohesion leg") {
    import graft.operators.Similarity
    def r(x: Double, s: Int) = BigDecimal(x)
      .setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = Curation.clusterLabels(spark, sfDir).collect()
    assert(got.nonEmpty && got.length % 5 == 0, "5 label terms per cell")
    val idx = Similarity.ivfIndex(spark, sfDir)
    val assign = idx.assigned.select("vec_id", "cell").collect()
      .map(x => x.getLong(0) -> x.getInt(1)).toMap
    // mirror TextOps.normalizedWords driver-side
    val docTerms = Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .flatMap { x =>
        val id = x.getLong(0)
        assign.get(id).toSeq.flatMap { cell =>
          x.getString(1).toLowerCase
            .replaceAll("[^a-z0-9 \\t\\n\\f\\r]", " ")
            .split("[ \\t\\n\\f\\r]+").filter(_.nonEmpty)
            .map(t => (cell, t))
        }
      }
    val cellTerm = docTerms.groupBy(identity).map { case ((c, t), g) =>
      (c, t, g.length.toLong) }.toSeq
    val cellTokens = cellTerm.groupBy(_._1).map { case (c, g) =>
      c -> g.map(_._3).sum }
    val fT = cellTerm.groupBy(_._2).map { case (t, g) => t -> g.map(_._3).sum }
    val total = cellTerm.map(_._3).sum.toDouble
    val nCells = idx.centers.count().toDouble
    val expTop = cellTerm.groupBy(_._1).map { case (c, g) =>
      c -> g.map { case (_, t, ctf) =>
        (t, r(ctf.toDouble / cellTokens(c) *
          math.log(1.0 + total / nCells / fT(t)), 8))
      }.sortBy { case (t, s) => (-s, t) }.take(5)
    }
    // every assigned cell with at least one tokenized doc is labeled
    got.groupBy(_.getInt(0)).foreach { case (cell, rows) =>
      val exp = expTop(cell)
      rows.sortBy(_.getInt(3)).zip(exp).foreach { case (row, (t, s)) =>
        assert(row.getString(4) == t, s"cell $cell term")
        assert(row.getDouble(5) == s, s"cell $cell score for $t")
      }
      // n_docs counts ALL assigned vectors in the cell
      assert(rows.head.getLong(1) == assign.values.count(_ == cell),
        s"cell $cell n_docs")
      val cos = rows.head.getDouble(2)
      assert(cos >= -1.0 - 1e-9 && cos <= 1.0 + 1e-9, s"cell $cell cohesion")
    }
    assert(got.map(_.getInt(0)).distinct.length == expTop.size,
      "every tokenized cell labeled")
  }

  test("clusterCap keeps the deterministic lowest-priority docs per cell") {
    import graft.operators.Similarity
    val cap = 64
    val got = Curation.clusterCap(spark, sfDir, cap).collect()
    val assign = Similarity.ivfIndex(spark, sfDir).assigned
      .select("vec_id", "cell").collect()
      .map(x => x.getLong(0) -> x.getInt(1))
    def prio(id: Long) = id % 1000003L * 2654435761L % 1000000L
    val byCell = assign.groupBy(_._2)
    got.groupBy(_.getInt(0)).foreach { case (cell, rows) =>
      val members = byCell(cell).map(_._1)
      assert(rows.head.getLong(3) == members.length, s"cell $cell size")
      assert(rows.length == math.min(cap, members.length), s"cell $cell cap")
      val expKept = members.sortBy(id => (prio(id), id)).take(cap)
      val gotKept = rows.sortBy(_.getInt(2)).map(_.getLong(1))
      assert(gotKept.toSeq == expKept.toSeq, s"cell $cell kept set")
    }
    assert(got.map(_.getInt(0)).distinct.length == byCell.size,
      "every cell reports")
    // re-run reproduces the identical kept set (determinism)
    val again = Curation.clusterCap(spark, sfDir, cap).collect()
    assert(again.map(r => (r.getInt(0), r.getLong(1), r.getInt(2))).toSet ==
      got.map(r => (r.getInt(0), r.getLong(1), r.getInt(2))).toSet)
  }

  test("clusterPurity replays the majority/entropy walk") {
    import graft.operators.Similarity
    def srd(x: Double) = BigDecimal(x * 1e6)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble / 1e6
    val got = Curation.clusterPurity(spark, sfDir).collect()
    assert(got.nonEmpty)
    val assign = Similarity.ivfIndex(spark, sfDir).assigned
      .select("vec_id", "cell").collect()
      .map(x => x.getLong(0) -> x.getInt(1)).toMap
    val labels = Tables.embeddings(spark, sfDir)
      .select("vec_id", "label").collect()
      .map(x => x.getLong(0) -> x.getInt(1)).toMap
    val byCell = assign.toSeq.map { case (v, c) => (c, labels(v)) }
      .groupBy(_._1)
    assert(got.length == byCell.size)
    got.foreach { r =>
      val cell = r.getInt(0)
      val dist = byCell(cell).groupBy(_._2).map { case (l, g) =>
        l -> g.length.toLong }
      val n = dist.values.sum
      assert(r.getAs[Long]("n") == n, s"$cell n")
      assert(r.getAs[Long]("n_labels") == dist.size, s"$cell labels")
      val (topL, topC) = dist.toSeq.maxBy { case (l, c) => (c, -l) }
      assert(r.getAs[Int]("top_label") == topL, s"$cell top")
      assert(r.getAs[Double]("top_frac") == srd(topC.toDouble / n), s"$cell frac")
      val ent = -dist.toSeq.sortBy(_._1).foldLeft(0.0) { case (a, (_, c)) =>
        a + c.toDouble / n * math.log(c.toDouble / n) }
      assert(r.getAs[Double]("entropy") == srd(ent), s"$cell entropy")
      assert(r.getAs[Double]("entropy") >= -1e-9 &&
        r.getAs[Double]("entropy") <= math.log(dist.size.toDouble) + 1e-9)
    }
  }

  test("sampleInspection picks the deterministic lowest-hash docs per cell") {
    val got = Curation.sampleInspection(spark, sfDir).collect()
    assert(got.nonEmpty)
    def prio(id: Long) = id % 1000003L * 2654435761L % 1000000L
    val verdicts = Curation.gopherChain(spark, sfDir)
      .select("doc_id", "keep_doc").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val src = Tables.documents(spark, sfDir).select("doc_id", "source")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val cells = verdicts.toSeq.map { case (id, k) => ((src(id), k), id) }
      .groupBy(_._1)
    got.groupBy(r => (r.getString(0), r.getBoolean(1))).foreach {
      case (cell, rows) =>
        val exp = cells(cell).map(_._2).sortBy(id => (prio(id), id)).take(3)
        assert(rows.sortBy(_.getInt(2)).map(_.getLong(3)).toSeq == exp.toSeq,
          s"cell $cell")
    }
    // every verdict the corpus produces is represented (at sf0.001
    // everything fails the 50-word floor, so one cell per source is
    // the correct sheet there)
    assert(got.map(_.getBoolean(1)).distinct.sorted.toSeq ==
      verdicts.values.toSeq.distinct.sorted)
    // re-run reproduces the sheet
    assert(Curation.sampleInspection(spark, sfDir).collect()
      .map(_.toString).toSeq == got.map(_.toString).toSeq)
  }

  test("gopherFilters fractions are in [0,1] and verdict matches thresholds") {
    val rows = Curation.gopherFilters(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val dup = r.getDouble(r.fieldIndex("dup_sentence_frac"))
      val top = r.getDouble(r.fieldIndex("top_word_frac"))
      assert(dup >= 0.0 && dup <= 1.0)
      assert(top > 0.0 && top <= 1.0)
      assert(r.getBoolean(r.fieldIndex("keep_doc")) == (dup <= 0.30 && top <= 0.20))
    }
  }

  test("gopherNgramRep: crafted repeats hit their exact char masses") {
    import spark.implicits._
    // A: one word ×4 — overlapping 2-grams, mass may exceed the doc
    // (3 occurrences × 9 chars over 19 chars) — the documented
    // all-occurrences approximation; too short for any dup rule
    // B: 60 distinct words — nothing repeats, every dup frac exactly 0
    // C: a 5-word phrase repeated around unique filler — the dup-5gram
    // rule's canonical target
    val phrase = "alpha beta gamma delta epsilon"
    val docs = Seq(
      (1L, "spam spam spam spam"),
      (2L, (0 until 60).map(i => s"w${i}word").mkString(" ")),
      (3L, s"$phrase one two three four five $phrase"))
      .toDF("doc_id", "text")
    val out = Curation.gopherNgramRepDocs(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val a = out(1L)
    assert(a.getAs[Double]("top_2gram_frac") == 27.0 / 19.0) // 3 × "spam spam"
    assert(a.getAs[Double]("top_3gram_frac") == 28.0 / 19.0) // 2 × 14 chars
    assert(a.getAs[Double]("dup_5gram_frac") == 0.0)         // only 4 words
    assert(!a.getAs[Boolean]("keep_doc"))
    val b = out(2L)
    Seq(5, 6, 7, 8, 9, 10).foreach(n =>
      assert(b.getAs[Double](s"dup_${n}gram_frac") == 0.0))
    assert(b.getAs[Boolean]("keep_doc"))
    val c = out(3L)
    val total = (phrase + " one two three four five " + phrase).length
    assert(c.getAs[Double]("dup_5gram_frac") == 2.0 * phrase.length / total)
    assert(c.getAs[Double]("dup_6gram_frac") == 0.0) // no 6-gram repeats
    assert(!c.getAs[Boolean]("keep_doc"))
    // thresholds bind exactly as published (table A1)
    out.values.foreach { r =>
      val expect = Seq(("top_2gram_frac", 0.20), ("top_3gram_frac", 0.18),
        ("top_4gram_frac", 0.16), ("dup_5gram_frac", 0.15),
        ("dup_6gram_frac", 0.14), ("dup_7gram_frac", 0.13),
        ("dup_8gram_frac", 0.12), ("dup_9gram_frac", 0.11),
        ("dup_10gram_frac", 0.10))
        .forall { case (f, t) => r.getAs[Double](f) <= t }
      assert(r.getAs[Boolean]("keep_doc") == expect)
    }
  }

  test("topicMix: smallest cell whole, rates antitone in mass, hash-exact") {
    val rows = Curation.topicMix(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // acceptance is the exact deterministic hash — recompute per doc
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val ppm = r.getAs[Long]("accept_ppm")
      assert(ppm > 0 && ppm <= 1000000L)
      assert(id % 1000003L * 2654435761L % 1000000L < ppm, s"doc $id hash-fails")
    }
    // per-cell rates: join cells to token counts and rebuild the rule
    val cells = graft.operators.Similarity.ivfIndex(spark, sfDir).assigned
      .select(col("vec_id").as("doc_id"), col("cell")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("cell")).toMap
    // the operator's exact token expression (mismatched tokenization
    // here would corrupt the reconstructed masses)
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        size(filter(split(trim(col("text")), "[ \\t\\n\\f\\r]+"),
          w => w =!= lit(""))).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val mass = cells.groupMapReduce(_._2)(kv => toks(kv._1))(_ + _)
    val minMass = mass.values.min
    val ppmByCell = rows.map(r => r.getAs[Int]("cell") -> r.getAs[Long]("accept_ppm")).toMap
    // smallest cell keeps everything: ppm hits the full million and
    // every one of its docs is in the accepted set
    val smallCell = mass.minBy(kv => (kv._2, kv._1))._1
    if (ppmByCell.contains(smallCell)) assert(ppmByCell(smallCell) == 1000000L)
    val acceptedOfSmall = rows.filter(_.getAs[Int]("cell") == smallCell)
    assert(acceptedOfSmall.length == cells.count(_._2 == smallCell))
    // rates antitone in cell token mass
    for ((c1, p1) <- ppmByCell; (c2, p2) <- ppmByCell
         if mass(c1) < mass(c2))
      assert(p1 >= p2, s"cell $c1 (lighter) has lower rate than $c2")
    // deterministic end to end (seeded quantizer + exact hash)
    val again = Curation.topicMix(spark, sfDir).collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("spanRemoval: clean docs untouched, removal agrees with the span signal") {
    val rem = Curation.spanRemoval(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_words"), r.getAs[Long]("n_removed"),
          r.getAs[String]("text_kept"))).toMap
    val sig = Curation.spanDedup(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_dup_spans")).toMap
    val words = Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(trim(col("text")), "[ \\t\\n\\f\\r]+").as("ws"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getSeq[String](1)).toMap
    assert(rem.nonEmpty && rem.keySet == words.keySet)
    assert(rem.exists(_._2._2 > 0), "corpus has repeated spans — some must remove")
    rem.foreach { case (id, (nWords, nRemoved, kept)) =>
      assert(nWords == words(id).length)
      assert(nRemoved >= 0 && nRemoved <= nWords)
      // a doc with no duplicated spans loses nothing and reassembles
      // to its full text (removal derives from the SAME rn>1 marking
      // the signal counts)
      if (sig.getOrElse(id, 0L) == 0L) {
        assert(nRemoved == 0L, s"doc $id removed words without dup spans")
        assert(kept == words(id).mkString(" "), s"doc $id altered")
      }
      // removal only ever shrinks, by exactly the removed count
      val keptWords = if (kept.isEmpty) 0 else kept.split(" ", -1).length
      assert(keptWords == nWords - nRemoved, s"doc $id word accounting")
    }
  }

  test("decontaminate only flags docs that genuinely share an 8-gram") {
    val flagged = Curation.decontaminate(spark, sfDir)
    val rows = flagged.collect()
    rows.foreach(r => assert(r.getLong(r.fieldIndex("n_shared_ngrams")) >= 1))
    // no eval doc may appear in the output, and every flagged id is corpus-side
    assert(rows.forall(_.getLong(0) >= 10L))
    // cross-check one flagged doc by direct recomputation
    if (rows.nonEmpty) {
      val docId = rows.head.getLong(0)
      val texts = Tables.documents(spark, sfDir)
        .filter(col("doc_id") < 10 || col("doc_id") === docId)
        .select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      def grams(t: String): Set[String] = {
        val ws = t.toLowerCase.replaceAll("[^a-z0-9\\s]", " ")
          .trim.split("\\s+").filter(_.nonEmpty)
        ws.sliding(8).filter(_.length == 8).map(_.mkString(" ")).toSet
      }
      val evalGrams = (0L until 10L).flatMap(i => texts.get(i).map(grams).getOrElse(Set.empty)).toSet
      val shared = grams(texts(docId)) & evalGrams
      assert(shared.size == rows.head.getLong(rows.head.fieldIndex("n_shared_ngrams")),
        s"doc $docId: recomputed overlap ${shared.size} != reported")
    }
  }

  test("packSequences offsets are contiguous and consistent with the budget") {
    val rows = Curation.packSequences(spark, sfDir).collect()
    assert(rows.length == Tables.documents(spark, sfDir).count())
    var expectedStart = 0L
    rows.foreach { r =>
      val n = r.getLong(r.fieldIndex("n_tokens"))
      val start = r.getLong(r.fieldIndex("start_offset"))
      assert(start == expectedStart, s"doc ${r.getLong(0)}: gap in packing")
      assert(r.getLong(r.fieldIndex("seq_id")) == start / Curation.PackBudget)
      assert(r.getLong(r.fieldIndex("offset_in_seq")) == start % Curation.PackBudget)
      assert(n > 0)
      expectedStart += n
    }
    // the distributed prefix sum equals a single-threaded scan by
    // construction of expectedStart above; also pin determinism
    val again = Curation.packSequences(spark, sfDir).collect()
    assert(rows.map(_.toString).sameElements(again.map(_.toString)))
  }

  test("pack offsets are append-stable: new higher-id docs never move old ones") {
    // the property an incremental packing maintenance relies on:
    // because the prefix sum runs in doc_id order, appending a batch
    // of strictly-higher ids leaves every existing row bit-identical,
    // so a standing pack table extends by computing ONLY the new
    // batch's rows from the old running total — never a re-pack
    val docs = Tables.documents(spark, sfDir)
    val maxId = docs.agg(max("doc_id")).head.getLong(0)
    val half = maxId / 2
    val prefix = docs.filter(col("doc_id") <= half)
    val all = Curation.packSequencesDocs(docs).collect()
      .map(r => r.getLong(0) -> r.toString).toMap
    val pre = Curation.packSequencesDocs(prefix).collect()
      .map(r => r.getLong(0) -> r.toString).toMap
    assert(pre.nonEmpty && pre.size < all.size)
    pre.foreach { case (id, row) =>
      assert(all(id) == row, s"appending moved doc $id: ${all(id)} != $row")
    }
  }

  test("narrow per-row gopher formulation equals the aggregation shape exactly") {
    val agg = Curation.gopherFilters(spark, sfDir)
    val narrow = Curation.gopherNarrowDocs(Tables.documents(spark, sfDir))
    assert(agg.exceptAll(narrow).count() == 0)
    assert(narrow.exceptAll(agg).count() == 0)
  }

  test("gopher chain verdict is the conjunction of its stage verdicts") {
    val chain = Curation.gopherChain(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val rep = Curation.gopherFilters(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("keep_doc")).toMap
    val qual = Curation.gopherQuality(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("keep_doc")).toMap
    assert(chain.keySet == rep.keySet)
    chain.foreach { case (id, r) =>
      assert(r.getAs[Boolean]("keep_rep") == rep(id), s"doc $id rep")
      assert(r.getAs[Boolean]("keep_quality") == qual(id), s"doc $id quality")
      assert(r.getAs[Boolean]("keep_doc") == (rep(id) && qual(id)), s"doc $id")
    }
  }

  test("curation pipeline composes its three stage verdicts") {
    val pipe = Curation.curationPipeline(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val chain = Curation.gopherChain(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("keep_doc")).toMap
    val canon = graft.operators.Dedup.dedupCanonical(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("is_canonical")).toMap
    val exactSurvivors = graft.operators.Dedup.exact(spark, sfDir).collect()
      .map(_.getAs[Long]("keep_id")).toSet
    assert(pipe.nonEmpty && pipe.keySet == chain.keySet)
    pipe.foreach { case (id, r) =>
      assert(r.getAs[Boolean]("keep_chain") == chain(id), s"doc $id chain")
      assert(r.getAs[Boolean]("is_canonical") == canon(id), s"doc $id canon")
      assert(r.getAs[Boolean]("keep_exact") == exactSurvivors.contains(id),
        s"doc $id exact")
      assert(r.getAs[Boolean]("survived") ==
        (chain(id) && canon(id) && exactSurvivors.contains(id)), s"doc $id")
    }
  }

  test("importance weights rank target-domain docs above the rest") {
    val w = Curation.importanceWeights(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("log_weight")).toMap
    val src = Tables.documents(spark, sfDir).select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(w.keySet == src.keySet, "every doc scored")
    val (target, rest) = w.partition { case (id, _) => src(id) == "src0" }
    assert(target.nonEmpty && rest.nonEmpty)
    // the target LM fits its own domain better on average — the
    // separation importance resampling relies on
    val mt = target.values.sum / target.size
    val mr = rest.values.sum / rest.size
    assert(mt > mr, s"target mean $mt !> rest mean $mr")
  }

  test("hashed importance weights keep the target-domain separation") {
    val w = Curation.importanceWeightsHashed(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("log_weight")).toMap
    val src = Tables.documents(spark, sfDir).select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(w.keySet == src.keySet)
    val (target, rest) = w.partition { case (id, _) => src(id) == "src0" }
    val mt = target.values.sum / target.size
    val mr = rest.values.sum / rest.size
    assert(mt > mr, s"hashed target mean $mt !> rest mean $mr")
    // 1024 buckets on this vocabulary: hashing must track the exact
    // model closely — compare LIKE-FOR-LIKE (each score against its
    // own model's overall mean), not across two different thresholds
    val exact = Curation.importanceWeights(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("log_weight")).toMap
    val hashedMean = w.values.sum / w.size
    val exactMean = exact.values.sum / exact.size
    val agree = w.keys.count { id =>
      (w(id) > hashedMean) == (exact(id) > exactMean) }
    assert(agree.toDouble / w.size > 0.6,
      "hashed scores should broadly agree with the exact model")
  }

  test("dataSplit is content-keyed: duplicates share a split, shares hold") {
    val res = Curation.dataSplit(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1))
    assert(res.keySet == docs.map(_._1).toSet, "every doc assigned")
    // byte-identical texts can never straddle splits — the leakage
    // guard the content key exists for (holds on the real corpus AND
    // on planted cross-id duplicates)
    docs.groupBy(_._2).values.foreach { g =>
      assert(g.map(d => res(d._1)).distinct.length == 1,
        s"texts equal, splits differ: ${g.map(_._1).toSeq}")
    }
    import spark.implicits._
    val planted = (0 until 40).map(i => (i.toLong, s"dup text ${i % 10}"))
      .toDF("doc_id", "text")
    val ps = Curation.dataSplitDocs(planted).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    (0 until 10).foreach { k =>
      val ids = (0 until 40).filter(_ % 10 == k).map(_.toLong)
      assert(ids.map(ps).distinct.length == 1, s"dup group $k split apart")
    }
    // shares: buckets are uniform-ish, so train must dominate and the
    // held-out sides exist at corpus size (wide tolerance — the spec
    // pins structure, not the RNG)
    val shares = res.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(shares("train").toDouble / res.size > 0.8)
    assert(shares.getOrElse("val", 0) + shares.getOrElse("test", 0) > 0)
  }

  test("splitStats reconciles with the assignment and the corpus masses") {
    val cells = Curation.splitStats(spark, sfDir).collect()
    val assign = Curation.dataSplit(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    // every (split, source) cell count matches a driver-side recount,
    // and the cells partition the corpus exactly
    val recount = docs.groupBy { case (id, src) => (assign(id), src) }
      .view.mapValues(_.length.toLong).toMap
    assert(cells.map(c => (c.getAs[String]("split"), c.getAs[String]("source"))
      -> c.getAs[Long]("n_docs")).toMap == recount)
    assert(cells.map(_.getAs[Long]("n_docs")).sum == docs.length)
    // shares: within each split the ppm shares sum to ~1e6 (integer
    // floor loses at most one ppm per cell), and the split token
    // total is consistent across its cells
    cells.groupBy(_.getAs[String]("split")).values.foreach { g =>
      val ppm = g.map(_.getAs[Long]("token_share_ppm")).sum
      assert(ppm <= 1000000L && ppm > 1000000L - g.length,
        s"ppm shares sum to $ppm over ${g.length} cells")
      assert(g.map(_.getAs[Long]("split_tokens")).distinct.length == 1)
      assert(g.map(_.getAs[Long]("n_tokens")).sum ==
        g.head.getAs[Long]("split_tokens"))
    }
  }

  test("dataSplitCluster keeps whole near-dup clusters in one split") {
    import graft.operators.Dedup
    val res = Curation.dataSplitCluster(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("canonical_id"),
        r.getAs[String]("split")))
    val clusters = Dedup.dedupCanonical(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    // TOTAL over the corpus: every document is assigned, including
    // the majority with no embedding (an inner join on the canonical
    // map would drop them — the regression this line exists to catch)
    val allDocs = Tables.documents(spark, sfDir).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(res.map(_._1).toSet == allDocs, "every doc assigned")
    assert(clusters.keySet.subsetOf(allDocs))
    // unembedded docs are their own canonical (vacuous at sf0.001
    // where every doc has a vector; the sf0.01/sf0.1 oracle runs hit
    // it on the 60% unembedded majority)
    res.filterNot(r => clusters.contains(r._1)).foreach { case (id, canonId, _) =>
      assert(canonId == id, s"singleton $id got canonical $canonId")
    }
    // cluster cohesion: all members of a cluster share one split
    res.filter(r => clusters.contains(r._1))
      .groupBy(r => clusters(r._1)).values.foreach { g =>
      assert(g.map(_._3).distinct.length == 1,
        s"cluster split apart: ${g.toSeq}")
    }
    // the assignment is the REPRESENTATIVE's content split: each
    // canonical doc (and so every singleton) gets exactly what
    // dataSplit gives it
    val base = Curation.dataSplit(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    res.foreach { case (_, canonId, split) =>
      assert(split == base(canonId),
        s"canonical $canonId: cluster split $split != content split ${base(canonId)}")
    }
  }

  test("ngramNovelty: planted copies and overlaps hit exact first-seen counts") {
    import spark.implicits._
    val w = (1 to 12).map(i => s"w$i").mkString(" ")   // 12 words → 5 8-grams
    val tail = (1 to 7).map(i => s"t$i").mkString(" ")
    val docs = Seq(
      (10L, w),                 // first: all 5 grams novel
      (11L, w),                 // verbatim copy: 0 novel
      (12L, s"w5 w6 w7 w8 w9 w10 w11 w12 $tail"), // 15 words → 8 grams;
                                // gram 0 = doc 10's last gram (seen),
                                // the other 7 contain t-words (novel)
      (13L, "too short for any gram")
    ).toDF("doc_id", "text")
    val rows = Curation.ngramNoveltyDocs(docs).collect()
    val res = rows.map(r => r.getAs[Long]("doc_id") ->
      ((r.getAs[Long]("n_grams"), r.getAs[Long]("n_novel")))).toMap
    assert(res(10L) == ((5L, 5L)))
    assert(res(11L) == ((5L, 0L)), "a verbatim copy must score zero novelty")
    assert(res(12L) == ((8L, 7L)), "the shared leading 8-gram is not novel")
    assert(res(13L) == ((0L, 0L)))
    val ppm = rows
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[java.lang.Long]("novelty_ppm")).toMap
    assert(ppm(10L) == 1000000L && ppm(11L) == 0L && ppm(13L) == null)
    assert(ppm(12L) == 7L * 1000000L / 8L)
    // corpus sanity: ppm bounded, and every gram's min-id doc is novel
    // by definition — so the min-doc_id document is always fully novel
    val corpus = Curation.ngramNovelty(spark, sfDir).collect()
    assert(corpus.forall { r =>
      val p = r.getAs[java.lang.Long]("novelty_ppm")
      p == null || (p >= 0L && p <= 1000000L)
    })
    val firstWithGrams = corpus.filter(_.getAs[Long]("n_grams") > 0)
      .minBy(_.getAs[Long]("doc_id"))
    assert(firstWithGrams.getAs[Long]("n_novel") ==
      firstWithGrams.getAs[Long]("n_grams"))
  }

  test("packStats reconciles with the pack output and the budget arithmetic") {
    val budget = Curation.PackBudget
    val s = Curation.packStats(spark, sfDir).collect() match {
      case Array(row) => row
      case other => fail(s"expected one summary row, got ${other.length}")
    }
    val packed = Curation.packSequences(spark, sfDir).collect()
    val nDocs = packed.length.toLong
    val total = packed.map(_.getAs[Long]("n_tokens")).sum
    val spans = packed.map { r =>
      val n = r.getAs[Long]("n_tokens"); val st = r.getAs[Long]("start_offset")
      if (n > 0) (st + n - 1) / budget - st / budget + 1 else 1L
    }
    assert(s.getAs[Long]("n_docs") == nDocs)
    assert(s.getAs[Long]("total_tokens") == total)
    assert(s.getAs[Long]("n_sequences") == (total + budget - 1) / budget)
    assert(s.getAs[Long]("n_docs_split") == spans.count(_ > 1).toLong)
    assert(s.getAs[Long]("split_ppm") ==
      spans.count(_ > 1).toLong * 1000000L / nDocs)
    assert(s.getAs[Long]("max_seqs_spanned") == spans.max)
    val tail = total % budget
    assert(s.getAs[Long]("tail_fill_ppm") ==
      (if (tail == 0) 1000000L else tail * 1000000L / budget))
    // the fixture must actually exercise boundary splits
    assert(s.getAs[Long]("n_docs_split") > 0)
  }

  test("decontaminateFrac: planted overlap fractions are exact and flags obey the bar") {
    import spark.implicits._
    val evalText = (1 to 20).map(i => s"eval$i").mkString(" ")
    val half = (1 to 8).map(i => s"eval$i").mkString(" ") + " " +
      (1 to 5).map(i => s"own$i").mkString(" ")
    val docs = Seq(
      (0L, evalText),                                   // eval probe
      (10L, evalText),                                  // verbatim copy: ppm 1000000
      (11L, half),                                      // 6 docs grams, 1 shared
      (12L, (1 to 20).map(i => s"clean$i").mkString(" ")), // zero overlap
      (13L, "too short doc")                            // < 8 words: 0 grams
    ).toDF("doc_id", "text")
    val got = Curation.decontaminateFracDocs(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got.keySet == Set(10L, 11L, 12L, 13L))
    assert(got(10L).getAs[Long]("n_grams") == 13L)      // 20 words → 13 8-grams
    assert(got(10L).getAs[Long]("n_shared") == 13L)
    assert(got(10L).getAs[Long]("contam_ppm") == 1000000L)
    assert(got(10L).getAs[Boolean]("flagged"))
    // half: 13 words → 6 grams; only "eval1..eval8" = gram at pos 0
    assert(got(11L).getAs[Long]("n_grams") == 6L)
    assert(got(11L).getAs[Long]("n_shared") == 1L)
    assert(got(11L).getAs[Long]("contam_ppm") == 1000000L / 6L)
    assert(got(11L).getAs[Boolean]("flagged"))          // 166666 >= 50000
    assert(got(12L).getAs[Long]("n_shared") == 0L &&
      !got(12L).getAs[Boolean]("flagged"))
    assert(got(13L).getAs[Long]("n_grams") == 0L &&
      got(13L).isNullAt(got(13L).fieldIndex("contam_ppm")) &&
      !got(13L).getAs[Boolean]("flagged"))
    // coupling with the any-hit surface on the real corpus: the docs
    // decontaminate reports are exactly the n_shared > 0 docs here,
    // with identical shared counts (shared gram kernel)
    val anyHit = Curation.decontaminate(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val frac = Curation.decontaminateFrac(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("n_shared")).toMap
    assert(frac.filter(_._2 > 0) == anyHit)
  }

  test("c4Filters: every line and page rule fires on crafted docs") {
    import spark.implicits._
    val keepLine = "This line has five words."
    val docs = Seq(
      // 5 good sentences → page kept
      (1L, (1 to 5).map(i => s"Good sentence number $i here.").mkString("\n")),
      // good lines but only 4 sentences → dropped at the page gate
      (2L, (1 to 4).map(i => s"Good sentence number $i here.").mkString("\n")),
      // line rules: no terminal punct / <3 words / javascript mention
      (3L, Seq(keepLine, "no terminal punctuation here",
        "Too short.", "Enable JavaScript to continue viewing.",
        keepLine, keepLine, keepLine, keepLine).mkString("\n")),
      // page gates: lorem ipsum and curly bracket
      (4L, (1 to 5).map(_ => keepLine).mkString("\n") + "\nLorem ipsum dolor sit amet."),
      (5L, (1 to 5).map(_ => keepLine).mkString("\n") + "\nif (x) { return; }")
    ).toDF("doc_id", "text")
    val got = Curation.c4FiltersDocs(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getAs[Long]("n_kept_lines") == 5L &&
      got(1L).getAs[Long]("n_sentences") == 5L &&
      got(1L).getAs[Boolean]("keep_doc"))
    assert(got(2L).getAs[Long]("n_sentences") == 4L &&
      !got(2L).getAs[Boolean]("keep_doc"))
    // doc 3: 8 lines, the three bad ones drop (including the one that
    // ends in '.' but has <3 words, and the js line despite its '.')
    assert(got(3L).getAs[Long]("n_lines") == 8L)
    assert(got(3L).getAs[Long]("n_kept_lines") == 5L)
    assert(got(3L).getAs[Long]("n_sentences") == 5L &&
      got(3L).getAs[Boolean]("keep_doc"))
    assert(got(4L).getAs[Boolean]("has_lorem") &&
      !got(4L).getAs[Boolean]("keep_doc") &&
      got(4L).getAs[Long]("n_sentences") >= 5L)
    assert(got(5L).getAs[Boolean]("has_curly") &&
      !got(5L).getAs[Boolean]("keep_doc"))
    // the punctuation-free shipped corpus drops everything at the
    // line gate — the documented degeneracy
    val real = Curation.c4Filters(spark, sfDir).collect()
    assert(real.nonEmpty)
    assert(real.forall(r => r.getAs[Long]("n_kept_lines") == 0L &&
      !r.getAs[Boolean]("keep_doc")))
  }

  test("packBestFit: whole docs, bins within budget, < 2x the lower bound") {
    val budget = Curation.PackBudget
    val rows = Curation.packBestFit(spark, sfDir).collect()
    val nDocs = Tables.documents(spark, sfDir).count()
    assert(rows.length == nDocs, "every doc must pack exactly once")
    assert(rows.map(_.getLong(0)).distinct.length == rows.length)
    // per bin: items tile the bin in index order, offsets are the
    // prefix sums, total within budget
    val byBin = rows.groupBy(_.getAs[Long]("bin_id"))
    byBin.foreach { case (bin, items) =>
      val sorted = items.sortBy(_.getAs[Long]("item_in_bin"))
      assert(sorted.map(_.getAs[Long]("item_in_bin")).toSeq ==
        sorted.indices.map(_.toLong), s"bin $bin: item indices not contiguous")
      var off = 0L
      sorted.foreach { it =>
        assert(it.getAs[Long]("offset_in_bin") == off,
          s"bin $bin: offset drift at item ${it.getAs[Long]("item_in_bin")}")
        off += it.getAs[Long]("len")
      }
      assert(off <= budget, s"bin $bin overflows: $off > $budget")
    }
    // a bin closes only when nothing fits its residual → bins < 2·OPT+1
    val total = rows.map(_.getAs[Long]("len")).sum
    val lowerBound = (total + budget - 1) / budget
    assert(byBin.size <= 2 * lowerBound + 1,
      s"${byBin.size} bins vs lower bound $lowerBound")
    // determinism across invocations
    val again = Curation.packBestFit(spark, sfDir).collect()
    assert(rows.map(_.toString).sameElements(again.map(_.toString)))
  }

  test("pack/modal recounts: conservation vs raw corpus, invariants all true") {
    val budget = Curation.PackBudget
    val nTok = Tables.documents(spark, sfDir)
      .select(size(split(trim(col("text")), "[ \\t\\n\\f\\r]+")).cast("long"))
      .collect().map(_.getLong(0))
    val r = Curation.packBestFitRecount(spark, sfDir).collect().head
    assert(r.getAs[Long]("n_docs") == nTok.length)
    assert(r.getAs[Long]("total_len") ==
      nTok.map(t => math.min(math.max(t, 1L), budget)).sum)
    assert(r.getAs[Long]("n_truncated") == nTok.count(_ > budget))
    assert(r.getAs[Boolean]("bins_within_budget")
      && r.getAs[Boolean]("offsets_ok") && r.getAs[Boolean]("slots_dense"))
    val m = Curation.modalBatchesRecount(spark, sfDir).collect()
    assert(m.map(_.getAs[String]("modality")).toSeq.sorted ==
      Seq("audio", "image", "video"))
    assert(m.map(_.getAs[Long]("n_items")).sum == nTok.length)
    m.foreach(row => assert(row.getAs[Boolean]("batches_within_budget")
      && row.getAs[Boolean]("offsets_ok")
      && row.getAs[Boolean]("slots_dense"),
      s"${row.getAs[String]("modality")}: invariant violated"))
  }

  test("docPrioTop is the ascending head of the shared sampling hash") {
    val all = Tables.documents(spark, sfDir)
      .select("doc_id").collect().map(_.getLong(0))
    def prio(d: Long) = d % 1000003L * 2654435761L % 1000000L
    val expect = all.map(d => (prio(d), d)).sorted.take(200).toSeq
    val got = Curation.docPrioTop(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("prio"), r.getAs[Long]("doc_id"))).toSeq
    assert(got == expect, "docPrioTop must replay the driver hash order")
  }

  test("packBestFit truncates oversized docs and packs planted lengths whole") {
    import spark.implicits._
    val budget = Curation.PackBudget
    def docOf(id: Long, n: Int) = (id, (1 to n).map(i => s"w$i").mkString(" "))
    val docs = Seq(
      docOf(1L, 1200), docOf(2L, 900), docOf(3L, 800), docOf(4L, 500),
      docOf(5L, 300), docOf(6L, 100),
      docOf(7L, (budget + 52).toInt), // oversized → truncated, alone
      (8L, ""), (9L, null.asInstanceOf[String]) // degenerate lengths —
        // the pack must stay TOTAL (each occupies one unit, never
        // silently dropped by the directory join)
    ).toDF("doc_id", "text")
    val got = Curation.packBestFitDocs(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got.size == 9, "every doc (incl. empty/null text) must pack")
    assert(got(9L).getAs[Long]("len") == 1L)
    val big = got(7L)
    assert(big.getAs[Boolean]("truncated"))
    assert(big.getAs[Long]("len") == budget)
    assert(big.getAs[Long]("n_tokens") == budget + 52)
    // the truncated doc fills its bin exactly — nothing can join it
    assert(got.values.count(_.getAs[Long]("bin_id") ==
      big.getAs[Long]("bin_id")) == 1)
    got.values.filterNot(_ eq big).foreach(r =>
      assert(!r.getAs[Boolean]("truncated")))
    // no bin overflows and every doc lands whole
    got.values.groupBy(_.getAs[Long]("bin_id")).foreach { case (_, items) =>
      assert(items.map(_.getAs[Long]("len")).sum <= budget)
    }
  }

  test("modalBatches: single-modality batches tile within the byte budget") {
    val budget = Curation.ModalBatchBytes
    val rows = Curation.modalBatches(spark, sfDir).collect()
    val nDocs = Tables.documents(spark, sfDir).count()
    assert(rows.length == nDocs, "every payload must batch exactly once")
    // batches never mix modalities, tile in order, and fit the budget
    rows.groupBy(r => (r.getAs[String]("modality"), r.getAs[Long]("batch_id")))
      .foreach { case ((mod, b), items) =>
        val sorted = items.sortBy(_.getAs[Long]("item_in_batch"))
        assert(sorted.map(_.getAs[Long]("item_in_batch")).toSeq ==
          sorted.indices.map(_.toLong), s"$mod/$b: slots not contiguous")
        var off = 0L
        sorted.foreach { it =>
          assert(it.getAs[Long]("offset_bytes") == off, s"$mod/$b offset")
          off += math.min(it.getAs[Long]("n_bytes"), budget)
        }
        assert(off <= budget, s"$mod/$b overflows: $off")
      }
    // per modality: the 2-OPT bin bound the greedy guarantees
    rows.groupBy(_.getAs[String]("modality")).foreach { case (mod, items) =>
      val total = items.map(r => math.min(r.getAs[Long]("n_bytes"), budget)).sum
      val lower = (total + budget - 1) / budget
      val batches = items.map(_.getAs[Long]("batch_id")).distinct.length
      assert(batches <= 2 * lower + 1, s"$mod: $batches vs bound $lower")
    }
    // byte sizes AND modality labels agree with the multimodal
    // metadata surface (one shared modality rule — drift is a bug)
    val meta = graft.operators.Multimodal.multimodalMeta(spark, sfDir)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_bytes"), r.getAs[String]("modality"))).toMap
    rows.foreach { r =>
      val (nb, mod) = meta(r.getLong(0))
      assert(r.getAs[Long]("n_bytes") == nb)
      assert(r.getAs[String]("modality") == mod, "modality rule drift")
    }
    // deterministic
    val again = Curation.modalBatches(spark, sfDir).collect()
    assert(rows.map(_.toString).sameElements(again.map(_.toString)))
  }

  test("packStats on an empty corpus reports NULL ratios, not an error") {
    // the cross-engine edge contract: DuckDB raises on // 0, so both
    // duals guard the ppm with an explicit CASE → one row of NULLs
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val s = Curation.packStatsDocs(empty).collect() match {
      case Array(row) => row
      case other => fail(s"expected one summary row, got ${other.length}")
    }
    assert(s.getAs[Long]("n_docs") == 0L)
    assert(s.isNullAt(s.fieldIndex("split_ppm")))
    assert(s.isNullAt(s.fieldIndex("tail_fill_ppm")))
  }

  test("splitLeakage: content keying closes exact, cluster keying closes both") {
    import graft.operators.Dedup
    val rows = Curation.splitLeakage(spark, sfDir).collect()
      .map(r => r.getAs[String]("strategy") ->
        ((r.getAs[Long]("exact_leaked_groups"),
          r.getAs[Long]("cluster_leaked_clusters")))).toMap
    assert(rows.keySet == Set("id_hash", "content_hash", "cluster_content"))
    assert(rows("content_hash")._1 == 0,
      "content keying must close the exact channel by construction")
    assert(rows("cluster_content")._2 == 0,
      "cluster keying must close the cluster channel by construction")
    // the exact channel under cluster keying is MEASURED, not assumed:
    // an embedded doc follows its representative's bucket, so a
    // byte-identical twin outside its cluster could in principle
    // diverge — recount it driver-side off the actual assignment
    val cSplit = Curation.dataSplitCluster(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    val texts = Tables.documents(spark, sfDir).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val exactLeakClu = texts.groupBy(_._2)
      .count { case (_, g) => g.map(d => cSplit(d._1)).toSet.size > 1 }
    assert(rows("cluster_content")._1 == exactLeakClu.toLong,
      "cluster-strategy exact channel diverges from the assignment recount")
    // driver-side recount of the cluster channel under the content
    // strategy: group ALL docs (unembedded ones as 'd'-singletons,
    // which can never leak) by cluster and count split straddles
    val split = Curation.dataSplit(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    val clus = Dedup.dedupCanonical(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    val leaked = split.keys.groupBy(id =>
        clus.get(id).map("c" + _).getOrElse("d" + id))
      .count { case (_, ids) => ids.map(split).toSet.size > 1 }
    assert(rows("content_hash")._2 == leaked.toLong,
      "cluster-channel leak count diverges from a driver-side recount")
  }

  test("DSIR resample draws the Gumbel top-quarter, enriching the target domain") {
    val docs = Tables.documents(spark, sfDir)
    val n = docs.count()
    val sel = Curation.dsirResample(spark, sfDir).collect()
    assert(sel.length.toLong == n / 4, s"${sel.length} selected of $n")
    // the draw is exactly the top-k of log_weight + Gumbel(u) with the
    // documented deterministic uniforms — recompute it driver-side
    val w = Curation.importanceWeights(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("log_weight")).toMap
    def key(id: Long): Double = {
      val u = ((id % 1000003L) * 2654435761L % 1000000L + 0.5) / 1e6
      BigDecimal(w(id) - math.log(-math.log(u)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val expect = w.keys.toSeq.sortBy(id => (-key(id), id)).take((n / 4).toInt)
    assert(sel.map(_.getAs[Long]("doc_id")).toSet == expect.toSet,
      "selected set is not the Gumbel top-k of the importance weights")
    sel.foreach { r =>
      assert(math.abs(r.getAs[Double]("sample_key")
        - key(r.getAs[Long]("doc_id"))) < 1e-9)
    }
    // resampling ∝ exp(weight) must ENRICH the target domain relative
    // to its corpus share — the entire point of the draw
    val src = docs.select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val corpusShare = src.values.count(_ == "src0").toDouble / src.size
    val selShare = sel.count(r =>
      src(r.getAs[Long]("doc_id")) == "src0").toDouble / sel.length
    assert(selShare > corpusShare,
      s"target share $selShare !> corpus share $corpusShare")
  }

  test("hashed DSIR features see word order (bigrams)") {
    import spark.implicits._
    // target phrasing "alpha beta", off-domain phrasing reversed; the
    // probe pair shares one unigram multiset and differs only in
    // order — a unigram model scores them identically, the bigram
    // features must prefer the target's phrasing
    val docs = (Seq.tabulate(20)(i => (i.toLong, "alpha beta " * 30, "src0")) ++
      Seq.tabulate(20)(i => ((100 + i).toLong, "beta alpha " * 30, "srcX")) ++
      Seq((200L, "alpha beta alpha beta", "srcY"),
        (201L, "beta alpha beta alpha", "srcY")))
      .toDF("doc_id", "text", "source")
    val model = Curation.hashedImportanceModel(docs)
    val scores = Curation.hashedImportanceScore(
      docs.filter(col("doc_id") >= 200L), model)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("log_weight"))
      .toMap
    assert(scores(200L) > scores(201L),
      s"order-insensitive scores: $scores")
  }

  test("quality classifier: monotone descent, held-out separation, every doc scored") {
    import graft.operators.Classifier
    val docs = Tables.documents(spark, sfDir)
    val train = docs.filter(pmod(xxhash64(col("doc_id")), lit(5L)) =!= 0L)
    val (_, losses) = Classifier.fit(Classifier.featurize(train))
    // the default step is inside the smoothness bound (fit scaladoc),
    // so descent must be MONOTONE, not merely net-negative
    losses.sliding(2).foreach { w =>
      assert(w(1) <= w(0) + 1e-9, s"loss rose ${w(0)} -> ${w(1)}") }
    assert(losses.last < 0.45,
      s"weighted log-loss ${losses.last} barely moved from ln 2 = ${losses.head}")
    val res = Classifier.qualityClassifier(spark, sfDir).collect()
    assert(res.length == docs.count(), "every doc gets a verdict")
    val ho = res.filter(_.getAs[Boolean]("is_holdout"))
    val hoAcc = ho.count(r => r.getAs[Boolean]("pred_target") ==
      r.getAs[Boolean]("is_target")).toDouble / ho.length
    val t = res.filter(_.getAs[Boolean]("is_target"))
    val nt = res.filter(!_.getAs[Boolean]("is_target"))
    val recT = t.count(_.getAs[Boolean]("pred_target")).toDouble / t.length
    val recNT = nt.count(!_.getAs[Boolean]("pred_target")).toDouble / nt.length
    val sep = t.map(_.getAs[Double]("prob")).sum / t.length -
      nt.map(_.getAs[Double]("prob")).sum / nt.length
    // measured @ sf0.001: holdout acc 0.898, recall 0.68/0.983,
    // mean-prob separation 0.39 (ClfProbe; deterministic fit)
    assert(hoAcc >= 0.8, s"held-out accuracy $hoAcc")
    assert(recT >= 0.55, s"seed-domain recall $recT")
    assert(recNT >= 0.9, s"off-domain recall $recNT")
    assert(sep >= 0.25, s"mean-prob separation $sep")
  }

  test("classifier model save/load round-trips bit-identically") {
    import graft.operators.Classifier
    val docs = Tables.documents(spark, sfDir)
    val (model, _) = Classifier.fit(Classifier.featurize(docs))
    val path = java.nio.file.Files
      .createTempDirectory("clf_model").toString + "/m"
    Classifier.saveModel(spark, model, path)
    val loaded = Classifier.loadModel(spark, path)
    assert(loaded.sameElements(model), "loaded weights differ")
    val fresh = Classifier.classifierScore(docs, model)
      .collect().map(_.toSeq).toSet
    val served = Classifier.classifierScore(docs, loaded)
      .collect().map(_.toSeq).toSet
    assert(served == fresh, "serve-from-disk scores diverged")
  }

  test("classifier driver fast-path fits bit-identically to the distributed loop") {
    // the round-14 count-guarded driver path must replay the SAME
    // per-partition folds in the same order as the distributed loop —
    // weights and per-iteration losses must agree to the BIT, or the
    // maintenance spec's cross-context refit guarantee silently
    // depends on which side of the size guard a corpus falls
    import graft.operators.Classifier
    val feats = Classifier.featurize(Tables.documents(spark, sfDir))
    val (wFast, lFast) = Classifier.fit(feats, iters = 25)
    val (wDist, lDist) = Classifier.fit(feats, iters = 25,
      driverFitMaxDocs = 0L) // force the distributed loop
    assert(wFast.sameElements(wDist),
      "driver fast-path weights diverged from the distributed loop")
    assert(lFast.sameElements(lDist),
      "driver fast-path losses diverged from the distributed loop")
  }

  test("classifier and DSIR tiers rank-agree; percentiles re-code their scores") {
    import graft.operators.Classifier
    val res = Classifier.clfDsirAgreement(spark, sfDir).collect()
    assert(res.length == Tables.documents(spark, sfDir).count(),
      "every doc gets an agreement row")
    // percentile columns are monotone re-codings of their raw scores
    for ((score, pct) <- Seq("clf_prob" -> "clf_pctile", "dsir_lpt" -> "dsir_pctile")) {
      res.sortBy(_.getAs[Double](score)).toSeq.sliding(2).foreach { w =>
        assert(w(0).getAs[Int](pct) <= w(1).getAs[Int](pct),
          s"$pct not monotone in $score") }
    }
    // Spearman rank agreement between the two tiers (average ranks on
    // ties) — the models share one feature space and one target
    // domain, so their orderings must largely agree
    def ranks(xs: Array[Double]): Array[Double] = {
      val idx = xs.zipWithIndex.sortBy(_._1)
      val out = new Array[Double](xs.length)
      var i = 0
      while (i < idx.length) {
        var j = i
        while (j + 1 < idx.length && idx(j + 1)._1 == idx(i)._1) j += 1
        val avg = (i + j) / 2.0 + 1.0
        (i to j).foreach(k => out(idx(k)._2) = avg)
        i = j + 1
      }
      out
    }
    val a = ranks(res.map(_.getAs[Double]("clf_prob")))
    val b = ranks(res.map(_.getAs[Double]("dsir_lpt")))
    val n = a.length
    val ma = a.sum / n; val mb = b.sum / n
    val rho = a.indices.map(i => (a(i) - ma) * (b(i) - mb)).sum /
      math.sqrt(a.indices.map(i => (a(i) - ma) * (a(i) - ma)).sum *
        a.indices.map(i => (b(i) - mb) * (b(i) - mb)).sum)
    val gaps = res.map(_.getAs[Int]("pctile_gap")).sorted
    info(f"spearman rho = $rho%.3f, gap p50=${gaps(n / 2)} p90=${gaps(n * 9 / 10)}")
    assert(rho >= 0.5, s"rank agreement collapsed: rho = $rho")
    assert(gaps(n / 2) <= 25, s"median percentile gap ${gaps(n / 2)}")
  }

  test("gopherQuality judges each rule on crafted documents") {
    import spark.implicits._
    val good = ("the analytics engine and the scheduler have to " +
      "coordinate with care so that every batch of work lands " +
      "exactly once and the output stays stable over time ") * 2
    val docs = Seq(
      (1L, good),                                   // passes all rules
      (2L, "short doc that ends here"),             // < 50 words
      (3L, ("a " * 60).trim),                       // mean word len < 3, 1 stop word
      (4L, good.replaceAll("\\w+", "#####")),       // symbols, no alpha
      (5L, (1 to 60).map(i => s"- bullet $i line").mkString("\n")), // bullets
      (6L, good + "\nmore...\nagain...\ntrail..."))  // some ellipsis lines
      .toDF("doc_id", "text")
    val out = Curation.gopherQualityDocs(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1).getAs[Boolean]("keep_doc"))
    assert(!out(2).getAs[Boolean]("keep_doc") && out(2).getAs[Int]("n_words") < 50)
    assert(!out(3).getAs[Boolean]("keep_doc") &&
      out(3).getAs[Double]("mean_word_len") < 3.0)
    assert(!out(4).getAs[Boolean]("keep_doc") &&
      out(4).getAs[Double]("alpha_frac") < 0.8 &&
      out(4).getAs[Double]("symbol_ratio") >= 0.1)
    assert(!out(5).getAs[Boolean]("keep_doc") &&
      out(5).getAs[Double]("bullet_frac") >= 0.9)
    // doc 6: 3 ellipsis lines of 4 total = 0.75 ≥ 0.3 → dropped
    assert(!out(6).getAs[Boolean]("keep_doc") &&
      out(6).getAs[Double]("ellipsis_frac") >= 0.3)
  }

  test("lineDedup keeps only first occurrences of corpus-repeated lines") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha\nshared line\nbeta"),
      (2L, "shared line\ngamma\n\n  "),   // dup of doc 1's line + blanks
      (3L, "delta\nshared line\ndelta"),  // corpus dup AND self dup
      (4L, "   \n\n")).toDF("doc_id", "text") // only blanks
    val out = Curation.lineDedupDocs(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1).getAs[String]("text_kept") == "alpha\nshared line\nbeta")
    assert(out(2).getAs[Long]("n_lines") == 2 &&
      out(2).getAs[Long]("n_kept") == 1 &&
      out(2).getAs[String]("text_kept") == "gamma")
    assert(out(3).getAs[Long]("n_kept") == 1 &&
      out(3).getAs[String]("text_kept") == "delta")
    assert(out(4).getAs[Long]("n_lines") == 0 &&
      out(4).getAs[String]("text_kept") == "")
  }

  test("spanDedup counts corpus-repeated word 5-gram spans") {
    import spark.implicits._
    val docs = Seq(
      (1L, "one two three four five six"),   // spans: 2, both first
      (2L, "one two three four five again"), // 1 of 2 spans duplicated
      (3L, "totally different words in this doc"),
      (4L, "tiny doc")).toDF("doc_id", "text") // < 5 words → no row
    val out = Curation.spanDedupDocs(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1).getAs[Long]("n_spans") == 2 &&
      out(1).getAs[Long]("n_dup_spans") == 0)
    assert(out(2).getAs[Long]("n_spans") == 2 &&
      out(2).getAs[Long]("n_dup_spans") == 1 &&
      out(2).getAs[Double]("dup_span_frac") == 0.5)
    assert(out(3).getAs[Long]("n_dup_spans") == 0)
    assert(!out.contains(4L))
    // and on the synthetic corpus the repeated-span mass is non-zero
    val corpus = Curation.spanDedup(spark, sfDir)
    assert(corpus.agg(sum("n_dup_spans")).head.getLong(0) > 0)
  }

  test("domainStats token shares sum to one over all sources") {
    val df = Curation.domainStats(spark, sfDir).collect()
    assert(df.nonEmpty)
    val shareSum = df.map(_.getAs[Double]("token_share")).sum
    assert(math.abs(shareSum - 1.0) < 1e-9, s"shares sum to $shareSum")
    assert(df.map(_.getAs[Long]("n_docs")).sum ==
      Tables.documents(spark, sfDir).count())
  }

  test("mixtureSample keeps the smallest source whole, downsamples the rest") {
    val rates = Curation.mixtureSample(spark, sfDir)
      .select("source", "accept_ppm").distinct().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // normalization: the min-token source accepts everything
    assert(rates.values.max == 1000000L)
    assert(rates.values.forall(r => r > 0 && r <= 1000000L))
    // temperature 0.5 ordering: more tokens → lower acceptance
    val toks = Curation.domainStats(spark, sfDir).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("n_tokens")).toMap
    val bySize = toks.toSeq.sortBy(_._2).map(_._1)
    val ratesBySize = bySize.flatMap(rates.get)
    assert(ratesBySize.zip(ratesBySize.tail).forall { case (a, b) => a >= b },
      s"rates must be antitone in source size: $ratesBySize")
    // determinism
    val again = Curation.mixtureSample(spark, sfDir).count()
    assert(again == Curation.mixtureSample(spark, sfDir).count())
  }

  test("epochMix waterfills the budget under the epoch cap") {
    import spark.implicits._
    // corpus surface: budget fully spent up to floor residue, no
    // source over the cap, epochs antitone in source size (the
    // alpha=0.5 upweighting gives SMALL sources more epochs)
    val plan = Curation.epochMix(spark, sfDir).collect()
    val budget = plan.head.getAs[Long]("budget")
    val spent = plan.map(_.getAs[Long]("alloc_tokens")).sum
    assert(spent <= budget && budget - spent <= plan.length,
      s"budget $budget vs spent $spent: floor residue must be < 1 token/source")
    plan.foreach { r =>
      assert(r.getAs[Long]("alloc_tokens") <= 4 * r.getAs[Long]("n_tokens"))
      assert(r.getAs[Double]("epochs") <= 4.0 + 1e-9)
    }
    val bySize = plan.sortBy(_.getAs[Long]("n_tokens"))
    val eps = bySize.map(_.getAs[Double]("epochs"))
    assert(eps.zip(eps.tail).forall { case (a, b) => a >= b - 1e-9 },
      s"epochs must be antitone in source size: ${eps.toSeq}")
    // skewed frame: a tiny source must SATURATE at the cap and the
    // uncapped remainder split the leftover in weight proportion
    def frame(rows: (String, Int)*) = rows.toSeq.flatMap { case (s, n) =>
      Seq.tabulate(n)(i => (s, "a b c d e"))
    }.toDF("source", "text")
    // two near-equal big sources stay uncapped (verified by hand:
    // lambda = (B - cap_tiny)/(w_b1 + w_b2) ~ 114 sits inside the
    // [r_tiny, r_big2] bracket); a mid-sized third would cap too
    val skew = Curation.epochMixDocs(
      frame("tiny" -> 2, "big1" -> 300, "big2" -> 280), epochCap = 4,
      budgetMult = 3).collect().map(r => r.getString(0) -> r).toMap
    assert(skew("tiny").getAs[Boolean]("capped"),
      "the tiny source must saturate under sqrt upweighting")
    assert(skew("tiny").getAs[Long]("alloc_tokens") ==
      4 * skew("tiny").getAs[Long]("n_tokens"))
    assert(!skew("big1").getAs[Boolean]("capped"))
    assert(!skew("big2").getAs[Boolean]("capped"))
    // uncapped allocations are proportional to the micro weights
    val rb = skew("big1").getAs[Long]("alloc_tokens").toDouble /
      skew("big1").getAs[Long]("w_micro")
    val rm = skew("big2").getAs[Long]("alloc_tokens").toDouble /
      skew("big2").getAs[Long]("w_micro")
    assert(math.abs(rb - rm) / rb < 1e-3,
      s"uncapped sources must split by weight: $rb vs $rm")
    // infeasible: budget above the cap supply -> every source capped
    val over = Curation.epochMixDocs(
      frame("a" -> 10, "b" -> 20), epochCap = 2, budgetMult = 3).collect()
    assert(over.forall(_.getAs[Boolean]("capped")))
    over.foreach(r => assert(r.getAs[Long]("alloc_tokens") ==
      2 * r.getAs[Long]("n_tokens")))
    // a zero-token source (whitespace-only docs) is DROPPED rather
    // than poisoning the bracket search with w_micro=0 → r = 0/0 NaN
    val wsRows = Seq.tabulate(10)(_ => ("a", "a b c d e")) :+
      (("ws", "  \t ")) :+ (("ws", ""))
    val ws = Curation.epochMixDocs(wsRows.toDF("source", "text")).collect()
    assert(ws.map(_.getString(0)).toSeq == Seq("a"),
      "whitespace-only source must drop from the plan")
    assert(ws.forall(r => !r.getAs[Double]("epochs").isNaN))
  }

  test("bm25 ranks term-dense short docs above term-free docs") {
    import spark.implicits._
    val out = graft.operators.TextOps.bm25(spark, sfDir).collect()
    assert(out.length == 20)
    assert(out.map(_.getAs[Int]("rank")).toSeq == (1 to 20))
    val scores = out.map(_.getAs[Double]("bm25"))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    // every scored-top doc actually contains a query term
    val top = out.map(_.getAs[Long]("doc_id")).toSet
    val withTerm = Tables.documents(spark, sfDir)
      .filter(col("text").rlike("\\b(data|stream|window)\\b"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(top.subsetOf(withTerm))
  }

  test("redactPii scrubs urls, emails, and ssn-shaped numbers") {
    import spark.implicits._
    val df = Seq(
      (1L, "mail me at jane.doe+x@corp.example.com today"),
      (2L, "see https://example.com/a?b=c&d=e for details"),
      (3L, "ssn 123-45-6789 leaked"),
      (4L, "url with mail https://ex.com/u/bob@ex.com trailing"),
      (5L, "nothing sensitive here")).toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
      graft.operators.Curation.redactPii(col("text")).as("clean"),
      graft.operators.Curation.piiCount(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out(1)._1 == "mail me at <REDACTED> today" && out(1)._2 == 1)
    assert(out(2)._1 == "see <REDACTED> for details" && out(2)._2 == 1)
    assert(out(3)._1 == "ssn <REDACTED> leaked" && out(3)._2 == 1)
    // the url (redacted first) swallows the embedded email; the count
    // is per-pattern on the original text, so it reports 2
    assert(out(4)._1 == "url with mail <REDACTED> trailing" && out(4)._2 == 2)
    assert(out(5)._1 == "nothing sensitive here" && out(5)._2 == 0)
  }

  test("q_redact_pii leaves the pii-free synthetic corpus intact") {
    val rows = graft.operators.Curation.redactPiiDocs(spark, sfDir).collect()
    assert(rows.length == Tables.documents(spark, sfDir).count())
    assert(rows.forall(_.getLong(2) == 0L), "synthetic corpus must be pii-free")
  }

  test("piiStats reports per-source class masses and densities") {
    import spark.implicits._
    // corpus surface: pii-free, every source all-zero but tokens real
    val corpus = Curation.piiStats(spark, sfDir).collect()
    assert(corpus.forall(r => r.getAs[Long]("docs_with_pii") == 0L
      && r.getAs[Long]("pii_per_mtok") == 0L))
    assert(corpus.map(_.getAs[Long]("n_tokens")).sum ==
      Curation.domainStats(spark, sfDir).collect()
        .map(_.getAs[Long]("n_tokens")).sum)
    // planted frame: class counts, doc flags, and the density math
    val planted = Seq(
      (1L, "a", "mail jane.doe@corp.example.com and bob@x.io now"),
      (2L, "a", "see https://example.com/a plus ssn 123-45-6789 here"),
      (3L, "a", "one two three four five six seven eight nine ten"),
      (4L, "b", "clean text only")).toDF("doc_id", "source", "text")
    val got = Curation.piiStatsDocs(planted).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    val a = got("a")
    assert(a.getAs[Long]("email_matches") == 2L)
    assert(a.getAs[Long]("url_matches") == 1L)
    assert(a.getAs[Long]("ssn_matches") == 1L)
    assert(a.getAs[Long]("docs_with_pii") == 2L)
    assert(a.getAs[Long]("pii_docs_ppm") == 2L * 1000000L / 3L)
    assert(a.getAs[Long]("pii_per_mtok") ==
      4L * 1000000L / a.getAs[Long]("n_tokens"))
    val b = got("b")
    assert(b.getAs[Long]("docs_with_pii") == 0L
      && b.getAs[Long]("pii_docs_ppm") == 0L)
  }

  test("weightedSample replays priority sampling and keeps every w >= tau") {
    val docs = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "source", "n_chars").collect()
      .map(r => (r.getAs[Number]("doc_id").longValue(), r.getString(1),
        r.getAs[Number]("n_chars").longValue()))
    val md = java.security.MessageDigest.getInstance("MD5")
    def u(docId: Long): Double = {
      val hex = md.digest(docId.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(12)
      (java.lang.Long.parseLong(hex, 16).toDouble + 1.0) / 281474976710656.0
    }
    val bySrc = docs.groupBy(_._2).map { case (src, g) =>
      val ranked = g.map { case (id, _, nc) =>
        val w = (nc + 1).toDouble
        (id, w, w / u(id))
      }.sortBy { case (id, _, q) => (-q, id) }
      val tau = if (ranked.length > 10) Some(ranked(10)._3) else None
      src -> (ranked.take(10), tau, ranked)
    }
    val got = Curation.weightedSample(spark, sfDir).collect()
    assert(got.length == bySrc.values.map(_._1.length).sum)
    got.groupBy(_.getString(0)).foreach { case (src, rows) =>
      val (expTop, tau, all) = bySrc(src)
      val sorted = rows.sortBy(_.getAs[Int]("rk"))
      sorted.zip(expTop).foreach { case (r, (id, w, q)) =>
        assert(r.getAs[Number]("doc_id").longValue() == id,
          s"$src rank ${r.getAs[Int]("rk")}")
        assert(r.getAs[Double]("w") == w && r.getAs[Double]("priority") == q)
        val eTau = Option(r.getAs[java.lang.Double]("tau")).map(_.doubleValue)
        assert(eTau == tau, s"$src tau")
        val eW = tau.fold(w)(t => math.max(w, t))
        assert(r.getAs[Double]("w_est") == eW, s"$src w_est for $id")
        tau.foreach(t => assert(q >= t, s"$src kept priority below tau"))
      }
      // the heavy-tail guarantee: u <= 1 makes q >= w, so any doc at
      // least as heavy as the threshold is ALWAYS in the sample
      tau.foreach { t =>
        val kept = expTop.map(_._1).toSet
        all.filter(_._2 >= t).foreach { case (id, _, _) =>
          assert(kept(id), s"$src doc $id with w >= tau missing") }
      }
    }
  }

  test("stratifiedSample is deterministic and hits per-stratum rates") {
    val a = Curation.stratifiedSample(spark, sfDir).collect()
    val b = Curation.stratifiedSample(spark, sfDir).collect()
    assert(a.map(_.toString).sameElements(b.map(_.toString)), "nondeterministic")
    val total = Tables.documents(spark, sfDir)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val sampled = a.groupBy(_.getString(1)).view.mapValues(_.length.toLong).toMap
    val targets = Map("en" -> 0.30, "fr" -> 0.50, "es" -> 0.50, "de" -> 0.50, "zh" -> 0.80)
    targets.foreach { case (lang, rate) =>
      val frac = sampled.getOrElse(lang, 0L).toDouble / total(lang)
      // multiplicative-hash selection over uniform synthetic ids:
      // generous tolerance at small strata (~64-220 docs at sf0.01)
      assert(math.abs(frac - rate) < 0.15, s"$lang sampled $frac, target $rate")
    }
  }

  test("substringDedup excises planted >=50-token repeats, keeps clean docs") {
    import spark.implicits._
    val core = (0 until 60).map(i => s"core$i")     // the repeated span
    val docA = (0 until 30).map(i => s"a$i") ++ core ++ (0 until 30).map(i => s"z$i")
    val docB = core ++ (0 until 60).map(i => s"b$i") // 60-token copy of A's middle
    val docC = (0 until 80).map(i => s"c$i")         // clean
    val docD = docA                                  // full exact copy
    val docs = Seq(
      (1L, docA.mkString(" ")), (2L, docB.mkString(" ")),
      (3L, docC.mkString(" ")), (4L, docD.mkString(" ")),
      (5L, null: String))                            // null-text contract
      .toDF("doc_id", "text")
    val out = Curation.substringDedupDocs(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_words"), r.getAs[Long]("n_removed"),
         r.getAs[String]("text_kept"))).toMap
    // first occurrence (doc 1) keeps everything
    assert(out(1L) == (120L, 0L, docA.mkString(" ")))
    // doc 2 loses exactly the 60 copied tokens, keeps its unique tail
    assert(out(2L)._2 == 60L)
    assert(out(2L)._3 == (0 until 60).map(i => s"b$i").mkString(" "))
    // clean doc untouched
    assert(out(3L) == (80L, 0L, docC.mkString(" ")))
    // the full copy is excised entirely
    assert(out(4L) == (120L, 120L, ""))
    // a null-text doc flows through as empty, same as the exact tier
    assert(out(5L) == (0L, 0L, ""))
    // real corpus: mass conservation + determinism of the fingerprints
    val real = Curation.substringDedup(spark, sfDir).collect()
    assert(real.length == Tables.documents(spark, sfDir).count())
    real.foreach { r =>
      val kept = r.getAs[String]("text_kept")
      val keptWords = if (kept.isEmpty) 0L else kept.split(" ").length.toLong
      assert(keptWords == r.getAs[Long]("n_words") - r.getAs[Long]("n_removed"))
    }
  }

  test("curationFunnel counts reconcile with the per-doc pipeline verdicts") {
    val v = Curation.curationPipeline(spark, sfDir).collect()
    val f = Curation.curationFunnel(spark, sfDir).collect()
      .map(r => r.getAs[String]("stage") ->
        (r.getAs[Long]("n_in"), r.getAs[Long]("n_removed"),
          r.getAs[Long]("n_out"), r.getAs[Long]("n_fail_uncond"))).toMap
    assert(f.keySet == Set("exact_dedup", "gopher_chain", "canonical"))
    val n0 = v.length.toLong
    val s1 = v.count(_.getAs[Boolean]("keep_exact")).toLong
    val s2 = v.count(r => r.getAs[Boolean]("keep_exact") &&
      r.getAs[Boolean]("keep_chain")).toLong
    val s3 = v.count(_.getAs[Boolean]("survived")).toLong
    assert(f("exact_dedup") == ((n0, n0 - s1, s1,
      v.count(!_.getAs[Boolean]("keep_exact")).toLong)))
    assert(f("gopher_chain") == ((s1, s1 - s2, s2,
      v.count(!_.getAs[Boolean]("keep_chain")).toLong)))
    assert(f("canonical") == ((s2, s2 - s3, s3,
      v.count(!_.getAs[Boolean]("is_canonical")).toLong)))
    // the funnel is a chain: each stage's n_in is the previous n_out,
    // and total marginal loss is exactly n0 − survivors
    assert(f("gopher_chain")._1 == f("exact_dedup")._3)
    assert(f("canonical")._1 == f("gopher_chain")._3)
    assert(f.values.map(_._2).sum == n0 - s3)
  }

  test("shardOrder is a deterministic total order keyed by the seeded md5") {
    val rows = Curation.shardOrder(spark, sfDir).collect()
    val nDocs = Tables.documents(spark, sfDir).count()
    // a permutation: every doc exactly once, shards in range
    assert(rows.length == nDocs)
    assert(rows.map(_.getLong(0)).distinct.length == nDocs)
    assert(rows.forall { r =>
      val s = r.getLong(r.fieldIndex("shard")); s >= 0 && s < 8 })
    // the hash IS md5 of the seeded utf-8 input and the shard IS its
    // leading 24 bits mod 8 — recomputed independently on the JVM, so
    // an engine-side change to either silently breaking the
    // cross-round order would fail here, not in production
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach { r =>
      val id = r.getLong(0)
      val hex = md.digest(s"graft:$id".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      assert(r.getAs[String]("sort_key") == hex, s"doc $id: hash drift")
      assert(r.getLong(r.fieldIndex("shard")) ==
        java.lang.Long.parseLong(hex.substring(0, 6), 16) % 8)
    }
    // positions are contiguous ranks of the (key, id) order per shard
    rows.groupBy(_.getLong(1)).foreach { case (_, g) =>
      val sorted = g.sortBy(r => (r.getAs[String]("sort_key"), r.getLong(0)))
      assert(sorted.map(_.getLong(2)).sameElements(1L to g.length.toLong),
        "pos is not the contiguous rank inside the shard")
    }
    // determinism across invocations (a fresh plan, fresh shuffles)
    val again = Curation.shardOrder(spark, sfDir).collect()
    assert(rows.map(_.toString).sameElements(again.map(_.toString)))
  }

  test("spanCorruption round-trips: splicing targets back restores the doc") {
    val texts = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = Curation.spanCorruption(spark, sfDir).collect()
    assert(rows.length == texts.size)
    val sent = "<extra_id_(\\d+)>".r
    var totTok = 0L
    var totMask = 0L
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val orig = texts(id).trim.split("\\s+").toSeq
      assert(r.getAs[Long]("n_tokens") == orig.length, s"$id tokens")
      val corrupted = r.getAs[String]("corrupted").split(" ").toSeq
      val target = r.getAs[String]("target")
      // parse target into span k -> tokens, delimited by sentinels
      val parts = sent.split(target).toSeq.map(_.trim)
        .map(s => if (s.isEmpty) Seq.empty[String] else s.split(" ").toSeq)
      val ks = sent.findAllMatchIn(target).map(_.group(1).toInt).toSeq
      // sentinels are 0..n_spans in order, closing sentinel included
      assert(ks == (0 to r.getAs[Long]("n_spans").toInt), s"$id sentinel ids")
      val spans = ks.dropRight(1).zip(parts.drop(1)).toMap
      // splice: replace each sentinel in the input with its span
      val restored = corrupted.flatMap {
        case sent(k) => spans(k.toInt)
        case w => Seq(w)
      }
      assert(restored == orig, s"$id round trip")
      // masses reconcile
      assert(r.getAs[Long]("n_masked") ==
        spans.values.map(_.length).sum, s"$id mask mass")
      totTok += orig.length
      totMask += r.getAs[Long]("n_masked")
      // spans are non-empty (a sentinel always hides >= 1 token)
      spans.values.foreach(s => assert(s.nonEmpty, s"$id empty span"))
    }
    // corpus mask rate sits at the designed 1/7 (generous band)
    val rate = totMask.toDouble / totTok
    assert(rate > 0.10 && rate < 0.19, s"mask rate $rate off design")
  }

  test("fim round-trips: prefix + middle + suffix restores every doc") {
    val texts = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = Curation.fim(spark, sfDir).collect()
    assert(rows.length == texts.size)
    var nFim = 0
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val orig = texts(id).trim.split("\\s+").toSeq
      assert(r.getAs[Long]("n_tokens") == orig.length, s"$id tokens")
      val out = r.getAs[String]("fim_text")
      if (!r.getAs[Boolean]("is_fim")) {
        assert(out == orig.mkString(" "), s"$id pass-through drift")
        assert(r.isNullAt(r.fieldIndex("cut_a"))
          && r.isNullAt(r.fieldIndex("cut_b")), s"$id cuts must be null")
      } else {
        nFim += 1
        val a = r.getAs[Long]("cut_a")
        val b = r.getAs[Long]("cut_b")
        assert(0 <= a && a <= b && b <= orig.length, s"$id cut bounds")
        // parse PSM: <PRE> prefix <SUF> suffix <MID> middle
        val pre = out.indexOf("<PRE>"); val suf = out.indexOf("<SUF>")
        val mid = out.indexOf("<MID>")
        assert(pre == 0 && suf > 0 && mid > suf, s"$id sentinel order")
        def seg(s: String) =
          if (s.trim.isEmpty) Seq.empty[String] else s.trim.split(" ").toSeq
        val prefix = seg(out.substring(5, suf))
        val suffix = seg(out.substring(suf + 5, mid))
        val middle = seg(out.substring(mid + 5))
        assert(prefix ++ middle ++ suffix == orig, s"$id round trip")
        // the cuts ARE the segment boundaries
        assert(prefix.length == a && middle.length == b - a, s"$id cut use")
      }
    }
    // the designed 0.5 FIM rate (generous band)
    val rate = nFim.toDouble / rows.length
    assert(rate > 0.4 && rate < 0.6, s"fim rate $rate off design")
  }

  private def wsTokens(text: String): Seq[String] =
    text.trim.split("[ \\t\\n\\f\\r]+").filter(_.nonEmpty).toSeq

  test("curriculum replays mean surprisal, global order, and phases") {
    def r(x: Double, s: Int) = BigDecimal(x)
      .setScale(s, BigDecimal.RoundingMode.HALF_UP)
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(x => x.getLong(0) -> wsTokens(x.getString(1))).toMap
    val counts = docs.values.flatten.groupBy(identity)
      .map { case (w, g) => w -> g.size.toLong }
    val total = counts.values.sum.toDouble
    // per-doc difficulty: decimal sum of 12-decimal per-token terms
    val exp = docs.collect { case (id, ws) if ws.nonEmpty =>
      val s = ws.map(w => r(math.log(total / counts(w)), 12)).sum
      id -> (ws.length.toLong, r((s / ws.length).toDouble, 8).toDouble)
    }
    val got = Curation.curriculum(spark, sfDir).collect()
    assert(got.length == exp.size, "one row per tokenized doc")
    val n = got.length.toLong
    got.foreach { row =>
      val (nTok, diff) = exp(row.getLong(0))
      assert(row.getLong(1) == nTok, s"doc ${row.getLong(0)} n_tokens")
      assert(row.getDouble(2) == diff, s"doc ${row.getLong(0)} difficulty")
      // fixed-width quartile arithmetic, NOT SQL ntile
      assert(row.getLong(4) == (row.getLong(3) - 1) * 4 / n + 1,
        s"doc ${row.getLong(0)} phase")
      // the cap doesn't bind on the test corpus, so the OOV ledger
      // must read zero everywhere (capped ≡ uncapped semantics)
      assert(row.getAs[Long]("oov_tokens") == 0L,
        s"doc ${row.getLong(0)} oov_tokens")
    }
    // pos is exactly the (difficulty, doc_id) rank: 1..N, ascending
    val ordered = got.sortBy(r => (r.getDouble(2), r.getLong(0)))
    assert(ordered.map(_.getLong(3)).toSeq == (1L to n).toSeq,
      "pos is the global curriculum rank")
  }

  test("curriculum vocab cap: OOV tokens score the count-1 ceiling") {
    def r(x: Double, s: Int) = BigDecimal(x)
      .setScale(s, BigDecimal.RoundingMode.HALF_UP)
    val docsDf = Tables.documents(spark, sfDir)
    val docs = docsDf.select("doc_id", "text").collect()
      .map(x => x.getLong(0) -> wsTokens(x.getString(1))).toMap
    val counts = docs.values.flatten.groupBy(identity)
      .map { case (w, g) => w -> g.size.toLong }
    // the test corpus vocab sits far under the default cap, so the
    // registered surface equals uncapped semantics (the driver hash
    // already pins that); force a BINDING cap here
    assert(counts.size < Curation.CurriculumVocabCap)
    val cap = counts.size / 2
    val kept = counts.toSeq.sortBy { case (w, c) => (-c, w) }.take(cap).toMap
    val total = counts.values.sum.toDouble
    val exp = docs.collect { case (id, ws) if ws.nonEmpty =>
      val s = ws.map(w =>
        r(math.log(total / kept.getOrElse(w, 1L)), 12)).sum
      id -> r((s / ws.length).toDouble, 8).toDouble
    }
    val capped = Curation.curriculumDocs(docsDf, vocabCap = cap).collect()
    val got = capped.map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got == exp, "capped difficulty must use the count-1 OOV ceiling")
    // the no-silent-caps ledger: per-doc OOV instance counts match a
    // from-scratch recount against the capped vocabulary, and the
    // binding cap makes them nonzero somewhere (non-vacuous)
    val oovExp = docs.collect { case (id, ws) if ws.nonEmpty =>
      id -> ws.count(w => !kept.contains(w)).toLong
    }
    val oovGot = capped.map(r => r.getLong(0) -> r.getAs[Long]("oov_tokens")).toMap
    assert(oovGot == oovExp, "oov_tokens must recount the capped-out instances")
    assert(oovExp.values.sum > 0, "binding cap produced no OOV — vacuous")
    // OOV surprisal is the per-corpus MAXIMUM (ln T / 1): capping can
    // only raise a difficulty, never lower it
    val base = Curation.curriculum(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(base.forall { case (id, d) => got(id) >= d })
    // and the standing artifact honors the same cap
    val (vocab, vTotal) = Curation.curriculumVocab(spark, sfDir)
    assert(vocab.size <= Curation.CurriculumVocabCap)
    assert(vTotal == counts.values.sum)
  }

  test("boilerplate recounts per-source bigram doc frequency") {
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "source", "text").collect()
      .map(x => (x.getLong(0), x.getString(1), wsTokens(x.getString(2))))
    val docGrams = docs.map { case (id, src, ws) =>
      (id, src, ws.zip(ws.drop(1)).map { case (a, b) => s"$a $b" }.toSet)
    }
    val srcDocs = docs.groupBy(_._2).map { case (s, g) => s -> g.length }
    val df = docGrams.flatMap { case (_, src, gs) => gs.map((src, _)) }
      .groupBy(identity).map { case (k, g) => k -> g.size }
    val got = Curation.boilerplate(spark, sfDir).collect()
    assert(got.length == docs.length, "one row per doc")
    var anyTemplate = false
    got.foreach { row =>
      val (_, src, gs) = docGrams.find(_._1 == row.getLong(0)).get
      val nTemplate = gs.count { g =>
        val d = df((src, g))
        d >= 2 && d * 100 >= srcDocs(src) * 25
      }
      assert(row.getLong(2) == gs.size, s"doc ${row.getLong(0)} n_grams")
      assert(row.getLong(3) == nTemplate, s"doc ${row.getLong(0)} n_template")
      if (nTemplate > 0) anyTemplate = true
      if (gs.nonEmpty)
        assert(row.getLong(4) == nTemplate.toLong * 1000000L / gs.size,
          s"doc ${row.getLong(0)} ppm")
      else assert(row.isNullAt(4), s"doc ${row.getLong(0)} null ppm")
    }
    // the threshold actually fires on this corpus (non-vacuous spec)
    assert(anyTemplate, "no template grams detected — check threshold")
  }

  test("evalContamination recounts hits and leak breadth both ways") {
    def grams(text: String): Set[String] = {
      val ws = text.toLowerCase
        .replaceAll("[^a-z0-9 \\t\\n\\f\\r]", " ")
        .split("[ \\t\\n\\f\\r]+").filter(_.nonEmpty)
      if (ws.length < 8) Set.empty
      else ws.sliding(8).map(_.mkString(" ")).toSet
    }
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(x => x.getLong(0) -> grams(x.getString(1)))
    val evalDocs = docs.filter(_._1 < 10L)
    val train = docs.filter(_._1 >= 10L)
    val got = Curation.evalContamination(spark, sfDir).collect()
    assert(got.map(_.getLong(0)).toSeq.sorted == evalDocs.map(_._1).sorted.toSeq,
      "one row per eval doc")
    var anyHit = false
    got.foreach { row =>
      val gs = evalDocs.find(_._1 == row.getLong(0)).get._2
      val hit = gs.filter(g => train.exists(_._2.contains(g)))
      val breadth = train.count(_._2.exists(gs.contains))
      assert(row.getLong(1) == gs.size, s"doc ${row.getLong(0)} n_grams")
      assert(row.getLong(2) == hit.size, s"doc ${row.getLong(0)} n_hit")
      assert(row.getLong(3) == breadth, s"doc ${row.getLong(0)} breadth")
      if (hit.nonEmpty) anyHit = true
      if (gs.nonEmpty)
        assert(row.getLong(4) == hit.size.toLong * 1000000L / gs.size,
          s"doc ${row.getLong(0)} ppm")
      else assert(row.isNullAt(4), s"doc ${row.getLong(0)} null ppm")
    }
    // the corpus actually carries eval→train collisions (non-vacuous)
    assert(anyHit, "no contamination found — check the gram channel")
    // cross-direction consistency: the train-side scrub flags exactly
    // the docs this report counts into its leak breadth
    val flagged = Curation.decontaminate(spark, sfDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val evalAll = evalDocs.flatMap(_._2).toSet
    val expFlagged = train.filter(_._2.exists(evalAll.contains)).map(_._1).toSet
    assert(flagged == expFlagged, "scrub/report disagree on leaked docs")
  }

  test("ul2Mix routes deterministically and conserves every token") {
    val rows = Curation.ul2Mix(spark, sfDir).collect()
    val texts = Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(x => x.getLong(0) -> x.getString(1).trim
        .split("[ \\t\\n\\f\\r]+").toSeq).toMap
    // all three denoisers fire, routing matches the hash
    val byDen = rows.groupBy(_.getString(2))
    assert(byDen.keySet == Set("R", "S", "X"), s"families: ${byDen.keySet}")
    rows.foreach { r =>
      val d = ((r.getLong(0) * 37 + 11) % 1000003) * 2654435761L % 3
      assert(r.getString(2) == Seq("R", "S", "X")(d.toInt),
        s"doc ${r.getLong(0)} routing")
    }
    // the R leg is row-identical to q_span_corruption (no-drift pin)
    val sc = Curation.spanCorruption(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r).toMap
    byDen("R").foreach { r =>
      val e = sc(r.getLong(0))
      assert(r.getLong(3) == e.getLong(2), s"doc ${r.getLong(0)} n_masked")
      assert(r.getString(4) == e.getString(4), s"doc ${r.getLong(0)} inputs")
      assert(r.getString(5) == e.getString(5), s"doc ${r.getLong(0)} targets")
    }
    val sentinel = "<extra_id_[0-9]+>".r
    def toks(s: String) = s.split(" ").filter(_.nonEmpty).toSeq
    // S leg: prefix ++ suffix restores the token sequence; the cut is
    // interior for every doc that can host one
    byDen("S").foreach { r =>
      val orig = texts(r.getLong(0))
      val pre = toks(r.getString(4)).takeWhile(t => sentinel.findFirstIn(t).isEmpty)
      val suf = toks(r.getString(5)).dropWhile(t => sentinel.findFirstIn(t).nonEmpty)
      assert(pre ++ suf == orig, s"doc ${r.getLong(0)} S round trip")
      assert(r.getLong(3) == suf.length, s"doc ${r.getLong(0)} S n_masked")
      if (orig.length >= 2)
        assert(pre.nonEmpty && suf.nonEmpty, s"doc ${r.getLong(0)} interior cut")
    }
    // R and X legs: non-sentinel tokens across inputs + targets are
    // exactly the original multiset (nothing dropped or duplicated)
    (byDen("R") ++ byDen("X")).foreach { r =>
      val got = (toks(r.getString(4)) ++ toks(r.getString(5)))
        .filter(t => sentinel.findFirstIn(t).isEmpty)
      val orig = texts(r.getLong(0))
      assert(got.groupBy(identity).map { case (k, v) => k -> v.size } ==
        orig.groupBy(identity).map { case (k, v) => k -> v.size },
        s"doc ${r.getLong(0)} token conservation")
      assert(r.getLong(3) <= r.getLong(1), s"doc ${r.getLong(0)} mask bound")
    }
    // X masks more aggressively than R on average (rate 1/4 vs 1/7)
    def rate(rs: Iterable[org.apache.spark.sql.Row]) =
      rs.map(_.getLong(3)).sum.toDouble / rs.map(_.getLong(1)).sum
    assert(rate(byDen("X")) > rate(byDen("R")),
      s"X rate ${rate(byDen("X"))} not above R rate ${rate(byDen("R"))}")
  }

  test("standing vocab and template artifacts survive the manifest round trip") {
    val dir = java.nio.file.Files.createTempDirectory("graft_standing").toString
    val (vocab, total) = Curation.curriculumVocab(spark, sfDir)
    Curation.saveCurriculumVocab(spark, vocab, total, s"$dir/vocab")
    val (v2, t2) = Curation.loadCurriculumVocab(spark, s"$dir/vocab")
    assert(v2 == vocab && t2 == total, "vocab round trip")
    val tmpl = Curation.boilerplateTemplates(spark, sfDir)
    Curation.saveBoilerplateTemplates(spark, tmpl, s"$dir/tmpl")
    assert(Curation.loadBoilerplateTemplates(spark, s"$dir/tmpl") == tmpl,
      "template round trip")
    // a cross-family load fails at the manifest, not deep in a join
    intercept[IllegalArgumentException] {
      Curation.loadCurriculumVocab(spark, s"$dir/tmpl")
    }
    // serving from the LOADED artifacts equals serving from fresh ones
    val docs = Tables.documents(spark, sfDir)
    val fresh = graft.streaming.DocStream.curriculumScoreStream(docs, vocab, total)
    val loaded = graft.streaming.DocStream.curriculumScoreStream(docs, v2, t2)
    assert(fresh.exceptAll(loaded).count() == 0 &&
      loaded.exceptAll(fresh).count() == 0, "loaded vocab serve parity")
  }

  test("syndication recounts cross-source gram spread") {
    def grams(text: String): Set[String] = {
      val ws = text.toLowerCase
        .replaceAll("[^a-z0-9 \\t\\n\\f\\r]", " ")
        .split("[ \\t\\n\\f\\r]+").filter(_.nonEmpty)
      if (ws.length < 8) Set.empty
      else ws.sliding(8).map(_.mkString(" ")).toSet
    }
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "source", "text").collect()
      .map(x => (x.getLong(0), x.getString(1), grams(x.getString(2))))
    val spread = docs.flatMap { case (_, src, gs) => gs.map(_ -> src) }
      .groupBy(_._1).map { case (g, xs) => g -> xs.map(_._2).distinct.size }
    val got = Curation.syndication(spark, sfDir).collect()
    assert(got.length == docs.length, "one row per doc")
    var anySynd = false
    got.foreach { row =>
      val (_, _, gs) = docs.find(_._1 == row.getLong(0)).get
      val synd = gs.count(g => spread(g) >= 2)
      val maxSpread = if (gs.isEmpty) 0 else gs.map(spread).max
      assert(row.getLong(2) == gs.size, s"doc ${row.getLong(0)} n_grams")
      assert(row.getLong(3) == synd, s"doc ${row.getLong(0)} n_synd")
      assert(row.getLong(4) == maxSpread, s"doc ${row.getLong(0)} max_spread")
      if (synd > 0) anySynd = true
      if (gs.nonEmpty)
        assert(row.getLong(5) == synd.toLong * 1000000L / gs.size,
          s"doc ${row.getLong(0)} ppm")
      else assert(row.isNullAt(5), s"doc ${row.getLong(0)} null ppm")
    }
    // the corpus actually carries cross-source repeats (non-vacuous)
    assert(anySynd, "no syndicated grams found — check the threshold")
  }

  test("datasetCard recounts mass, dominant lang, and dup channels") {
    val docs = Tables.documents(spark, sfDir)
      .select("source", "lang", "text").collect()
      .map(x => (x.getString(0), x.getString(1), x.getString(2)))
    val got = Curation.datasetCard(spark, sfDir).collect()
    assert(got.map(_.getString(0)).toSet == docs.map(_._1).toSet,
      "one row per source")
    got.foreach { row =>
      val src = row.getString(0)
      val mine = docs.filter(_._1 == src)
      val toks = mine.map(d => wsTokens(d._3).length.toLong)
      assert(row.getLong(1) == mine.length, s"$src n_docs")
      assert(row.getLong(2) == toks.sum, s"$src n_tokens")
      assert(row.getLong(3) == mine.map(_._2).distinct.length, s"$src n_langs")
      val top = mine.groupBy(_._2).map { case (l, g) => (l, g.length) }
        .toSeq.sortBy { case (l, c) => (-c, l) }.head
      assert(row.getString(4) == top._1, s"$src top_lang")
      assert(row.getLong(5) == top._2.toLong * 1000000L / mine.length,
        s"$src top_lang_ppm")
      val dups = mine.length - mine.map(_._3).distinct.length
      assert(row.getLong(6) == dups, s"$src dup_docs")
      assert(row.getLong(7) == dups.toLong * 1000000L / mine.length,
        s"$src dup_ppm")
      assert(row.getLong(8) == toks.min && row.getLong(9) == toks.max,
        s"$src token envelope")
      assert(row.getDouble(10) == toks.sum.toDouble / mine.length,
        s"$src mean_tokens")
    }
  }

  test("deflate_len kernel equals java.util.zip on the corpus sample") {
    import graft.functions.DeflateLen.deflateLen
    val got = Tables.documents(spark, sfDir).limit(50)
      .select(col("text"), deflateLen(col("text")).as("dl")).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val bytes = r.getString(0).getBytes("UTF-8")
      val d = new java.util.zip.Deflater(6, true)
      d.setInput(bytes); d.finish()
      val buf = new Array[Byte](1 << 16)
      var total = 0
      while (!d.finished()) total += d.deflate(buf)
      d.end()
      assert(r.getInt(1) == total, s"deflate_len ${r.getInt(1)} != ref $total")
    }
  }

  test("compressRatio separates planted repetition from planted noise") {
    import spark.implicits._
    val unit = "the quick brown fox jumps over the lazy dog. "
    // 300 chars: random printable tops out near log2(95)/8 = 0.82 of
    // the byte length asymptotically, so the noise flag needs the
    // short-doc regime where codec overhead pushes past it (the
    // corpus' own >0.85 tail is exactly that shape)
    val rnd = new scala.util.Random(7)
    val noise = Iterator.continually(rnd.nextPrintableChar()).take(300).mkString
    val docs = Seq(
      (1L, unit * 50),            // one sentence repeated far past any n-gram width
      (2L, noise),                // high-entropy printable noise
      (3L, unit * 50),            // exact twin of 1: identical ratio expected
      (4L, "")                    // empty doc must not divide by zero
    ).toDF("doc_id", "text")
    val r = Curation.compressRatioDocs(docs).collect()
      .map(x => x.getLong(0) -> x).toMap
    assert(r(1).getBoolean(r(1).fieldIndex("flag_repetitive")), "repeat must flag")
    assert(!r(1).getBoolean(r(1).fieldIndex("flag_noise")))
    assert(r(2).getBoolean(r(2).fieldIndex("flag_noise")), "noise must flag")
    assert(!r(2).getBoolean(r(2).fieldIndex("flag_repetitive")))
    assert(r(1).getDouble(r(1).fieldIndex("compress_ratio")) ==
      r(3).getDouble(r(3).fieldIndex("compress_ratio")), "twins share the ratio")
    assert(r(1).getDouble(r(1).fieldIndex("compress_ratio")) <
      r(2).getDouble(r(2).fieldIndex("compress_ratio")))
    assert(!r(4).isNullAt(r(4).fieldIndex("compress_ratio")))
  }

  test("compressGate: both certainty booleans hold and flags fire on the corpus") {
    val gate = Curation.compressGate(spark, sfDir).collect()
    assert(gate.nonEmpty)
    gate.foreach { g =>
      assert(g.getBoolean(g.fieldIndex("lens_equal")), s"${g.getString(0)} lens")
      assert(g.getBoolean(g.fieldIndex("bound_ok")), s"${g.getString(0)} bound")
    }
    // the corpus band must exercise both outlier flags; sf0.001 is
    // too small to guarantee tail mass, so pin the driver-parity sf
    // when its fixture is provisioned (planted-doc flag coverage
    // lives in the separation spec above, so this leg is additive)
    val parityDir = "/root/testdata/sf0.01"
    if (new java.io.File(parityDir).isDirectory) {
      val flags = Curation.compressRatio(spark, parityDir)
        .agg(sum(col("flag_repetitive").cast("long")),
          sum(col("flag_noise").cast("long"))).collect().head
      assert(flags.getLong(0) > 0, "no repetitive-flag mass in the corpus")
      assert(flags.getLong(1) > 0, "no noise-flag mass in the corpus")
    }
  }
}
