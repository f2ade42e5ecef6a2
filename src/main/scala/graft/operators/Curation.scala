package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Corpus-curation operators of a large-scale training-data pipeline,
  * beyond the reference's own surface: repetition-based quality
  * filtering (the Gopher/MassiveText rule family), benchmark
  * decontamination by n-gram overlap, and deterministic stratified
  * sampling for data mixing.
  *
  * Scale shape: every operator is per-document narrow work plus at
  * most a (doc_id, token)-keyed aggregation; the decontamination join
  * broadcasts the (small) eval-set n-gram table, so the corpus never
  * shuffles for the membership test.
  */
object Curation {

  /** Word n-gram count for the decontamination overlap test. */
  private val NgramN = 8

  /** doc_id threshold splitting the synthetic corpus into "benchmark"
    * probes (< EvalDocs) and the training corpus (the rest).
    */
  private val EvalDocs = 10L

  /** Shared Gopher pieces: one definition of the sentence split and
    * the drop thresholds, so the aggregation and narrow formulations
    * cannot drift apart.
    */
  private val DupSentenceMax = 0.30
  private val TopWordMax = 0.20
  private def sentsCol =
    filter(split(col("text"), s"[.!?][${TextOps.Ws}]+"), s => s =!= lit(""))

  /** Repetition-based quality filter in the style of Gopher's
    * MassiveText rules (Rae et al. 2021, "Scaling Language Models",
    * table A1): a document is dropped when too much of it is
    * repeated content. Emits per doc the duplicate-sentence fraction
    * (sentences split on terminal punctuation; threshold 0.30) and
    * the top-word mass fraction (most frequent normalized word /
    * total words; threshold 0.20), plus the keep verdict.
    *
    * All ratios are exact integer÷integer IEEE divisions — no
    * rounding needed for cross-engine hash parity.
    */
  def gopherFilters(spark: SparkSession, dir: String): DataFrame =
    gopherFiltersDocs(fanDocs(Tables.documents(spark, dir)))


  /** Round-robin the corpus across the session parallelism before a
    * compute-bound narrow kernel. The test corpus is a single-row-group
    * parquet file — an unsplittable input (guide: input skew), so the
    * heavy per-row regex/HOF chains would otherwise run in ONE task.
    * The exchange moves each text byte once and is amortized ~100x by
    * the per-row work; streaming callers bypass it (kernels are shared,
    * this wrapper is batch-only).
    *
    * GUARDED on the scan's real width (round 14): a multi-file corpus
    * at production scale already scans wider than the session
    * parallelism, and the round-robin exchange would then be a pure
    * extra full-corpus shuffle of every text byte — so the exchange is
    * added only when the source is narrower than the target. At bench
    * scale (1-partition file) the plan is unchanged.
    */
  private[graft] def fanDocs(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    val parts = s.conf.get("spark.sql.shuffle.partitions").toInt
      .max(s.sparkContext.defaultParallelism)
    if (docs.rdd.getNumPartitions >= parts) docs
    else docs.repartition(parts)
  }

  private[graft] def gopherFiltersDocs(docs: DataFrame): DataFrame = {
    val sent = docs.select(col("doc_id"), sentsCol.as("sents"))
      .select(col("doc_id"), size(col("sents")).as("n_sent"),
        size(array_distinct(col("sents"))).as("n_distinct_sent"))
    val words = docs
      .select(col("doc_id"), explode(TextOps.normalizedWords).as("word"))
      .filter(col("word") =!= "")
      .groupBy("doc_id", "word").agg(count(lit(1)).as("n"))
      .groupBy("doc_id").agg(max("n").as("top_n"), sum("n").as("n_words"))
    val dupFrac = (col("n_sent") - col("n_distinct_sent")).cast("double") /
      greatest(col("n_sent"), lit(1)).cast("double")
    val topFrac = col("top_n").cast("double") / col("n_words").cast("double")
    sent.join(words, Seq("doc_id"))
      .select(col("doc_id"), col("n_sent"),
        dupFrac.as("dup_sentence_frac"),
        topFrac.as("top_word_frac"),
        (dupFrac <= DupSentenceMax && topFrac <= TopWordMax).as("keep_doc"))
  }

  /** The same Gopher verdicts as [[gopherFiltersDocs]] computed as a
    * pure per-row projection (array HOFs instead of the
    * explode+groupBy word count) — zero shuffle and zero state, which
    * makes it legal inside a streaming pipeline. O(distinct·words)
    * per doc vs the batch shape's shuffle: at corpus scale the
    * aggregation amortizes better, on a stream only this form works.
    * CurationSpec asserts the two formulations agree exactly.
    *
    * Equality holds for UNIQUE doc_id inputs (the documents-table
    * contract): on a raw pre-dedup stream this form judges each
    * delivery on its own text (the sensible streaming semantic),
    * while the batch form would merge word counts across rows
    * sharing a doc_id.
    */
  private[graft] def gopherNarrowDocs(docs: DataFrame): DataFrame =
    withRepetitionSignals(docs)
      .select(col("doc_id"), col("n_sent"),
        col("dup_sentence_frac"), col("top_word_frac"),
        col("keep_rep").as("keep_doc"))

  /** APPENDS the repetition signals + `keep_rep` verdict to the input
    * (all input columns survive) — the composable stage
    * [[gopherNarrowDocs]] and [[gopherChainDocs]] both build on.
    */
  private[graft] def withRepetitionSignals(docs: DataFrame): DataFrame = {
    val ws = filter(TextOps.normalizedWords, w => w =!= lit(""))
    docs
      .withColumn("sents_r", sentsCol)
      .withColumn("ws_r", ws)
      .filter(size(col("ws_r")) > 0) // batch shape drops wordless docs via its join
      .withColumn("n_sent", size(col("sents_r")))
      .withColumn("dup_sentence_frac",
        (col("n_sent") - size(array_distinct(col("sents_r")))).cast("double") /
          greatest(col("n_sent"), lit(1)).cast("double"))
      // top word count via ONE run-length fold over the sorted words
      // (equal words adjacent) — O(W log W); the per-distinct-word
      // recount this replaces was O(W²) interpreted per doc (round 11,
      // found by the same replica sweep as the n-gram fold above)
      .withColumn("top_word_frac",
        expr("""aggregate(array_sort(ws_r),
          |  named_struct('prev', '', 'run', 0, 'best', 0),
          |  (acc, w) -> named_struct(
          |    'prev', w,
          |    'run', IF(w = acc.prev, acc.run + 1, 1),
          |    'best', greatest(acc.best,
          |      IF(w = acc.prev, acc.run + 1, 1))),
          |  acc -> acc.best)""".stripMargin).cast("double") /
          size(col("ws_r")).cast("double"))
      .withColumn("keep_rep",
        col("dup_sentence_frac") <= DupSentenceMax &&
          col("top_word_frac") <= TopWordMax)
      .drop("sents_r", "ws_r")
  }

  def gopherFiltersSql: String =
    s"""WITH s AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(text, '[.!?]\\s+'), x -> x <> '') AS sents
      |  FROM documents
      |), sm AS (
      |  SELECT doc_id, len(sents) AS n_sent,
      |    len(list_distinct(sents)) AS n_distinct_sent
      |  FROM s
      |), w AS (
      |  SELECT doc_id,
      |    unnest(list_filter(string_split(trim(regexp_replace(regexp_replace(
      |      lower(trim(text)), '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')), ' '),
      |      x -> x <> '')) AS word
      |  FROM documents
      |), c AS (
      |  SELECT doc_id, word, count(*) AS n FROM w GROUP BY 1, 2
      |), wm AS (
      |  SELECT doc_id, max(n) AS top_n, sum(n) AS n_words FROM c GROUP BY 1
      |)
      |SELECT sm.doc_id, n_sent,
      |  (n_sent - n_distinct_sent)::DOUBLE / greatest(n_sent, 1) AS dup_sentence_frac,
      |  top_n::DOUBLE / n_words AS top_word_frac,
      |  ((n_sent - n_distinct_sent)::DOUBLE / greatest(n_sent, 1) <= $DupSentenceMax
      |    AND top_n::DOUBLE / n_words <= $TopWordMax) AS keep_doc
      |FROM sm JOIN wm ON sm.doc_id = wm.doc_id
      |ORDER BY sm.doc_id""".stripMargin

  // Rae et al. 2021 table A1, second block — the N-GRAM repetition
  // thresholds (top n-gram char fraction for n=2..4, duplicate
  // n-gram char fraction for n=5..10)
  private val TopNgramMax =
    Seq(2 -> 0.20, 3 -> 0.18, 4 -> 0.16)
  private val DupNgramMax =
    Seq(5 -> 0.15, 6 -> 0.14, 7 -> 0.13, 8 -> 0.12, 9 -> 0.11, 10 -> 0.10)

  /** The remaining Gopher repetition rules — the N-GRAM block of
    * table A1 ([[gopherFiltersDocs]] covers its sentence/word rows):
    * per document, the character mass held by repeated word n-grams,
    * as a fraction of the document's normalized character count
    * (words joined by single spaces — the same measure on both
    * engines).
    *
    *  - top_{2,3,4}gram_frac: the LARGEST char mass any single
    *    n-gram accounts for (occurrences × n-gram length). Taking
    *    the max of count×length directly (rather than "the most
    *    frequent n-gram's mass") makes ties deterministic on every
    *    engine — when counts tie, the more character-covering gram
    *    is the binding one.
    *  - dup_{5..10}gram_frac: total char mass of n-grams occurring
    *    more than once, ALL occurrences counted (overlapping
    *    occurrences each count — the standard mass approximation;
    *    exact de-overlapping is [[spanDedupDocs]]'s job).
    *
    * Verdict: keep iff every fraction is at or under its table-A1
    * threshold (0.20/0.18/0.16, 0.15 down to 0.10). All fractions
    * are exact integer÷integer IEEE divisions — hash parity with no
    * rounding.
    *
    * Scale shape: pure per-row projection over array HOFs — zero
    * shuffle, zero state, streaming-legal like the rest of the
    * chain. Per-doc cost is O(G log G) per n (9 n values): sort the
    * gram array once, then ONE run-length fold yields top and dup
    * masses together (round 11 — the prior per-distinct-gram recount
    * was quadratic-interpreted and wedged the 10×-replica sweep); for
    * book-length outliers the explode+groupBy dual (the
    * [[gopherFiltersDocs]] shape) amortizes better — same numbers,
    * one shuffle.
    */
  def gopherNgramRep(spark: SparkSession, dir: String): DataFrame =
    gopherNgramRepDocs(Tables.documents(spark, dir))

  private[graft] def gopherNgramRepDocs(docs: DataFrame): DataFrame = {
    val ws = filter(TextOps.normalizedWords, w => w =!= lit(""))
    val base = docs.select(col("doc_id"), ws.as("ws_r"))
      .filter(size(col("ws_r")) > 0)
      .withColumn("total_chars", length(array_join(col("ws_r"), " ")))
    // sorted gram array per n: equal grams land ADJACENT, so one
    // linear fold yields both the heaviest-gram mass (`top` = max over
    // runs of run·len, reached at each run's last element) and the
    // duplicated mass (`dup`: the 2nd occurrence adds 2·len, later
    // ones add len — a k-run contributes exactly k·len). O(G log G)
    // per doc. The previous per-distinct-gram recount was O(G²) — and
    // because the gram transform re-derived INSIDE the inner filter,
    // O(G³) interpreted — which the 10×-replica strict sweep caught as
    // a wedged scan stage (666 s+ per task); same integers, so the
    // group-by oracle is unchanged and the hash proves the rewrite.
    def massFold(n: Int): Column = expr(
      s"""aggregate(
         |  array_sort(IF(size(ws_r) >= $n,
         |    transform(sequence(0, size(ws_r) - $n),
         |      i -> array_join(slice(ws_r, i + 1, $n), ' ')),
         |    CAST(array() AS array<string>))),
         |  named_struct('prev', '', 'run', 0, 'top', 0, 'dup', 0),
         |  (acc, g) -> named_struct(
         |    'prev', g,
         |    'run', IF(g = acc.prev, acc.run + 1, 1),
         |    'top', greatest(acc.top,
         |      IF(g = acc.prev, acc.run + 1, 1) * length(g)),
         |    'dup', acc.dup + IF(g = acc.prev,
         |      IF(acc.run = 1, 2 * length(g), length(g)), 0)))""".stripMargin)
    val ns = (TopNgramMax.map(_._1) ++ DupNgramMax.map(_._1)).distinct
    val withMasses = ns.foldLeft(base) { (df, n) =>
      df.withColumn(s"m_$n", massFold(n))
    }
    def topFrac(n: Int): Column =
      col(s"m_$n").getField("top").cast("double") /
        col("total_chars").cast("double")
    def dupFrac(n: Int): Column =
      col(s"m_$n").getField("dup").cast("double") /
        col("total_chars").cast("double")
    val fracs = withMasses.select(
      col("doc_id") +:
        (TopNgramMax.map { case (n, _) => topFrac(n).as(s"top_${n}gram_frac") } ++
          DupNgramMax.map { case (n, _) => dupFrac(n).as(s"dup_${n}gram_frac") }): _*)
    val keep = (TopNgramMax.map { case (n, t) => col(s"top_${n}gram_frac") <= t } ++
      DupNgramMax.map { case (n, t) => col(s"dup_${n}gram_frac") <= t })
      .reduce(_ && _)
    fracs.withColumn("keep_doc", keep)
  }

  def gopherNgramRepSql: String = {
    val perN = (TopNgramMax ++ DupNgramMax).map(_._1).map { n =>
      s"""ng$n AS (
         |  SELECT doc_id, unnest(CASE WHEN len(ws) >= $n THEN
         |    list_transform(range(1, len(ws) - $n + 2),
         |      i -> array_to_string(ws[i:i+${n - 1}], ' '))
         |    ELSE []::VARCHAR[] END) AS g
         |  FROM b
         |), c$n AS (
         |  SELECT doc_id, g, count(*) AS cnt FROM ng$n GROUP BY 1, 2
         |), m$n AS (
         |  SELECT doc_id, max(cnt * length(g)) AS topmass,
         |    sum(CASE WHEN cnt > 1 THEN cnt * length(g) ELSE 0 END) AS dupmass
         |  FROM c$n GROUP BY 1
         |)""".stripMargin
    }.mkString(", ")
    val topSel = TopNgramMax.map { case (n, _) =>
      s"coalesce(m$n.topmass, 0)::DOUBLE / total_chars AS top_${n}gram_frac"
    }
    val dupSel = DupNgramMax.map { case (n, _) =>
      s"coalesce(m$n.dupmass, 0)::DOUBLE / total_chars AS dup_${n}gram_frac"
    }
    val joins = (TopNgramMax ++ DupNgramMax).map(_._1)
      .map(n => s"LEFT JOIN m$n ON m$n.doc_id = b.doc_id").mkString("\n")
    val keep = (TopNgramMax.map { case (n, t) => s"top_${n}gram_frac <= $t" } ++
      DupNgramMax.map { case (n, t) => s"dup_${n}gram_frac <= $t" })
      .mkString(" AND ")
    s"""WITH w AS (
       |  SELECT doc_id, list_filter(string_split(trim(regexp_replace(regexp_replace(
       |    lower(trim(text)), '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')), ' '),
       |    x -> x <> '') AS ws
       |  FROM documents
       |), b AS (
       |  SELECT doc_id, ws, length(array_to_string(ws, ' ')) AS total_chars
       |  FROM w WHERE len(ws) > 0
       |), $perN, f AS (
       |  SELECT b.doc_id,
       |    ${(topSel ++ dupSel).mkString(",\n    ")}
       |  FROM b
       |$joins
       |)
       |SELECT *, ($keep) AS keep_doc FROM f
       |ORDER BY doc_id""".stripMargin
  }

  /** Benchmark decontamination: flag training documents sharing any
    * word 8-gram with the eval set (doc_id < EvalDocs here; in
    * production, the benchmark suite) — the standard test-set-overlap
    * scrub before training. The eval n-gram table is tiny and
    * BROADCAST; the corpus is probed via a hash join on the gram, so
    * the membership test costs one narrow pass over the corpus.
    */
  /** Per-document n-gram NOVELTY profile — the boilerplate /
    * template-mass diagnostic read alongside the dedup reports: for
    * each doc, its distinct word 8-grams ([[NgramN]], the
    * decontamination shingle — shared tokenize + gram build, so the
    * two surfaces cannot drift) and how many of them appear for the
    * FIRST time in the corpus' doc_id order, as an exact ppm. A
    * near-zero novelty doc is assembled from text the corpus already
    * contains (mirror, template, near-copy below the dedup
    * thresholds); a sagging corpus-wide novelty curve is how
    * crawl-over-crawl staleness shows up before any training run.
    * Docs too short for a single 8-gram report zero grams and NULL
    * novelty on both engines.
    *
    * Scale shape: the gram explosion is the decontamination shape
    * ([[gramsOf]], shared); the explicit repartition on `gram` lets
    * ONE exchange serve both the (doc_id, gram) distinct (same-key
    * rows colocate under the gram hash) and the first-seen
    * min-window — without it the planner shuffles the corpus-scale
    * gram set twice, once per required clustering (caught in
    * review, plan-pinned since); the per-doc collapse is a partial
    * agg on doc_id over per-doc-sized partials.
    */
  def ngramNovelty(spark: SparkSession, dir: String): DataFrame =
    ngramNoveltyDocs(Tables.documents(spark, dir))

  private[graft] def ngramNoveltyDocs(docsIn: DataFrame): DataFrame = {
    val w = Window.partitionBy("gram")
    val perDoc = gramsOf(docsIn)
      .repartition(col("gram"))
      .distinct()
      .withColumn("first_doc", min("doc_id").over(w))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
    docsIn.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        when(col("n_grams") > 0, expr("n_novel * 1000000 DIV n_grams"))
          .as("novelty_ppm"))
  }

  /** DuckDB dual of [[ngramNovelty]]: the decontamination tokenize +
    * unnest gram build, the same min-window first-seen rule, integer
    * ppm.
    */
  def ngramNoveltySql: String =
    s"""WITH $gramCtes,
       |dg AS (SELECT DISTINCT doc_id, gram FROM g),
       |f AS (
       |  SELECT doc_id,
       |    min(doc_id) OVER (PARTITION BY gram) AS first_doc
       |  FROM dg
       |), p AS (
       |  SELECT doc_id, count(*)::BIGINT AS n_grams,
       |    sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)::BIGINT AS n_novel
       |  FROM f GROUP BY doc_id
       |)
       |SELECT dd.doc_id,
       |  coalesce(p.n_grams, 0)::BIGINT AS n_grams,
       |  coalesce(p.n_novel, 0)::BIGINT AS n_novel,
       |  (CASE WHEN p.n_grams > 0 THEN p.n_novel * 1000000 // p.n_grams
       |   END)::BIGINT AS novelty_ppm
       |FROM documents dd LEFT JOIN p USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  def decontaminate(spark: SparkSession, dir: String): DataFrame =
    decontaminateDocs(Tables.documents(spark, dir))

  /** Shared tokenize + word-[[NgramN]]-gram stream: ONE definition
    * for [[decontaminateDocs]] and [[ngramNoveltyDocs]] so the
    * decontamination shingle and the novelty shingle cannot drift
    * (docs shorter than one gram contribute no rows).
    */
  private def gramsOf(docsIn: DataFrame): DataFrame =
    docsIn
      .select(col("doc_id"),
        filter(TextOps.normalizedWords, w => w =!= lit("")).as("ws"))
      .select(col("doc_id"),
        explode(when(size(col("ws")) >= NgramN,
          expr(s"transform(sequence(0, size(ws) - $NgramN), " +
            s"i -> array_join(slice(ws, i + 1, $NgramN), ' '))"))
          .otherwise(typedLit(Seq.empty[String]))).as("gram"))

  /** Shared DuckDB CTE block for the same tokenize + gram stream —
    * the `d`/`g` CTEs composed by [[decontaminateSql]] and
    * [[ngramNoveltySql]].
    */
  private val gramCtes: String =
    s"""d AS (
       |  SELECT doc_id,
       |    list_filter(string_split(trim(regexp_replace(regexp_replace(
       |      lower(trim(text)), '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')), ' '),
       |      x -> x <> '') AS ws
       |  FROM documents
       |), g AS (
       |  SELECT doc_id,
       |    unnest(list_transform(range(0, greatest(len(ws) - ${NgramN - 1}, 0)),
       |      i -> array_to_string(ws[i + 1 : i + $NgramN], ' '))) AS gram
       |  FROM d
       |)""".stripMargin

  private[graft] def decontaminateDocs(docsIn: DataFrame): DataFrame = {
    val grams = gramsOf(docsIn)
    val evalGrams = grams.filter(col("doc_id") < EvalDocs)
      .select("gram").distinct()
    // join-FIRST, dedup after: the broadcast membership probe filters
    // the corpus-scale gram stream down to the (rare) matches before
    // anything shuffles — countDistinct then exchanges only matched
    // rows. A corpus-wide distinct() before the join would shuffle
    // every gram of every document.
    grams.filter(col("doc_id") >= EvalDocs)
      .join(broadcast(evalGrams), Seq("gram"))
      .groupBy("doc_id").agg(countDistinct(col("gram")).as("n_shared_ngrams"))
  }

  def decontaminateSql: String =
    s"""WITH $gramCtes,
       |e AS (SELECT DISTINCT gram FROM g WHERE doc_id < $EvalDocs),
       |c AS (SELECT DISTINCT doc_id, gram FROM g WHERE doc_id >= $EvalDocs)
       |SELECT c.doc_id, count(*) AS n_shared_ngrams
       |FROM c JOIN e USING (gram)
       |GROUP BY c.doc_id
       |ORDER BY doc_id""".stripMargin

  /** [[gramsOf]] with the source carried through — the syndication
    * unit. Same [[NgramN]] and the same
    * [[graft.operators.TextOps.normalizedWords]] normalization, so
    * the shingle cannot drift from the decontamination/novelty
    * surfaces.
    */
  private def gramsOfBySource(docsIn: DataFrame): DataFrame =
    docsIn
      .select(col("doc_id"), col("source"),
        filter(TextOps.normalizedWords, w => w =!= lit("")).as("ws"))
      .select(col("doc_id"), col("source"),
        explode(when(size(col("ws")) >= NgramN,
          expr(s"transform(sequence(0, size(ws) - $NgramN), " +
            s"i -> array_join(slice(ws, i + 1, $NgramN), ' '))"))
          .otherwise(typedLit(Seq.empty[String]))).as("gram"))

  /** CROSS-SOURCE SYNDICATION detection — the third axis of the
    * repetition triad: [[boilerplate]] sees WITHIN-source templates,
    * [[ngramNovelty]] sees corpus-ORDER staleness, and this sees
    * text that travels BETWEEN sources — wire-service copy, content
    * farms, mirrors re-hosting each other (the cross-domain
    * duplication CCNet/RefinedWeb deduplicate for). Per document:
    * its distinct word [[NgramN]]-grams (the decontamination
    * shingle), how many of them appear in at least one OTHER source
    * (syndicated), the ppm share, and the widest spread any of its
    * grams reaches (distinct sources containing it) — a doc whose
    * grams blanket many sources is syndicated content, not an
    * original.
    *
    * Scale shape: one tokenize into the (doc, source, gram) stream;
    * the explicit repartition on `gram` serves BOTH the distinct and
    * the per-gram source-spread window (the [[ngramNovelty]]
    * single-exchange discipline — gram-only partitioning satisfies
    * the distinct's clustering, same full key → same gram → same
    * partition); the per-doc collapse is a doc-keyed partial agg.
    * All integers → hash-exact.
    */
  def syndication(spark: SparkSession, dir: String): DataFrame =
    syndicationDocs(Tables.documents(spark, dir))

  /** A gram is syndicated when ≥ this many distinct sources carry it. */
  private val SyndSourcesMin = 2

  private[graft] def syndicationDocs(docsIn: DataFrame): DataFrame = {
    val w = Window.partitionBy("gram")
    val perDoc = gramsOfBySource(docsIn)
      .repartition(col("gram"))
      .distinct()
      .withColumn("n_sources",
        size(collect_set("source").over(w)).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("n_sources") >= SyndSourcesMin, 1L).otherwise(0L))
          .as("n_synd"),
        max("n_sources").as("max_spread"))
    docsIn.select(col("doc_id"), col("source"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_synd"), lit(0L)).as("n_synd"),
        coalesce(col("max_spread"), lit(0L)).as("max_spread"))
      .withColumn("synd_ppm", when(col("n_grams") > 0,
        expr("n_synd * 1000000 DIV n_grams")))
  }

  /** DuckDB dual of [[syndication]]: the shared normalization (the
    * [[gramCtes]] text), per-gram distinct-source counts, the same
    * integer threshold and ppm.
    */
  def syndicationSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, source,
       |    list_filter(string_split(trim(regexp_replace(regexp_replace(
       |      lower(trim(text)), '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')), ' '),
       |      x -> x <> '') AS ws
       |  FROM documents
       |), g AS (
       |  SELECT DISTINCT doc_id, source,
       |    array_to_string(ws[i : i + ${NgramN - 1}], ' ') AS gram
       |  FROM (SELECT doc_id, source, ws,
       |          unnest(range(1, len(ws) - $NgramN + 2)) AS i
       |        FROM d WHERE len(ws) >= $NgramN)
       |), sg AS (
       |  SELECT gram, count(DISTINCT source)::BIGINT AS n_sources
       |  FROM g GROUP BY 1
       |), per_doc AS (
       |  SELECT doc_id, count(*)::BIGINT AS n_grams,
       |    sum(CASE WHEN n_sources >= $SyndSourcesMin THEN 1 ELSE 0 END)
       |      ::BIGINT AS n_synd,
       |    max(n_sources)::BIGINT AS max_spread
       |  FROM g JOIN sg USING (gram) GROUP BY 1
       |)
       |SELECT d2.doc_id, d2.source,
       |  coalesce(n_grams, 0)::BIGINT AS n_grams,
       |  coalesce(n_synd, 0)::BIGINT AS n_synd,
       |  coalesce(max_spread, 0)::BIGINT AS max_spread,
       |  CASE WHEN coalesce(n_grams, 0) > 0
       |       THEN coalesce(n_synd, 0) * 1000000 // n_grams END
       |    ::BIGINT AS synd_ppm
       |FROM documents d2 LEFT JOIN per_doc p ON d2.doc_id = p.doc_id
       |ORDER BY d2.doc_id""".stripMargin

  /** EVAL-SIDE CONTAMINATION severity — the REVERSE direction of
    * [[decontaminateDocs]] (which flags TRAINING docs): per
    * benchmark document, how compromised is it — its distinct
    * [[NgramN]]-gram mass, how many of those grams appear in ANY
    * training document, the collision share in exact ppm, and the
    * BREADTH of the leak (distinct training docs sharing ≥1 gram).
    * This is the report an eval owner reads to decide whether a
    * benchmark is still trustworthy after a crawl refresh — the
    * train-side scrub removes offending training docs, but a
    * benchmark whose grams are everywhere needs retirement, not
    * scrubbing. Same shingle as the scrub ([[gramsOf]], shared), so
    * the two directions cannot drift. Eval docs too short for one
    * gram report 0/0/0 with NULL ppm.
    *
    * Scale shape: the eval gram table is benchmark-sized and
    * BROADCAST; the training gram stream probes it with one hash
    * join (corpus never shuffles), and the hit set — bounded by
    * eval grams × their duplication — collapses in a per-eval-doc
    * aggregate. All integers → hash-exact.
    */
  def evalContamination(spark: SparkSession, dir: String): DataFrame =
    evalContaminationDocs(Tables.documents(spark, dir))

  private[graft] def evalContaminationDocs(docs: DataFrame): DataFrame = {
    val grams = gramsOf(docs)
    val evalG = grams.filter(col("doc_id") < EvalDocs)
      .select(col("doc_id").as("eval_id"), col("gram")).distinct()
    // NO pre-distinct on the training side: the per-eval-doc
    // aggregate already counts DISTINCT grams and train docs, and a
    // (train_id, gram) distinct here would exchange the corpus-scale
    // gram set just to drop duplicates the aggregate ignores anyway —
    // the only shuffle is the hit set (eval-bounded) into the collapse
    val trainG = grams.filter(col("doc_id") >= EvalDocs)
      .select(col("doc_id").as("train_id"), col("gram"))
    val hits = trainG.join(broadcast(evalG), Seq("gram"))
      .groupBy("eval_id")
      .agg(countDistinct("gram").as("n_hit"),
        countDistinct("train_id").as("n_train_docs"))
    val masses = evalG.groupBy("eval_id").agg(count(lit(1)).as("n_grams"))
    docs.filter(col("doc_id") < EvalDocs).select(col("doc_id"))
      .join(masses.withColumnRenamed("eval_id", "doc_id"), Seq("doc_id"), "left")
      .join(hits.withColumnRenamed("eval_id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        coalesce(col("n_train_docs"), lit(0L)).as("n_train_docs"))
      .withColumn("hit_ppm", when(col("n_grams") > 0,
        expr("n_hit * 1000000 DIV n_grams")))
  }

  /** DuckDB dual of [[evalContamination]]: same shared gram CTEs,
    * same distinct-hit and leak-breadth counts, same integer ppm.
    */
  def evalContaminationSql: String =
    s"""WITH $gramCtes,
       |e AS (SELECT DISTINCT doc_id AS eval_id, gram FROM g
       |      WHERE doc_id < $EvalDocs),
       |t AS (SELECT DISTINCT doc_id AS train_id, gram FROM g
       |      WHERE doc_id >= $EvalDocs),
       |m AS (SELECT eval_id, count(*)::BIGINT AS n_grams FROM e GROUP BY 1),
       |h AS (
       |  SELECT eval_id, count(DISTINCT gram)::BIGINT AS n_hit,
       |    count(DISTINCT train_id)::BIGINT AS n_train_docs
       |  FROM e JOIN t USING (gram) GROUP BY 1
       |)
       |SELECT d.doc_id, coalesce(n_grams, 0)::BIGINT AS n_grams,
       |  coalesce(n_hit, 0)::BIGINT AS n_hit,
       |  coalesce(n_train_docs, 0)::BIGINT AS n_train_docs,
       |  CASE WHEN coalesce(n_grams, 0) > 0
       |       THEN coalesce(n_hit, 0) * 1000000 // n_grams END
       |    ::BIGINT AS hit_ppm
       |FROM documents d
       |LEFT JOIN m ON d.doc_id = m.eval_id
       |LEFT JOIN h ON d.doc_id = h.eval_id
       |WHERE d.doc_id < $EvalDocs
       |ORDER BY d.doc_id""".stripMargin

  /** Contamination threshold for [[decontaminateFrac]], in ppm of a
    * doc's distinct grams (5% — the overlap-fraction regime used when
    * any-single-hit removal is too aggressive for long documents).
    */
  private[graft] val ContamPpmMax = 50000L

  /** Overlap-FRACTION decontamination — the graded dual of
    * [[decontaminateDocs]]'s any-hit rule (the GPT-3 appendix-C /
    * FineWeb regime: a long document is contaminated when a
    * substantial share of its n-grams collides with the benchmark,
    * not when a single shingle does): per training doc, its distinct
    * word [[NgramN]]-grams, how many appear in the eval set, the
    * collision share in exact ppm, and the ≥[[ContamPpmMax]] flag.
    * Docs too short for one gram report 0/0/NULL and never flag.
    *
    * Scale shape: ONE pass over the shared gram stream ([[gramsOf]] —
    * the decontamination shingle, so the two surfaces cannot drift):
    * the broadcast eval-membership probe tags each gram in place
    * (left join against the small distinct eval-gram table), then a
    * single per-doc aggregate computes both distinct counts; the
    * corpus-scale gram stream shuffles once, as distinct
    * (doc_id, gram) partials. No second scan, no gram-keyed exchange.
    */
  def decontaminateFrac(spark: SparkSession, dir: String): DataFrame =
    decontaminateFracDocs(Tables.documents(spark, dir))

  private[graft] def decontaminateFracDocs(docsIn: DataFrame): DataFrame = {
    val grams = gramsOf(docsIn)
    val evalGrams = grams.filter(col("doc_id") < EvalDocs)
      .select("gram").distinct().withColumn("hit", lit(true))
    val perDoc = grams.filter(col("doc_id") >= EvalDocs)
      .join(broadcast(evalGrams), Seq("gram"), "left")
      .groupBy("doc_id")
      .agg(countDistinct(col("gram")).as("n_grams"),
        countDistinct(when(col("hit"), col("gram"))).as("n_shared"))
    docsIn.filter(col("doc_id") >= EvalDocs).select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        when(col("n_grams") > 0, expr("n_shared * 1000000 DIV n_grams"))
          .as("contam_ppm"))
      .withColumn("flagged",
        coalesce(col("contam_ppm") >= ContamPpmMax, lit(false)))
  }

  /** DuckDB dual of [[decontaminateFrac]]: the shared gram CTEs, the
    * same distinct-gram membership counts and integer-ppm arithmetic.
    */
  def decontaminateFracSql: String =
    s"""WITH $gramCtes,
       |e AS (SELECT DISTINCT gram FROM g WHERE doc_id < $EvalDocs),
       |c AS (SELECT DISTINCT doc_id, gram FROM g WHERE doc_id >= $EvalDocs),
       |p AS (
       |  SELECT c.doc_id, count(*)::BIGINT AS n_grams,
       |    count(e.gram)::BIGINT AS n_shared
       |  FROM c LEFT JOIN e USING (gram)
       |  GROUP BY c.doc_id
       |), r AS (
       |  SELECT dd.doc_id,
       |    coalesce(p.n_grams, 0)::BIGINT AS n_grams,
       |    coalesce(p.n_shared, 0)::BIGINT AS n_shared,
       |    (CASE WHEN p.n_grams > 0 THEN p.n_shared * 1000000 // p.n_grams
       |     END)::BIGINT AS contam_ppm
       |  FROM documents dd LEFT JOIN p USING (doc_id)
       |  WHERE dd.doc_id >= $EvalDocs)
       |SELECT doc_id, n_grams, n_shared, contam_ppm,
       |  coalesce(contam_ppm >= $ContamPpmMax, false) AS flagged
       |FROM r ORDER BY doc_id""".stripMargin

  /** Per-language sampling rates, per mille — the data-mixing knob
    * (downsample the dominant language, keep the tails).
    */
  private val RatesPerMille: Seq[(String, Int)] =
    Seq("en" -> 300, "fr" -> 500, "es" -> 500, "de" -> 500, "zh" -> 800)
  private val DefaultPerMille = 500

  /** Deterministic stratified sampling for data mixing: each language
    * stratum keeps a fixed rate of documents, selected by a
    * multiplicative (Knuth) hash of doc_id — reproducible across
    * runs and engines with no RNG state, and a narrow zero-shuffle
    * filter at any scale.
    *
    * The portable `((doc_id % 1000003) * 2654435761) % 1000` hash is
    * chosen for exact DuckDB-oracle parity; the pre-mod by a prime
    * keeps the product inside Long at ANY id (max ~2.7e15), so the
    * expression neither overflows under ANSI mode nor wraps negative.
    * In production, `xxhash64(doc_id)` is the drop-in upgrade (same
    * plan shape, better avalanche across the full id range).
    */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val rate = RatesPerMille.foldLeft(lit(DefaultPerMille)) {
      case (acc, (lang, r)) => when(col("lang") === lang, r).otherwise(acc)
    }
    Tables.documents(spark, dir)
      .filter((col("doc_id") % 1000003L * lit(2654435761L)) % 1000 < rate)
      .select(col("doc_id"), col("lang"))
  }

  def stratifiedSampleSql: String = {
    val cases = RatesPerMille
      .map { case (l, r) => s"WHEN '$l' THEN $r" }.mkString(" ")
    s"""SELECT doc_id, lang
       |FROM documents
       |WHERE (doc_id % 1000003 * 2654435761) % 1000 <
       |  (CASE lang $cases ELSE $DefaultPerMille END)
       |ORDER BY doc_id""".stripMargin
  }

  /** Sample size per source for [[weightedSample]]. */
  private val WsK = 10

  /** WEIGHTED sampling without replacement — PRIORITY SAMPLING
    * (Duffield, Lund & Thorup, "Priority sampling for estimation of
    * arbitrary subset sums", JACM 2007): per source, each doc draws
    * priority q = w/u from weight w = n_chars + 1 and a deterministic
    * uniform u ∈ (0, 1] (48-bit md5 bucket of the doc id — the
    * [[dataSplit]] hash idiom, +1 so u is never 0); keep the top
    * k = 10 priorities, and publish the unbiased subset-sum weight
    * estimate ŵ = max(w, τ) where the threshold τ is the (k+1)-th
    * priority (groups of ≤ k docs keep everything with ŵ = w).
    * Σŵ over any kept subset estimates that subset's true Σw — the
    * sampling layer a mixture-weighted 100 TB corpus needs when docs
    * are size-weighted, next to [[stratifiedSample]]'s per-language
    * Bernoulli gate.
    *
    * Cross-engine exactness: u = (v+1)/2⁴⁸ is EXACT (integer + power-
    * of-two divide) and q = w/u is one correctly-rounded IEEE divide,
    * so priorities are bit-identical on both engines — no rounding
    * anywhere in the query.
    *
    * Scale shape: one hash shuffle on source for the per-source
    * window top-k (sources are few and fat — AQE's skew split handles
    * an outlier source); τ rides the same window, no second shuffle,
    * no driver state. A doc with w ≥ τ is structurally ALWAYS kept
    * (u ≤ 1 ⇒ q ≥ w ≥ τ) — the heavy-tail guarantee the spec pins.
    */
  def weightedSample(spark: SparkSession, dir: String): DataFrame =
    weightedSampleDocs(Tables.documents(spark, dir))

  private[graft] def weightedSampleDocs(docs: DataFrame): DataFrame = {
    val wSrc = Window.partitionBy("source")
    val wRank = wSrc.orderBy(col("priority").desc, col("doc_id"))
    docs
      .select(col("doc_id"), col("source"),
        (col("n_chars") + lit(1L)).cast("double").as("w"),
        ((conv(substring(md5(col("doc_id").cast("string")), 1, 12), 16, 10)
          .cast("long").cast("double") + 1.0) /
          lit(281474976710656.0)).as("u"))
      .withColumn("priority", col("w") / col("u"))
      .withColumn("rk", row_number().over(wRank))
      .withColumn("tau",
        max(when(col("rk") === WsK + 1, col("priority"))).over(wSrc))
      .filter(col("rk") <= WsK)
      .withColumn("w_est",
        when(col("tau").isNull, col("w"))
          .otherwise(greatest(col("w"), col("tau"))))
      .select("source", "rk", "doc_id", "w", "priority", "tau", "w_est")
  }

  def weightedSampleSql: String =
    s"""WITH p AS (
       |  SELECT doc_id, source,
       |    (n_chars + 1)::DOUBLE AS w,
       |    (n_chars + 1)::DOUBLE /
       |      ((('0x' || substr(md5(doc_id::VARCHAR), 1, 12))::BIGINT + 1)
       |        / 281474976710656.0) AS priority
       |  FROM documents
       |), r AS (
       |  SELECT *,
       |    row_number() OVER (PARTITION BY source
       |      ORDER BY priority DESC, doc_id) AS rk
       |  FROM p
       |), t AS (
       |  SELECT *,
       |    max(CASE WHEN rk = ${WsK + 1} THEN priority END)
       |      OVER (PARTITION BY source) AS tau
       |  FROM r
       |)
       |SELECT source, rk, doc_id, w, priority, tau,
       |  CASE WHEN tau IS NULL THEN w ELSE greatest(w, tau) END AS w_est
       |FROM t WHERE rk <= $WsK ORDER BY source, rk""".stripMargin

  /** PII patterns, redacted in a fixed order (URLs first — they can
    * contain email-shaped substrings). Pattern syntax restricted to
    * the Java-regex ∩ RE2 subset (no lookaround/backrefs) so Spark
    * and the DuckDB oracle find identical matches.
    */
  private val PiiPatterns: Seq[(String, String)] = Seq(
    "url" -> s"https?://[^${TextOps.Ws}]+",
    "email" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "ssn" -> "[0-9]{3}-[0-9]{2}-[0-9]{4}")

  /** Scrub URLs, email addresses, and SSN-shaped numbers from a text
    * column — the PII-redaction pass of a training-data pipeline.
    * Pure codegen'd per-row work: zero shuffle at any scale.
    */
  private[graft] def redactPii(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    PiiPatterns.foldLeft(c) { case (acc, (_, pat)) =>
      regexp_replace(acc, pat, "<REDACTED>")
    }

  private[graft] def piiCount(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    PiiPatterns.map { case (_, pat) => regexp_count(c, lit(pat)) }
      .reduce(_ + _).cast("long")

  /** Per-doc PII redaction report: scrubbed text + match count.
    * The count is taken BEFORE scrubbing on the original text per
    * pattern in the same fixed order, so overlapping hits (an email
    * inside a URL) count once per pattern on both engines.
    */
  def redactPiiDocs(spark: SparkSession, dir: String): DataFrame =
    redactDocs(Tables.documents(spark, dir))

  /** Unordered kernel — the streaming ingestion scrub serves THIS
    * (stateless per-row projection; the dir wrapper adds only the
    * oracle determinism sort).
    */
  private[graft] def redactDocs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      redactPii(col("text")).as("clean_text"),
      piiCount(col("text")).as("n_pii_matches"))

  def redactPiiSql: String = {
    // SQL string literals don't process backslashes, so the Scala
    // pattern (single backslashes) embeds verbatim
    val repl = PiiPatterns.foldLeft("text") { case (acc, (_, pat)) =>
      s"regexp_replace($acc, '$pat', '<REDACTED>', 'g')"
    }
    val cnt = PiiPatterns
      .map { case (_, pat) => s"len(regexp_extract_all(text, '$pat'))" }
      .mkString(" + ")
    s"""SELECT doc_id, $repl AS clean_text, ($cnt)::BIGINT AS n_pii_matches
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** Per-source PII DENSITY report — the governance view a corpus
    * owner reads before deciding whether a source needs the
    * [[redactPiiDocs]] pass at all (and audits after it ran): per
    * source, the per-class match masses (url / email / ssn, the same
    * fixed [[PiiPatterns]] order the scrubber applies), how many docs
    * carry ANY match, that as ppm of the source, and total matches
    * per million tokens — the density number that makes sources
    * comparable across wildly different sizes. All integer (`DIV`) →
    * hash-exact.
    *
    * Scale shape: per-class regexp counts are codegen'd per-row work;
    * ONE map-side-combined (source)-keyed aggregate; the report is
    * sources-sized.
    */
  def piiStats(spark: SparkSession, dir: String): DataFrame =
    piiStatsDocs(Tables.documents(spark, dir))

  private[graft] def piiStatsDocs(docs: DataFrame): DataFrame = {
    val perDoc = docs
      .select(Seq(col("source"),
        size(filter(split(trim(col("text")), s"[${TextOps.Ws}]+"),
          w => w =!= lit(""))).cast("long").as("n_tok")) ++
        PiiPatterns.map { case (name, pat) =>
          regexp_count(col("text"), lit(pat)).cast("long").as(s"n_$name")
        }: _*)
    val classSums = PiiPatterns.map { case (name, _) =>
      sum(s"n_$name").as(s"${name}_matches") }
    val anyPii = PiiPatterns.map(p => col(s"n_${p._1}")).reduce(_ + _) > 0
    perDoc
      .withColumn("has_pii", anyPii.cast("long"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        (Seq(sum("n_tok").as("n_tokens")) ++ classSums :+
          sum("has_pii").as("docs_with_pii")): _*)
      .withColumn("pii_docs_ppm",
        expr("docs_with_pii * 1000000 DIV n_docs"))
      .withColumn("pii_per_mtok", expr(
        s"(${PiiPatterns.map(p => s"${p._1}_matches").mkString(" + ")})" +
          " * 1000000 DIV n_tokens"))
  }

  def piiStatsSql: String = {
    val perDoc = PiiPatterns.map { case (name, pat) =>
      s"len(regexp_extract_all(text, '$pat'))::BIGINT AS n_$name"
    }.mkString(",\n      |    ")
    val sums = PiiPatterns.map { case (name, _) =>
      s"sum(n_$name)::BIGINT AS ${name}_matches" }.mkString(", ")
    val anyPii = PiiPatterns.map(p => s"n_${p._1}").mkString(" + ")
    val total = PiiPatterns.map(p => s"${p._1}_matches").mkString(" + ")
    s"""WITH per_doc AS (
      |  SELECT source,
      |    len(list_filter(string_split_regex(trim(text), '\\s+'),
      |      w -> w <> ''))::BIGINT AS n_tok,
      |    $perDoc
      |  FROM documents
      |), agg AS (
      |  SELECT source, count(*)::BIGINT AS n_docs,
      |    sum(n_tok)::BIGINT AS n_tokens, $sums,
      |    sum(CASE WHEN $anyPii > 0 THEN 1 ELSE 0 END)::BIGINT
      |      AS docs_with_pii
      |  FROM per_doc GROUP BY source
      |)
      |SELECT *, (docs_with_pii * 1000000 // n_docs)::BIGINT AS pii_docs_ppm,
      |  (($total) * 1000000 // n_tokens)::BIGINT AS pii_per_mtok
      |FROM agg ORDER BY source""".stripMargin
  }

  /** Context-window budget for [[packSequences]]. */
  private[graft] val PackBudget = 2048L

  private val packSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("n_tokens", LongType),
    StructField("start_offset", LongType), StructField("seq_id", LongType),
    StructField("offset_in_seq", LongType)))

  /** Sequence packing (the concat-and-chunk construction of packed LM
    * training batches): documents are concatenated in doc_id order
    * and cut into `budget`-token sequences; each doc reports its
    * global token start offset, the sequence it starts in, and the
    * offset inside that sequence.
    *
    * The global cumulative sum runs as a DISTRIBUTED two-pass prefix
    * sum: docs are range-partitioned by an explicit id/step
    * partitioner (computed from max(doc_id) — deterministic, no
    * sampling, unlike repartitionByRange), pass 1 sums each partition
    * (one tiny row per partition to the driver), pass 2 streams each
    * partition once adding its broadcast base offset. No global sort,
    * no single-partition window — the 100 TB shape for any running
    * total.
    */
  def packSequences(spark: SparkSession, dir: String,
      budget: Long = PackBudget): DataFrame =
    packSequencesDocs(Tables.documents(spark, dir), budget)

  private[graft] def packSequencesDocs(docs: DataFrame,
      budget: Long = PackBudget): DataFrame = {
    val spark = docs.sparkSession
    val toks = docs
      .select(col("doc_id"),
        size(split(trim(col("text")), s"[${TextOps.Ws}]+")).cast("long").as("n_tokens"))
    val maxRow = toks.agg(max("doc_id"), min("doc_id")).head
    if (maxRow.isNullAt(0))
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], packSchema)
    require(maxRow.getLong(1) >= 0,
      "packSequencesDocs: negative doc_id would break the id/step partitioner")
    val maxId = maxRow.getLong(0)
    val parts = math.max(spark.sparkContext.defaultParallelism, 1)
    val step = math.max(maxId / parts + 1, 1L)
    val partitioner = new org.apache.spark.Partitioner {
      def numPartitions: Int = parts
      def getPartition(key: Any): Int = (key.asInstanceOf[Long] / step).toInt
    }
    // persist the sorted shuffle output: both the partition-sum pass
    // and the offset pass consume it, and without a cache the corpus
    // scan + shuffle would run twice (and the base offsets would rely
    // on the recompute being deterministic)
    val sorted = toks.rdd.map(r => (r.getLong(0), r.getLong(1)))
      .repartitionAndSortWithinPartitions(partitioner)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val partSums = sorted
      .mapPartitionsWithIndex { (i, it) =>
        var s = 0L; it.foreach(s += _._2); Iterator.single((i, s))
      }
      .collect().sortBy(_._1).map(_._2)
    val baseOffsets = spark.sparkContext.broadcast(partSums.scanLeft(0L)(_ + _))
    val rows = sorted.mapPartitionsWithIndex { (i, it) =>
      var acc = baseOffsets.value(i)
      it.map { case (id, n) =>
        val start = acc
        acc += n
        Row(id, n, start, start / budget, start % budget)
      }
    }
    // materialize the (one-small-row-per-doc) result so the input
    // cache can be freed before returning; the checkpoint cuts the
    // lineage, so the unpersist can't trigger a recompute of the
    // corpus shuffle later
    val out = spark.createDataFrame(rows, packSchema).orderBy("doc_id")
      .localCheckpoint(eager = true)
    sorted.unpersist(blocking = false)
    out
  }

  /** Deterministic training-data SHARDING and ordering — the
    * reproducible global shuffle every training run needs: identical
    * inputs must yield identical shard files in identical order on
    * any cluster, any partition count, any round (re-running a data
    * job must not silently reorder an epoch). Each document hashes to
    * a seeded md5 key; the shard is the key's leading 24 bits mod
    * `numShards`, and the position inside the shard is the rank of
    * (key, doc_id) — a total order, so ties are impossible and the
    * output is a pure function of (seed, corpus).
    *
    * Scale shape: the hash and shard columns are narrow map-side
    * projections (no shuffle); the only exchange is the rank window's
    * hash partition on `shard`. Production shard counts (2¹⁰-2¹⁴)
    * spread that window across the cluster — per-shard sort of
    * corpus/numShards keys, never a global single-partition order
    * (an `ntile`-style global rank here would serialize the corpus
    * through one task). md5 rather than xxhash64 because the ORDER
    * must be engine-portable: both engines hash the same UTF-8 bytes
    * to the same hex string, so the oracle proves the exact epoch
    * order, not just the partition sizes.
    */
  def shardOrder(spark: SparkSession, dir: String,
      numShards: Int = 8, seed: String = "graft"): DataFrame =
    shardOrderDocs(Tables.documents(spark, dir), numShards, seed)

  private[graft] def shardOrderDocs(docs: DataFrame,
      numShards: Int = 8, seed: String = "graft"): DataFrame = {
    val w = Window.partitionBy("shard").orderBy("h", "doc_id")
    docs
      .select(col("doc_id"),
        md5(concat_ws(":", lit(seed), col("doc_id").cast("string"))
          .cast("binary")).as("h"))
      .withColumn("shard",
        expr("conv(substring(h, 1, 6), 16, 10)").cast("long") % numShards)
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("shard"), col("pos"), col("h").as("sort_key"))
  }

  /** DuckDB dual of [[shardOrder]]: same md5 of the same seeded UTF-8
    * input, `('0x' || hex)::BIGINT` standing in for Spark's
    * `conv(hex, 16, 10)` (both exact on 24 bits), same rank window.
    */
  def shardOrderSql: String =
    """WITH k AS (
      |  SELECT doc_id, md5('graft:' || doc_id::VARCHAR) AS h
      |  FROM documents
      |), s AS (
      |  SELECT doc_id, h,
      |    ('0x' || substr(h, 1, 6))::BIGINT % 8 AS shard
      |  FROM k
      |)
      |SELECT doc_id, shard,
      |  row_number() OVER (PARTITION BY shard ORDER BY h, doc_id)::BIGINT AS pos,
      |  h AS sort_key
      |FROM s ORDER BY shard, pos""".stripMargin

  /** Deterministic train/val/test ASSIGNMENT, keyed on CONTENT, not
    * id: the split bucket comes from md5 of the text bytes, so
    * byte-identical duplicates can never straddle splits — the
    * cheapest structural guard against train/test leakage through
    * unnoticed dups (near-dups still need q_decontaminate; this
    * closes the exact-copy channel at assignment time). 900/50/50
    * per-mille buckets on the first 24 hash bits (engine-portable,
    * same [[shardOrder]] idiom). Pure per-row projection: zero
    * shuffle at any scale, streams unchanged.
    */
  def dataSplit(spark: SparkSession, dir: String): DataFrame =
    dataSplitDocs(Tables.documents(spark, dir))

  private[graft] def dataSplitDocs(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        splitName(splitBucket(col("text").cast("binary"))).as("split"))

  def dataSplitSql: String =
    """SELECT doc_id,
      |  CASE WHEN b < 900 THEN 'train' WHEN b < 950 THEN 'val'
      |       ELSE 'test' END AS split
      |FROM (
      |  SELECT doc_id, ('0x' || substr(md5(text), 1, 6))::BIGINT % 1000 AS b
      |  FROM documents)
      |ORDER BY doc_id""".stripMargin

  /** CLUSTER-cohesive split — [[dataSplit]] extended to near-dups:
    * every document is assigned by its near-dup cluster
    * REPRESENTATIVE's content hash ([[Dedup.dedupCanonical]]'s
    * selection), so an entire near-dup cluster lands in one split and
    * the near-duplicate leakage channel closes too. Exact dups that
    * share a cluster (or are all unembedded singletons, where the
    * content bucket decides) ride the same guarantee; a byte-
    * identical pair split across an embedded cluster and an
    * unembedded singleton is NOT structurally covered — that cell is
    * what [[splitLeakage]] measures. Singletons reduce to
    * [[dataSplit]] exactly (their canonical is themselves —
    * spec-pinned).
    *
    * Scale shape: the canonical map is the standing artifact the
    * incremental dedup tier already maintains (at 100 TB this query
    * reads it rather than re-resolving components); the only new work
    * is one left join of docs onto it plus one equi-join of the
    * coalesced canonical key against the rep's bucket projection.
    *
    * The assignment is TOTAL over `documents`: a doc with no
    * embedding (and so no cluster row) is its own singleton — its
    * canonical is itself and it gets exactly [[dataSplit]]'s bucket.
    * An inner join here would silently drop every unembedded doc
    * from the epoch, which is how a 100 TB corpus loses mass without
    * anyone noticing ([[splitLeakage]]'s audit caught exactly that
    * in review).
    */
  def dataSplitCluster(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val canon = Dedup.dedupCanonical(spark, dir)
      .select(col("doc_id"), col("canonical_id"))
    val repBucket = docs
      .select(col("doc_id").as("canonical_id"),
        splitBucket(col("text").cast("binary")).as("b"))
    docs.select(col("doc_id"))
      .join(canon, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("canonical_id"), col("doc_id")).as("canonical_id"))
      .join(repBucket, "canonical_id")
      .select(col("doc_id"), col("canonical_id"),
        splitName(col("b")).as("split"))
  }

  def dataSplitClusterSql: String =
    s"""WITH RECURSIVE ${Dedup.clusterClosureCtes},
      |${Dedup.canonicalSelectionCte},
      |a AS (
      |  SELECT d.doc_id, coalesce(c.canonical_id, d.doc_id) AS canonical_id
      |  FROM documents d LEFT JOIN canon c ON c.vec_id = d.doc_id
      |), rb AS (
      |  SELECT doc_id, ('0x' || substr(md5(text), 1, 6))::BIGINT % 1000 AS b
      |  FROM documents
      |)
      |SELECT a.doc_id, a.canonical_id,
      |  CASE WHEN rb.b < 900 THEN 'train' WHEN rb.b < 950 THEN 'val'
      |       ELSE 'test' END AS split
      |FROM a JOIN rb ON rb.doc_id = a.canonical_id
      |ORDER BY 1""".stripMargin

  /** The 24-bit md5 per-mille bucket shared by every split-assignment
    * strategy here — one definition so [[splitLeakage]]'s three
    * strategies cannot drift from [[dataSplit]]'s rule.
    */
  private def splitBucket(bytes: Column): Column =
    conv(substring(md5(bytes), 1, 6), 16, 10).cast("long") % 1000

  private def splitName(b: Column): Column =
    when(b < 900, "train").when(b < 950, "val").otherwise("test")

  /** Cross-split LEAKAGE AUDIT — the report that justifies the
    * content-keyed split family: for each of three assignment
    * strategies (naive `id_hash`, [[dataSplit]]'s `content_hash`,
    * [[dataSplitCluster]]'s `cluster_content`), how many
    * byte-identical text groups and how many near-dup clusters
    * straddle more than one split. `content_hash` closes the exact
    * channel and `cluster_content` closes the cluster channel — both
    * BY CONSTRUCTION; `cluster_content`'s exact channel is merely
    * MEASURED (an embedded doc follows its representative's bucket,
    * so a byte-identical twin sitting outside that cluster — e.g. an
    * unembedded copy — could in principle diverge; it measures 0 on
    * the shipped corpus and the spec recounts it rather than assumes
    * it). The `id_hash` row is the counterfactual a careless pipeline
    * ships — the audit makes the guarantees measurable instead of
    * asserted.
    *
    * The audit is TOTAL over `documents` (same contract as
    * [[dataSplitCluster]]): docs with no embedding are their own
    * singleton cluster — a prefixed string key keeps them from
    * colliding with real cluster ids, and their cluster-strategy
    * split falls back to their own content bucket. The first cut of
    * this query inner-joined the canonical map and silently audited
    * only the embedded 40% of the corpus — the exact blind spot the
    * audit exists to catch.
    *
    * Scale shape: the three assignments are pure projections off one
    * corpus scan (the cluster strategy reads the standing canonical
    * map the incremental dedup tier maintains); the melt is a
    * generator, not a shuffle; each channel is one partial-agg
    * shuffle on its group key and the final join is 3 rows.
    */
  def splitLeakage(spark: SparkSession, dir: String): DataFrame =
    splitLeakageOf(Tables.documents(spark, dir),
      Dedup.dedupCanonical(spark, dir)
        .select(col("doc_id"), col("cluster_id"), col("canonical_id")))

  /** Kernel over any (docs, canonical-map) pair — split out so the
    * scale probe can feed an arithmetic canonical without paying
    * cluster resolution.
    */
  private[graft] def splitLeakageOf(docs: DataFrame,
      canon: DataFrame): DataFrame = {
    val repSplit = docs
      .select(col("doc_id").as("canonical_id"),
        splitName(splitBucket(col("text").cast("binary"))).as("rep_split"))
    // ONE pass: melt strategies AND channels off the same scan+join
    // subtree (3 strategies × 2 channels = 6 narrow rows per doc).
    // A per-channel aggregation pair would re-execute the whole melt
    // subtree — the exchanges partition on different keys, so nothing
    // below them is reused (caught in review; this shape scans once).
    val counts = docs
      .select(col("doc_id"), md5(col("text").cast("binary")).as("content_key"),
        splitName(splitBucket(col("doc_id").cast("string").cast("binary"))).as("s_id"),
        splitName(splitBucket(col("text").cast("binary"))).as("s_content"))
      .join(canon, Seq("doc_id"), "left")
      .join(repSplit, Seq("canonical_id"), "left")
      .select(col("content_key"),
        coalesce(concat(lit("c"), col("cluster_id")),
          concat(lit("d"), col("doc_id"))).as("cluster_key"),
        col("s_id"), col("s_content"),
        coalesce(col("rep_split"), col("s_content")).as("s_cluster"))
      .selectExpr("content_key", "cluster_key",
        "stack(3, 'id_hash', s_id, 'content_hash', s_content, " +
          "'cluster_content', s_cluster) AS (strategy, split)")
      .selectExpr("strategy", "split",
        "stack(2, 'exact', content_key, 'cluster', cluster_key) AS (channel, k)")
      .groupBy("strategy", "channel", "k")
      .agg(countDistinct("split").as("ns"))
      .groupBy("strategy", "channel")
      .agg(sum(when(col("ns") > 1, 1L).otherwise(0L)).as("leaked"))
    counts.groupBy("strategy")
      .agg(
        max(when(col("channel") === "exact", col("leaked")))
          .as("exact_leaked_groups"),
        max(when(col("channel") === "cluster", col("leaked")))
          .as("cluster_leaked_clusters"))
  }

  /** DuckDB dual of [[splitLeakage]]: same buckets off the same md5
    * bytes, same closure + canonical CTEs as the cluster split, the
    * melt as a 3-way UNION ALL.
    */
  def splitLeakageSql: String = {
    def splitCase(b: String): String =
      s"CASE WHEN $b < 900 THEN 'train' WHEN $b < 950 THEN 'val' ELSE 'test' END"
    s"""WITH RECURSIVE ${Dedup.clusterClosureCtes},
      |${Dedup.canonicalSelectionCte},
      |a AS (
      |  SELECT d.doc_id, md5(d.text) AS content_key,
      |    coalesce('c' || c.cluster_id::VARCHAR, 'd' || d.doc_id::VARCHAR)
      |      AS cluster_key,
      |    ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 6))::BIGINT % 1000 AS b_id,
      |    ('0x' || substr(md5(d.text), 1, 6))::BIGINT % 1000 AS b_content,
      |    ('0x' || substr(md5(coalesce(r.text, d.text)), 1, 6))::BIGINT % 1000
      |      AS b_cluster
      |  FROM documents d
      |  LEFT JOIN canon c ON c.vec_id = d.doc_id
      |  LEFT JOIN documents r ON r.doc_id = c.canonical_id
      |), m AS (
      |  SELECT 'id_hash' AS strategy, content_key, cluster_key,
      |    ${splitCase("b_id")} AS split FROM a
      |  UNION ALL SELECT 'content_hash', content_key, cluster_key,
      |    ${splitCase("b_content")} FROM a
      |  UNION ALL SELECT 'cluster_content', content_key, cluster_key,
      |    ${splitCase("b_cluster")} FROM a
      |), mk AS (
      |  SELECT strategy, split, 'exact' AS channel, content_key AS k FROM m
      |  UNION ALL
      |  SELECT strategy, split, 'cluster' AS channel, cluster_key AS k FROM m
      |), g AS (
      |  SELECT strategy, channel, k, count(DISTINCT split) AS ns
      |  FROM mk GROUP BY 1, 2, 3
      |), l AS (
      |  SELECT strategy, channel,
      |    sum(CASE WHEN ns > 1 THEN 1 ELSE 0 END)::BIGINT AS leaked
      |  FROM g GROUP BY 1, 2
      |)
      |SELECT strategy,
      |  max(CASE WHEN channel = 'exact' THEN leaked END)::BIGINT
      |    AS exact_leaked_groups,
      |  max(CASE WHEN channel = 'cluster' THEN leaked END)::BIGINT
      |    AS cluster_leaked_clusters
      |FROM l GROUP BY strategy ORDER BY strategy""".stripMargin
  }

  // ------------------------------------------------------ data mixing

  /** Per-source (domain) corpus statistics — the inputs a data-mixing
    * stage weighs: document and token mass, language spread, token
    * share of the corpus. One partial-agg shuffle on `source`; the
    * corpus-total join is a broadcast of a single aggregated row (a
    * global window here would serialize the per-source table through
    * one partition at scale).
    *
    * token_share is an exact BIGINT÷BIGINT division; mean_chars is
    * sum÷count — both bit-stable across engines.
    */
  def domainStats(spark: SparkSession, dir: String): DataFrame = {
    val perSource = Tables.documents(spark, dir)
      .select(col("source"), col("lang"), col("n_chars"),
        size(filter(split(trim(col("text")), s"[${TextOps.Ws}]+"),
          w => w =!= lit(""))).cast("long").as("n_tok"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"),
        countDistinct("lang").as("n_langs"), sum("n_chars").as("sum_chars"))
    val totals = perSource.agg(sum("n_tokens").as("total_tokens"))
    perSource.crossJoin(broadcast(totals))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("n_langs"),
        (col("sum_chars").cast("double") / col("n_docs").cast("double")).as("mean_chars"),
        (col("n_tokens").cast("double") / col("total_tokens").cast("double")).as("token_share"))
  }

  def domainStatsSql: String =
    """WITH per_doc AS (
      |  SELECT source, lang, n_chars,
      |    len(list_filter(string_split_regex(trim(text), '\s+'), w -> w <> ''))::BIGINT AS n_tok
      |  FROM documents
      |), per_source AS (
      |  SELECT source, count(*)::BIGINT AS n_docs, sum(n_tok)::BIGINT AS n_tokens,
      |    count(DISTINCT lang)::BIGINT AS n_langs, sum(n_chars)::BIGINT AS sum_chars
      |  FROM per_doc GROUP BY source
      |), t AS (SELECT sum(n_tokens)::BIGINT AS total_tokens FROM per_source)
      |SELECT source, n_docs, n_tokens, n_langs,
      |  sum_chars::DOUBLE / n_docs AS mean_chars,
      |  n_tokens::DOUBLE / total_tokens AS token_share
      |FROM per_source, t ORDER BY source""".stripMargin

  /** Split-assignment STATISTICS — the sanity report read right
    * after [[dataSplit]] runs: per (split, source) cell, document and
    * token mass plus each cell's token share of its split in ppm
    * (integer arithmetic, hash-exact). What it answers: did the
    * content-hash assignment keep every source represented in val and
    * test, and do the per-split source mixes track the corpus mix —
    * the check that catches a skewed or near-empty holdout before a
    * training run trusts it.
    *
    * Scale shape: the split column is a pure projection
    * ([[dataSplitDocs]]), so this is [[domainStats]]'s single
    * partial-agg shuffle with a two-column key; the split totals ride
    * a window over the aggregated cells (splits × sources rows).
    */
  def splitStats(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val perCell = docs
      .join(dataSplitDocs(docs).select("doc_id", "split"), "doc_id")
      .select(col("split"), col("source"), col("n_chars"),
        size(filter(split(trim(col("text")), s"[${TextOps.Ws}]+"),
          w => w =!= lit(""))).cast("long").as("n_tok"))
      .groupBy("split", "source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"),
        sum("n_chars").as("sum_chars"))
    perCell
      .withColumn("split_tokens",
        sum("n_tokens").over(Window.partitionBy("split")))
      .withColumn("token_share_ppm",
        expr("n_tokens * 1000000 DIV split_tokens"))
  }

  def splitStatsSql: String =
    """WITH per_doc AS (
      |  SELECT
      |    CASE WHEN b < 900 THEN 'train' WHEN b < 950 THEN 'val'
      |         ELSE 'test' END AS split,
      |    source, n_chars,
      |    len(list_filter(string_split_regex(trim(text), '\s+'), w -> w <> ''))::BIGINT AS n_tok
      |  FROM (
      |    SELECT doc_id, source, n_chars, text,
      |      ('0x' || substr(md5(text), 1, 6))::BIGINT % 1000 AS b
      |    FROM documents)
      |), per_cell AS (
      |  SELECT split, source, count(*)::BIGINT AS n_docs,
      |    sum(n_tok)::BIGINT AS n_tokens, sum(n_chars)::BIGINT AS sum_chars
      |  FROM per_doc GROUP BY split, source
      |)
      |SELECT split, source, n_docs, n_tokens, sum_chars,
      |  sum(n_tokens) OVER (PARTITION BY split)::BIGINT AS split_tokens,
      |  ((n_tokens * 1000000) // (sum(n_tokens) OVER (PARTITION BY split)))::BIGINT
      |    AS token_share_ppm
      |FROM per_cell ORDER BY split, source""".stripMargin

  /** Temperature-based mixture sampling (the multilingual/multi-domain
    * rebalancing rule, α = 0.5): source s is downsampled at rate
    * `sqrt(min_tokens / tokens_s)` — algebraically the α = 0.5
    * temperature weights `q_s ∝ p_s^α` realized by per-document
    * acceptance, normalized so the SMALLEST source keeps everything
    * (subsampling can only downweight). The formulation is chosen for
    * bit-stability: one sqrt of an exact integer ratio — sqrt is
    * correctly rounded under IEEE 754 on both engines, unlike pow —
    * so the acceptance threshold is cross-engine exact.
    *
    * Acceptance reuses the deterministic multiplicative doc_id hash of
    * [[stratifiedSample]] (per-million here for rate resolution);
    * production key ranges swap in xxhash64 the same way.
    */
  def mixtureSample(spark: SparkSession, dir: String): DataFrame = {
    // persisted: the narrow (doc_id, source, n_tok) projection feeds
    // BOTH the per-source totals and the acceptance filter — without
    // it the scan + tokenize replays once per consumer
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(filter(split(trim(col("text")), s"[${TextOps.Ws}]+"),
          w => w =!= lit(""))).cast("long").as("n_tok"))
      .persist()
    docs.join(broadcast(mixtureRatesOf(docs)), Seq("source"))
      .filter(mixtureAccept(col("doc_id"), col("accept_ppm")))
      .select(col("doc_id"), col("source"), col("accept_ppm"))
  }

  /** Per-source acceptance rates (ppm) of the α = 0.5 temperature
    * mixture over a (source, n_tok) projection — one tiny DataFrame
    * (a row per source), shared by the batch sampler and the
    * streaming serve path (collected + broadcast there).
    */
  private[graft] def mixtureRatesOf(docs: DataFrame): DataFrame =
    ratesByKey(docs, "source")

  /** α = 0.5 temperature acceptance rates (ppm) over a (key, n_tok)
    * projection, for any grouping key — shared by the source mixture
    * and the cluster (topic) mixture.
    */
  private def ratesByKey(docs: DataFrame, key: String): DataFrame = {
    // persisted: perKey (a row per key) feeds both the minimum
    // aggregate and the crossJoin — without it the corpus scan under
    // it replays per consumer when `docs` itself isn't cached
    val perKey = docs.groupBy(key).agg(sum("n_tok").as("n_tokens"))
      .persist()
    val minTok = perKey.agg(min("n_tokens").as("min_tokens"))
    perKey.crossJoin(broadcast(minTok))
      .select(col(key),
        round(sqrt(col("min_tokens").cast("double") / col("n_tokens").cast("double"))
          * 1000000, 0).cast("long").as("accept_ppm"))
  }

  /** Cluster-temperature rebalancing — the SEMANTIC dual of
    * [[mixtureSample]]: source labels say who WROTE a doc; the coarse
    * cells of the SAME seeded IVF quantizer the ANN index and SemDeDup
    * share say what it is ABOUT. Docs group by their embedding's cell,
    * per-cell token masses get the identical α = 0.5 treatment, and
    * thinning applies the SAME deterministic doc_id hash predicate —
    * over-represented TOPICS thin toward balance even when every doc
    * carries one source label. The assignment is a narrow
    * broadcast-model map; one shuffle on the cell key for the masses.
    * (KMeans cells aren't SQL-expressible → rows-only + spec.)
    */
  def topicMix(spark: SparkSession, dir: String): DataFrame = {
    val cells = Similarity.ivfIndex(spark, dir).assigned
      .select(col("vec_id").as("doc_id"), col("cell"))
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(filter(split(trim(col("text")), s"[${TextOps.Ws}]+"),
          w => w =!= lit(""))).cast("long").as("n_tok"))
      .join(cells, Seq("doc_id"))
      .persist()
    docs.join(broadcast(ratesByKey(docs, "cell")), Seq("cell"))
      .filter(mixtureAccept(col("doc_id"), col("accept_ppm")))
      .select(col("doc_id"), col("cell"), col("accept_ppm"))
  }

  /** TOPIC-MIX GATE (round-12 partial-oracle tier, the
    * [[graft.operators.Similarity.kmeansGate]] pattern): the cells
    * aren't SQL-expressible, but given them every verdict
    * [[topicMix]] issues is deterministic arithmetic — so this gate
    * RE-DERIVES the whole accepted set from raw expressions (per-cell
    * masses, the α = 0.5 rate formula, and the multiplicative doc_id
    * hash written out literally — none of the shared helpers) and
    * hash-grades the reconciliation: `n_docs` is the oracle's own
    * documents⋈embeddings count and the three booleans must equal the
    * TRUE literals — a drifted rate table, a changed acceptance hash,
    * or a dropped/phantom accepted doc breaks the driver hash instead
    * of waiting for a spec run. Antitonicity (bigger token mass ⇒ no
    * larger accept rate) and the full-rate minimum cell pin the rate
    * CURVE, not just the membership.
    *
    * Scale shape: one corpus scan into the (doc_id, n_tok, cell)
    * projection (shared via persist), cell-count-sized rate tables
    * (≤16 rows) broadcast everywhere, two anti-joins on the accepted
    * sets, and map-side-combined scalar aggregates.
    */
  def topicMixGate(spark: SparkSession, dir: String): DataFrame = {
    val cells = Similarity.ivfIndex(spark, dir).assigned
      .select(col("vec_id").as("doc_id"), col("cell"))
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(filter(split(trim(col("text")), s"[${TextOps.Ws}]+"),
          w => w =!= lit(""))).cast("long").as("n_tok"))
      .join(cells, Seq("doc_id"))
      .persist()
    val perCell = docs.groupBy("cell").agg(sum("n_tok").as("mass"))
      .persist()
    val minMass = perCell.agg(min("mass").as("min_mass"))
    val rates = perCell.crossJoin(broadcast(minMass))
      .select(col("cell"), col("mass"),
        round(sqrt(col("min_mass").cast("double")
          / col("mass").cast("double")) * 1000000, 0)
          .cast("long").as("ppm"),
        (col("mass") === col("min_mass")).as("is_min"))
      .persist()
    val expected = docs.join(broadcast(rates), Seq("cell"))
      .filter(col("doc_id") % lit(1000003L) * lit(2654435761L)
        % lit(1000000L) < col("ppm"))
      .select(col("doc_id"), col("cell"), col("ppm").as("accept_ppm"))
    val actual = topicMix(spark, dir)
    val keys = Seq("doc_id", "cell", "accept_ppm")
    val missing = expected.join(actual, keys, "left_anti")
      .agg(count(lit(1)).as("miss"))
    val extra = actual.join(expected, keys, "left_anti")
      .agg(count(lit(1)).as("extra"))
    val antitone = rates.select(col("mass").as("a_mass"),
        col("ppm").as("a_ppm"))
      .crossJoin(broadcast(rates.select(col("mass").as("b_mass"),
        col("ppm").as("b_ppm"))))
      .agg(coalesce(expr(
        "bool_and(NOT (a_mass < b_mass) OR a_ppm >= b_ppm)"),
        lit(true)).as("rate_antitone_ok"))
    val minFull = rates
      .agg(coalesce(expr("bool_and(NOT is_min OR ppm = 1000000)"),
        lit(true)).as("min_cell_full_rate_ok"))
    docs.agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(missing))
      .crossJoin(broadcast(extra))
      .crossJoin(broadcast(antitone))
      .crossJoin(broadcast(minFull))
      .select(col("n_docs"),
        (col("miss") === 0 && col("extra") === 0).as("accept_match_ok"),
        col("rate_antitone_ok"), col("min_cell_full_rate_ok"))
  }

  def topicMixGateSql: String =
    """SELECT (SELECT count(*) FROM embeddings e
      |        JOIN documents d ON e.vec_id = d.doc_id) AS n_docs,
      |  true AS accept_match_ok, true AS rate_antitone_ok,
      |  true AS min_cell_full_rate_ok""".stripMargin

  /** The deterministic multiplicative doc_id priority hash — ONE
    * definition for every sampler/cap that promises reproducibility
    * ([[mixtureAccept]], [[clusterCap]], [[sampleInspection]],
    * [[dsirResampleDocs]]'s uniform leg).
    */
  private[graft] def docPrio(docId: Column): Column =
    docId % lit(1000003L) * lit(2654435761L) % lit(1000000L)

  /** The deterministic per-document acceptance test (multiplicative
    * doc_id hash vs a ppm rate) — ONE definition so batch and stream
    * cannot drift.
    */
  private[graft] def mixtureAccept(docId: Column, acceptPpm: Column): Column =
    docPrio(docId) < acceptPpm

  /** The [[docPrio]] hash itself as a SQL-oracled query: the lowest-n
    * documents by (priority, doc_id) with their priority values. This
    * is the shared deterministic-sampling primitive behind
    * [[clusterCap]]'s in-cell keep order, [[mixtureAccept]]'s
    * acceptance test, the FIM gate and the Gumbel resample — the IVF
    * cells those compose with are not SQL-expressible, but the hash
    * arithmetic and its total order ARE, so hash-grading this pins
    * the cross-engine half of every priority-ordered operator.
    *
    * Scale shape: a narrow projection + TakeOrdered top-n.
    */
  def docPrioTop(spark: SparkSession, dir: String, n: Int = 200): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), docPrio(col("doc_id")).as("prio"))
      .orderBy("prio", "doc_id").limit(n)

  def docPrioTopSql: String =
    """SELECT doc_id, ((doc_id % 1000003) * 2654435761) % 1000000 AS prio
      |FROM documents ORDER BY prio, doc_id LIMIT 200""".stripMargin

  /** Batch-side training output for the streaming sampler: the rates
    * as a driver map (a handful of sources — always collectable).
    */
  def mixtureRates(spark: SparkSession, dir: String): Map[String, Long] =
    mixtureRatesOf(Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(filter(split(trim(col("text")), s"[${TextOps.Ws}]+"),
          w => w =!= lit(""))).cast("long").as("n_tok")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** EPOCH-CAPPED MIXTURE PLAN — [[mixtureSample]]'s planning dual,
    * the data-constrained allocation every 100 TB run faces
    * (Muennighoff et al. 2023: repeating data beyond ~4 epochs stops
    * buying loss): given per-source token masses mᵢ, a total token
    * BUDGET B (budgetMult × corpus here), target α = 0.5 temperature
    * weights wᵢ ∝ √mᵢ (the [[mixtureSample]] rule — sqrt of an exact
    * integer is correctly rounded IEEE, unlike pow), and a hard cap
    * of epochCap epochs per source, allocate aᵢ = min(epochCap·mᵢ,
    * λ·wᵢ) with Σaᵢ = B — the classic waterfill. Sources whose cap
    * binds (small sources under an upweighting temperature) saturate
    * at epochCap epochs; the rest split the remaining budget in
    * target-weight proportion. Output per source: mass, weight,
    * capped flag, allocated tokens, epochs — the plan a mixture owner
    * signs off before launching the run.
    *
    * Closed form, fully declarative: sort sources by the saturation
    * point rᵢ = epochCap·mᵢ/wᵢ; for scenario "first j−1 capped",
    * λⱼ = (B − Σ_{i<j} capᵢ) / Σ_{i≥j} wᵢ, valid iff
    * r_{j−1} ≤ λⱼ ≤ rⱼ — the allocation function is continuous and
    * increasing in λ, so exactly one bracket holds (ties yield equal
    * λ). If B ≥ Σ capᵢ the plan is INFEASIBLE — every source caps and
    * the shortfall is the budget gap (allocation degrades to the cap,
    * capped = true on every row).
    *
    * Cross-engine exactness: weights are integer MICRO-units
    * (round(√m·10⁶) — the [[mixtureRatesOf]] ppm idiom), so every
    * window sum (cap prefix, weight suffix) is EXACT integer
    * arithmetic with no association sensitivity; r and λ are single
    * divisions of identical integers (correctly rounded IEEE —
    * bit-identical on both engines), and the bracket comparisons run
    * on those identical doubles. Allocation floors λ·w/10⁶ to whole
    * tokens.
    *
    * Scale shape: ONE map-side-combined (source, Σtok) aggregate over
    * the corpus; everything after runs on the sources-sized table
    * (empty-window sums over ~dozens of rows — the
    * [[graft.operators.TextOps.docLengthHistDocs]] idiom).
    */
  def epochMix(spark: SparkSession, dir: String): DataFrame =
    epochMixDocs(Tables.documents(spark, dir))

  private[graft] def epochMixDocs(docs: DataFrame, epochCap: Int = 4,
      budgetMult: Int = 3): DataFrame = {
    val perSource = docs
      .select(col("source"),
        size(filter(split(trim(col("text")), s"[${TextOps.Ws}]+"),
          w => w =!= lit(""))).cast("long").as("n_tok"))
      .groupBy("source").agg(sum("n_tok").as("n_tokens"))
      // a zero-token source (all-whitespace docs) would make w_micro=0
      // and r = 0.0/0.0 = NaN, poisoning the lam bracket comparisons —
      // and Spark's NaN ordering diverges from DuckDB's division
      // semantics. Zero-weight sources get no allocation by definition,
      // so they drop here (mirrored in the oracle's HAVING)
      .filter(col("n_tokens") > 0)
    val all = Window.partitionBy()
    val wOrd = Window.orderBy(col("r"), col("source"))
    perSource
      .withColumn("budget", sum("n_tokens").over(all) * budgetMult)
      .withColumn("w_micro",
        round(sqrt(col("n_tokens").cast("double")) * 1e6, 0).cast("long"))
      .withColumn("cap", col("n_tokens") * epochCap)
      .withColumn("r",
        col("cap").cast("double") * 1e6 / col("w_micro").cast("double"))
      .withColumn("c_prev", coalesce(sum("cap").over(
        wOrd.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("w_suffix", sum("w_micro").over(
        wOrd.rowsBetween(Window.currentRow, Window.unboundedFollowing)))
      .withColumn("lam_cand",
        (col("budget") - col("c_prev")).cast("double") * 1e6
          / col("w_suffix").cast("double"))
      .withColumn("lam", max(when(
        coalesce(lag("r", 1).over(wOrd), lit(0.0)) <= col("lam_cand")
          && col("lam_cand") <= col("r"), col("lam_cand"))).over(all))
      .withColumn("capped", coalesce(col("r") <= col("lam"), lit(true)))
      .withColumn("alloc_tokens", when(col("capped"), col("cap"))
        .otherwise(floor(col("lam") * col("w_micro").cast("double") / 1e6)))
      .select(col("source"), col("n_tokens"), col("w_micro"), col("budget"),
        col("capped"), col("alloc_tokens"),
        round(col("alloc_tokens").cast("double")
          / col("n_tokens").cast("double"), 6).as("epochs"))
  }

  def epochMixSql: String =
    """WITH per_doc AS (
      |  SELECT source,
      |    len(list_filter(string_split_regex(trim(text), '\s+'), w -> w <> ''))::BIGINT AS n_tok
      |  FROM documents
      |), per_source AS (
      |  SELECT source, sum(n_tok)::BIGINT AS n_tokens
      |  FROM per_doc GROUP BY source HAVING sum(n_tok) > 0
      |), base AS (
      |  SELECT source, n_tokens,
      |    (sum(n_tokens) OVER ())::BIGINT * 3 AS budget,
      |    round(sqrt(n_tokens::DOUBLE) * 1e6, 0)::BIGINT AS w_micro,
      |    n_tokens * 4 AS cap
      |  FROM per_source
      |), scen AS (
      |  SELECT *, cap::DOUBLE * 1e6 / w_micro::DOUBLE AS r FROM base
      |), brk AS (
      |  SELECT *,
      |    coalesce(sum(cap) OVER (ORDER BY r, source
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS c_prev,
      |    (sum(w_micro) OVER (ORDER BY r, source
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))::BIGINT AS w_suffix,
      |    lag(r) OVER (ORDER BY r, source) AS r_prev
      |  FROM scen
      |), lamed AS (
      |  SELECT *,
      |    max(CASE WHEN coalesce(r_prev, 0.0) <= lam_cand AND lam_cand <= r
      |      THEN lam_cand END) OVER () AS lam
      |  FROM (SELECT *,
      |    (budget - c_prev)::DOUBLE * 1e6 / w_suffix::DOUBLE AS lam_cand
      |    FROM brk)
      |), alloc AS (
      |  SELECT *, coalesce(r <= lam, true) AS capped FROM lamed
      |)
      |SELECT source, n_tokens, w_micro, budget, capped,
      |  (CASE WHEN capped THEN cap
      |    ELSE floor(lam * w_micro::DOUBLE / 1e6) END)::BIGINT AS alloc_tokens,
      |  round((CASE WHEN capped THEN cap
      |      ELSE floor(lam * w_micro::DOUBLE / 1e6) END)::DOUBLE
      |    / n_tokens::DOUBLE, 6) AS epochs
      |FROM alloc ORDER BY source""".stripMargin

  /** TOPIC DISCOVERY REPORT — c-TF-IDF cluster labeling (the
    * BERTopic class-based TF-IDF, Grootendorst 2022) over the SHARED
    * IVF quantizer's cells: each cell is treated as one synthetic
    * document; a term's label score is its within-cell rate times
    * ln(1 + A/f_t) (A = average tokens per cell, f_t = the term's
    * corpus-wide count), so terms common to every cell score near
    * zero and cell-distinctive vocabulary surfaces. Output: the top-5
    * label terms per cell (ties broken on the term) next to the
    * cell's size and mean cosine-to-centroid cohesion — the report a
    * mixture curator reads before trusting [[topicMix]]'s balancing.
    *
    * Reuses [[Similarity.ivfIndex]] (one quantizer across semdedup /
    * topicMix / this — cells can't mean three different things) and
    * [[TextOps.normalizedWords]] (one vocabulary across the text
    * tier). Scale shape: tokenization is narrow per-doc work; counts
    * collapse map-side to (cell, term) partials — the only shuffles
    * are (cell, term)-keyed aggregates and the vocabulary-sized
    * term-total aggregate; ranking windows run on the (cells ×
    * vocabulary) table, never docs; centroids broadcast for the
    * cohesion leg. No SQL oracle (the quantizer is a KMeans fit) —
    * rows-only + driver-replay spec.
    */
  def clusterLabels(spark: SparkSession, dir: String): DataFrame = {
    val idx = graft.operators.Similarity.ivfIndex(spark, dir)
    val cells = idx.assigned
      .select(col("vec_id").as("doc_id"), col("cell"), col("v"), col("norm"))
    val stats = cells
      .join(broadcast(idx.centers), col("cell") === col("center_cell"))
      .withColumn("cos", Dedup.dot(col("v"), col("center")) /
        (col("norm") * sqrt(Dedup.dot(col("center"), col("center")))))
      .groupBy("cell")
      .agg(count(lit(1)).as("n_docs"), round(avg("cos"), 6).as("mean_cos"))
    val words = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(TextOps.normalizedWords).as("term"))
      .filter(col("term") =!= "")
      .join(cells.select("doc_id", "cell"), Seq("doc_id"))
    val cellTerm = words.groupBy("cell", "term").agg(count(lit(1)).as("ctf"))
    val cellTotals = Window.partitionBy("cell")
    val termTotals = Window.partitionBy("term")
    val nCells = idx.centers.count().toDouble
    // A = avg tokens per cell = total/nCells; the corpus total joins
    // as a BROADCAST of one aggregated row (the doc_length_hist
    // idiom — a lit(1)-partitioned window here would shuffle the
    // whole cells × vocabulary table through one task)
    val total = cellTerm.agg(sum("ctf").as("total_tokens"))
    val scored = cellTerm
      .withColumn("cell_tokens", sum("ctf").over(cellTotals))
      .withColumn("f_t", sum("ctf").over(termTotals))
      .crossJoin(broadcast(total))
      .withColumn("score", round(
        col("ctf") / col("cell_tokens") *
          log(lit(1.0) + col("total_tokens") / lit(nCells) / col("f_t")), 8))
    val w = Window.partitionBy("cell").orderBy(col("score").desc, col("term"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .join(broadcast(stats), Seq("cell"))
      .select("cell", "n_docs", "mean_cos", "rank", "term", "score")
  }

  /** CLUSTER-CAPPED SAMPLING — the semantic-diversity cap next to
    * [[clusterLabels]] (the DataComp/SemDeDup practice: a handful of
    * over-represented semantic clusters should not dominate the
    * training mix): every IVF cell keeps at most `cap` documents,
    * chosen by the DETERMINISTIC multiplicative doc_id hash the
    * mixture sampler already uses — re-running the cap on the same
    * corpus reproduces the same kept set, and the priority is
    * content-independent so the cap cannot systematically prefer a
    * style. Output: kept docs with their in-cell rank plus the
    * cell's pre-cap size (the report view of what the cap did).
    *
    * Scale shape: one shuffle keyed on the cell for the rank window.
    * The test quantizer's k=16 bounds that window's parallelism, but
    * nlist scales as √N in a production IVF (Similarity.ivfIndex's
    * contract), so cells — and the window's parallelism — grow with
    * the corpus; per-cell work is O(|cell| log |cell|).
    */
  def clusterCap(spark: SparkSession, dir: String, cap: Int = 64): DataFrame = {
    val cells = graft.operators.Similarity.ivfIndex(spark, dir).assigned
      .select(col("vec_id").as("doc_id"), col("cell"))
    val w = Window.partitionBy("cell")
      .orderBy(docPrio(col("doc_id")), col("doc_id"))
    cells
      .withColumn("n_cell", count(lit(1)).over(Window.partitionBy("cell")))
      .withColumn("cell_rank", row_number().over(w))
      .filter(col("cell_rank") <= cap)
      .select("cell", "doc_id", "cell_rank", "n_cell")
  }

  /** CLUSTER PURITY — how well the quantizer's cells align with the
    * gold `label` column: per cell the member count, distinct-label
    * count, majority label (ties → smaller label, pinned via integer
    * struct max on (count, −label)), its fraction, and the label
    * ENTROPY (−Σ p·ln p, folded over labels in ascending order so
    * both the query and the spec replay identical float ops). On
    * this corpus labels are independent of the embeddings (the
    * knnClassify spec's documented property), so purity hovers near
    * uniform — the REPORT is the operator; a production embedding
    * space reads high purity here before trusting cluster-level
    * curation decisions.
    *
    * Scale shape: one (cell, label) aggregate off the broadcast-free
    * equi-join of two vec-keyed tables, then per-cell folds over the
    * label-sized (≤ #labels) collected list — never over vectors.
    */
  def clusterPurity(spark: SparkSession, dir: String): DataFrame = {
    val cells = graft.operators.Similarity.ivfIndex(spark, dir).assigned
      .select(col("vec_id"), col("cell"))
    val counts = cells
      .join(Tables.embeddings(spark, dir).select("vec_id", "label"),
        Seq("vec_id"))
      .groupBy("cell", "label").agg(count(lit(1)).as("cnt"))
      .groupBy("cell")
      .agg(sum("cnt").as("n"),
        count(lit(1)).as("n_labels"),
        max(struct(col("cnt").as("c"), (-col("label")).as("nl"))).as("best"),
        array_sort(collect_list(struct(col("label"), col("cnt"))))
          .as("dist"))
    counts
      .withColumn("top_label", -col("best").getField("nl"))
      .withColumn("top_frac", expr(
        "round(CAST(best.c AS DOUBLE) / CAST(n AS DOUBLE)" +
          " * 1000000.0D, 0) / 1000000.0D"))
      .withColumn("entropy", expr(
        "round(-aggregate(dist, 0.0D, (acc, x) -> " +
          "acc + CAST(x.cnt AS DOUBLE) / CAST(n AS DOUBLE)" +
          " * ln(CAST(x.cnt AS DOUBLE) / CAST(n AS DOUBLE)))" +
          " * 1000000.0D, 0) / 1000000.0D"))
      .select("cell", "n", "n_labels", "top_label", "top_frac", "entropy")
  }

  /** Streaming mixture acceptance: batch-trained rates ride in as a
    * map literal; the filter is a pure row predicate (zero state).
    * Documents from sources UNSEEN at training time are dropped —
    * they have no place in the trained mixture; retrain to admit them.
    */
  private[graft] def mixtureAcceptDocs(docs: DataFrame,
      rates: Map[String, Long]): DataFrame = {
    val ppm = element_at(typedLit(rates), col("source"))
    docs.withColumn("accept_ppm", ppm)
      .filter(col("accept_ppm").isNotNull &&
        mixtureAccept(col("doc_id"), col("accept_ppm")))
  }

  def mixtureSampleSql: String =
    """WITH d AS (
      |  SELECT doc_id, source,
      |    len(list_filter(string_split_regex(trim(text), '\s+'), w -> w <> ''))::BIGINT AS n_tok
      |  FROM documents
      |), per_source AS (
      |  SELECT source, sum(n_tok)::BIGINT AS n_tokens FROM d GROUP BY source
      |), m AS (SELECT min(n_tokens)::BIGINT AS min_tokens FROM per_source),
      |r AS (
      |  SELECT source,
      |    round(sqrt(min_tokens::DOUBLE / n_tokens) * 1000000, 0)::BIGINT AS accept_ppm
      |  FROM per_source, m
      |)
      |SELECT doc_id, d.source, accept_ppm
      |FROM d JOIN r ON d.source = r.source
      |WHERE (doc_id % 1000003 * 2654435761) % 1000000 < accept_ppm
      |ORDER BY doc_id""".stripMargin

  /** The END-TO-END curation verdict: exact dedup ∧ the full Gopher
    * chain ∧ near-dup canonical selection, per document with per-stage
    * attribution — the composed pipeline a corpus actually ships
    * through, as one query. `survived` is the training-set membership
    * bit; the stage columns say WHY a document fell out.
    *
    *  - keep_exact: first copy of its byte-identical text
    *    ([[Dedup.exact]] semantics as a min-id window on the hash).
    *  - keep_chain: passes repetition ∧ table-A1 quality rules
    *    ([[gopherChain]]).
    *  - is_canonical: its near-dup cluster's content-chosen
    *    representative ([[Dedup.dedupCanonical]]).
    *
    * Scale shape (round 14): the exact-dup and chain verdicts ride ONE
    * fanned corpus pass — the chain columns are narrow per-row HOF
    * projections and keep_exact is a min-id window over the text hash,
    * so computing both on the same frame removes a whole verdict
    * branch and its doc_id equi-join (two exchanges plus the join's
    * AQE stages, vs the previous three-branch shape). The component
    * resolution stays its own branch (it is keyed by the embedding
    * universe, not the text), joined once on doc_id.
    */
  def curationPipeline(spark: SparkSession, dir: String): DataFrame =
    curationPipelineBase(spark, dir)

  /** Unordered verdict kernel — [[curationFunnel]] aggregates it and
    * would pay the driver-determinism sort for nothing.
    *
    * Result-set equivalence of the merged exact+chain pass (proven
    * against the unchanged DuckDB oracle, which still computes
    * keep_exact over ALL docs): text-identical docs are word-identical,
    * so the chain's wordless-doc filter drops whole md5 groups and
    * every surviving keep_exact value is unchanged — and the previous
    * shape's inner join on the chain branch dropped exactly the same
    * wordless rows from the output.
    */
  private def curationPipelineBase(spark: SparkSession,
      dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val chainExact =
      withQualitySignals(withRepetitionSignals(fanDocs(docs)))
        .select(col("doc_id"),
          (col("doc_id") === min("doc_id").over(
            Window.partitionBy(md5(col("text").cast("binary")))))
            .as("keep_exact"),
          (col("keep_rep") && col("keep_quality")).as("keep_chain"))
    val canon = Dedup.dedupCanonical(spark, dir)
      .select(col("doc_id"), col("is_canonical"))
    chainExact.join(canon, "doc_id")
      .select(col("doc_id"), col("keep_exact"), col("keep_chain"),
        col("is_canonical"),
        (col("keep_exact") && col("keep_chain") && col("is_canonical"))
          .as("survived"))
  }

  /** The curation FUNNEL — per-stage loss attribution over the
    * pipeline verdicts, the first report an operator reads after a
    * corpus build: for each stage in pipeline order, how many docs
    * entered, how many the stage removed GIVEN the docs upstream
    * stages already passed (marginal — order-dependent, sums to the
    * total loss), and how many fail the stage's rule outright
    * (unconditional — order-free, overlaps across stages). A stage
    * whose unconditional count is large but marginal count is small
    * is redundant with an upstream stage; that gap is what this
    * surface exists to show.
    *
    * Scale shape: one aggregation over the verdict kernel collapses
    * the corpus to a single row of counters (partial map-side
    * aggregation — no extra shuffle beyond the pipeline's own), and
    * the three stage rows unpivot from that row with `stack`, driver
    * sized.
    */
  def curationFunnel(spark: SparkSession, dir: String): DataFrame =
    curationPipelineBase(spark, dir)
      .agg(
        count(lit(1)).as("n0"),
        sum(when(col("keep_exact"), 1L).otherwise(0L)).as("s1"),
        sum(when(col("keep_exact") && col("keep_chain"), 1L)
          .otherwise(0L)).as("s2"),
        sum(when(col("survived"), 1L).otherwise(0L)).as("s3"),
        sum(when(!col("keep_exact"), 1L).otherwise(0L)).as("f1"),
        sum(when(!col("keep_chain"), 1L).otherwise(0L)).as("f2"),
        sum(when(!col("is_canonical"), 1L).otherwise(0L)).as("f3"))
      .selectExpr(
        """stack(3,
          |  1L, 'exact_dedup',  n0, n0 - s1, s1, f1,
          |  2L, 'gopher_chain', s1, s1 - s2, s2, f2,
          |  3L, 'canonical',    s2, s2 - s3, s3, f3)
          |AS (stage_order, stage, n_in, n_removed, n_out, n_fail_uncond)
          |""".stripMargin)

  /** Shared DuckDB verdict CTE chain (exact window + gopher chain +
    * canonical closure joined to one `verdicts` table) — composed into
    * [[curationPipelineSql]] and [[curationFunnelSql]] so the stage
    * semantics cannot drift between the per-doc and funnel duals.
    */
  private lazy val curationVerdictCtes: String =
    s"""$gopherChainCtes, chain AS (
      |  SELECT rep.doc_id, (keep_rep AND keep_quality) AS keep_chain
      |  FROM rep JOIN q ON rep.doc_id = q.doc_id
      |), ${Dedup.clusterClosureCtes}, ${Dedup.canonicalSelectionCte}, ex AS (
      |  SELECT doc_id,
      |    (doc_id = min(doc_id) OVER (PARTITION BY md5(text))) AS keep_exact
      |  FROM documents
      |), verdicts AS (
      |  SELECT ex.doc_id, keep_exact, keep_chain,
      |    (canon.vec_id = canon.canonical_id) AS is_canonical,
      |    (keep_exact AND keep_chain AND (canon.vec_id = canon.canonical_id))
      |      AS survived
      |  FROM ex JOIN chain ON chain.doc_id = ex.doc_id
      |  JOIN canon ON canon.vec_id = ex.doc_id
      |)""".stripMargin

  def curationPipelineSql: String =
    s"""WITH RECURSIVE $curationVerdictCtes
      |SELECT doc_id, keep_exact, keep_chain, is_canonical, survived
      |FROM verdicts ORDER BY doc_id""".stripMargin

  /** DuckDB dual of [[curationFunnel]]: same verdict CTEs, one
    * aggregate row, three UNION ALL stage rows.
    */
  def curationFunnelSql: String =
    s"""WITH RECURSIVE $curationVerdictCtes, agg AS (
      |  SELECT count(*)::BIGINT AS n0,
      |    sum(CASE WHEN keep_exact THEN 1 ELSE 0 END)::BIGINT AS s1,
      |    sum(CASE WHEN keep_exact AND keep_chain THEN 1 ELSE 0 END)::BIGINT AS s2,
      |    sum(CASE WHEN survived THEN 1 ELSE 0 END)::BIGINT AS s3,
      |    sum(CASE WHEN NOT keep_exact THEN 1 ELSE 0 END)::BIGINT AS f1,
      |    sum(CASE WHEN NOT keep_chain THEN 1 ELSE 0 END)::BIGINT AS f2,
      |    sum(CASE WHEN NOT is_canonical THEN 1 ELSE 0 END)::BIGINT AS f3
      |  FROM verdicts
      |)
      |SELECT * FROM (
      |  SELECT 1::BIGINT AS stage_order, 'exact_dedup' AS stage,
      |    n0 AS n_in, n0 - s1 AS n_removed, s1 AS n_out, f1 AS n_fail_uncond
      |  FROM agg
      |  UNION ALL SELECT 2, 'gopher_chain', s1, s1 - s2, s2, f2 FROM agg
      |  UNION ALL SELECT 3, 'canonical', s2, s2 - s3, s3, f3 FROM agg
      |) ORDER BY stage_order""".stripMargin

  /** Target domain for [[importanceWeights]]: one of the corpus
    * sources stands in for the seed corpus that defines the
    * distribution to resample toward.
    */
  private[operators] val DsirTarget = "src0"

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every
    * document by how much more likely its tokens are under the TARGET
    * domain's unigram LM than under the full-corpus LM —
    * log w(d) = Σ_tokens [ln p̂_t(w) − ln p̂_c(w)], add-1 smoothed over
    * the shared vocabulary. High-weight documents are what importance
    * resampling keeps when steering a web corpus toward a seed domain.
    *
    * Scale shape: the corpus is tokenized exactly ONCE into a cached
    * (doc_id, word, tf) table; per-word corpus/target masses come from
    * a count window over the word key of THAT table (re-deriving them
    * as a separate aggregate joined back would replay the corpus scan
    * per consumer — measured before this shape); the three scalar
    * totals ride the plan as one broadcast one-row aggregate over the
    * cached table. Cross-engine parity: the smoothed probabilities are
    * exact-integer divisions fed to ln (same libm rounding both
    * engines, cf. [[TextOps.bm25]]); the per-doc Σ tf·ln-ratio is
    * rounded at 6 decimals on both sides, computed at tf granularity
    * on both engines so the product/sum shapes match (reorder noise
    * ~ulp·n_terms is far below the 6th decimal at document length).
    */
  def importanceWeights(spark: SparkSession, dir: String): DataFrame =
    importanceWeightsDocs(Tables.documents(spark, dir))

  private[graft] def importanceWeightsDocs(docs: DataFrame): DataFrame = {
    val tf = docs
      .select(col("doc_id"), (col("source") === DsirTarget).as("is_t"),
        explode(TextOps.normalizedWords).as("word"))
      .filter(col("word") =!= "")
      .groupBy("doc_id", "word")
      // is_t is constant per doc_id, so first() is deterministic here
      .agg(count(lit(1)).as("tf"), first("is_t").as("is_t"))
      .persist()
    // the three scalar totals ride the plan as a broadcast one-row
    // aggregate over the same cached table instead of a blocking
    // driver head() action (round 14) — one sequential job per run
    // disappears; (n_t + v) / (n_all + v) are the same long additions
    // cast to double either way
    val tAgg = tf.agg(sum("tf").as("n_all"),
      sum(when(col("is_t"), col("tf")).otherwise(0L)).as("n_t"),
      countDistinct("word").as("v"))
    val w = Window.partitionBy("word")
    tf
      .withColumn("c_all", sum("tf").over(w))
      .withColumn("c_t", sum(when(col("is_t"), col("tf")).otherwise(0L)).over(w))
      .crossJoin(broadcast(tAgg))
      .withColumn("logratio",
        log((col("c_t") + 1).cast("double") / (col("n_t") + col("v")).cast("double"))
          - log((col("c_all") + 1).cast("double") / (col("n_all") + col("v")).cast("double")))
      .groupBy("doc_id")
      .agg(round(sum(col("tf") * col("logratio")), 6).as("log_weight"),
        sum("tf").as("n_tokens"))
  }

  def importanceWeightsSql: String =
    s"""WITH w AS (
      |  SELECT doc_id, (source = '$DsirTarget') AS is_t,
      |    unnest(list_filter(string_split(trim(regexp_replace(regexp_replace(
      |      lower(trim(text)), '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')), ' '),
      |      x -> x <> '')) AS word
      |  FROM documents
      |), tf AS (
      |  SELECT doc_id, word, count(*)::BIGINT AS tf, bool_or(is_t) AS is_t
      |  FROM w GROUP BY doc_id, word
      |), t AS (
      |  SELECT sum(tf)::BIGINT AS n_all,
      |    sum(CASE WHEN is_t THEN tf ELSE 0 END)::BIGINT AS n_t,
      |    count(DISTINCT word)::BIGINT AS v
      |  FROM tf
      |), m AS (
      |  SELECT doc_id, tf,
      |    ln((c_t + 1)::DOUBLE / ((n_t + v)::DOUBLE))
      |      - ln((c_all + 1)::DOUBLE / ((n_all + v)::DOUBLE)) AS logratio
      |  FROM (SELECT doc_id, word, tf, is_t,
      |          sum(tf) OVER (PARTITION BY word) AS c_all,
      |          sum(CASE WHEN is_t THEN tf ELSE 0 END) OVER (PARTITION BY word) AS c_t
      |        FROM tf), t
      |)
      |SELECT doc_id, round(sum(tf * logratio), 6) AS log_weight,
      |  sum(tf)::BIGINT AS n_tokens
      |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Bucket count for the hashed DSIR variant — fixed model size
    * regardless of vocabulary (the paper uses hashed n-gram features
    * for exactly this reason).
    */
  private[operators] val HashBuckets = 1024

  /** Train the HASHED importance model: words hash into a fixed
    * `buckets`-sized space, so the model is a dense double array
    * independent of vocabulary size — small enough to collect and
    * broadcast into a narrow per-row scoring expression. One
    * bucket-keyed aggregation over the corpus; smoothing as in
    * [[importanceWeights]] with the bucket space as the vocabulary.
    */
  /** DSIR hashed FEATURES — unigrams ∪ word BIGRAMS, the feature set
    * of Xie et al. §3 (hashed n-grams up to n=2 share one bucket
    * space): bigrams are what let the model see word ORDER, so two
    * documents with identical word multisets but different phrasing
    * score differently (spec-pinned). One definition feeds the model
    * count and the scorer, so train and serve cannot drift.
    *
    * `ws` MUST be a bound column (callers materialize the normalized
    * word array in a prior projection), and the bigrams come from
    * `zip_with` over two slices — array ARGUMENTS evaluate once per
    * row. The tempting per-index formulation
    * (`transform(sequence(...), i => element_at(ws, i+1) ...)`)
    * re-evaluates `ws` for every element of every lambda call: with
    * the regex-normalization subtree inlined that is O(words × text)
    * full-text regex passes per document — a measured multi-minute
    * stall at ScaleProbe 20× that this shape avoids.
    */
  private[operators] def dsirFeatures(ws: Column): Column =
    concat(ws,
      when(size(ws) >= 2,
        zip_with(slice(ws, lit(1), size(ws) - 1),
          slice(ws, lit(2), size(ws) - 1),
          (a, b) => concat_ws(" ", a, b)))
        .otherwise(typedLit(Seq.empty[String])))

  private[graft] def hashedImportanceModel(docs: DataFrame,
      buckets: Int = HashBuckets): Array[Double] = {
    val counts = docs
      // materialize the normalized words FIRST: every dsirFeatures
      // reference below is then a bound column, so the regex
      // normalization runs once per row no matter how many times the
      // feature builder touches the array
      .select((col("source") === DsirTarget).as("is_t"),
        filter(TextOps.normalizedWords, w => w =!= lit("")).as("ws"))
      .select(col("is_t"), explode(dsirFeatures(col("ws"))).as("word"))
      .groupBy(pmod(xxhash64(col("word")), lit(buckets.toLong)).as("b"))
      .agg(count(lit(1)).as("c_all"),
        sum(when(col("is_t"), 1L).otherwise(0L)).as("c_t"))
      .collect().map(r => r.getLong(0).toInt -> (r.getLong(1), r.getLong(2))).toMap
    val nAll = counts.values.map(_._1).sum
    val nT = counts.values.map(_._2).sum
    // smooth over the OCCUPIED bucket space, not the full table: with
    // B ≫ vocab, an add-1 prior over all B buckets shifts every token
    // by ln((n+V)/(n+B)) relative to the exact model — a length
    // penalty that can flip the domain separation outright
    val vEff = counts.size
    Array.tabulate(buckets) { b =>
      val (ca, ct) = counts.getOrElse(b, (0L, 0L))
      math.log((ct + 1).toDouble / (nT + vEff)) -
        math.log((ca + 1).toDouble / (nAll + vEff))
    }
  }

  /** Score documents against a trained hashed model: per-row
    * Σ model[hash(feature)] over the same unigram∪bigram features the
    * model counted — a pure projection (the model rides in the plan
    * as a literal), so it runs unchanged on a document stream
    * ([[graft.streaming.DocStream.docsStream]]). The fold
    * is left-to-right per document on every engine path, so batch and
    * streamed scores are bit-identical. `n_tokens` stays the UNIGRAM
    * count (the resampling budget is measured in tokens, not
    * features).
    */
  private[graft] def hashedImportanceScore(docs: DataFrame,
      model: Array[Double]): DataFrame = {
    // the bucket count IS the model length — a separate parameter
    // could silently disagree with how the model was trained (wrong
    // buckets or an out-of-range element_at under ANSI mode)
    val buckets = model.length
    docs
      // bind the normalized words before feature building — see
      // [[dsirFeatures]]: a bound column keeps the regex pass at one
      // per row
      .select(col("doc_id"),
        filter(TextOps.normalizedWords, w => w =!= lit("")).as("ws"))
      .select(col("doc_id"),
        round(aggregate(
          transform(dsirFeatures(col("ws")),
            w => element_at(typedLit(model.toSeq),
              pmod(xxhash64(w), lit(buckets.toLong)).cast("int") + 1)),
          lit(0.0), _ + _), 6).as("log_weight"),
        size(col("ws")).as("n_tokens"))
  }

  /** The production-shaped DSIR dual of [[importanceWeights]]: hashed
    * features → fixed-size broadcast model → narrow scoring (train
    * offline, serve anywhere — batch or stream). No SQL oracle
    * (xxhash64 has no DuckDB dual); the spec pins the same
    * target-domain separation as the exact variant.
    */
  def importanceWeightsHashed(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    hashedImportanceScore(docs, hashedImportanceModel(docs))
  }

  /** Pearson floor for [[dsirHashGate]] — hashing collapses the
    * vocabulary into buckets, so exact and hashed log-weights agree
    * up to collision noise (measured when the floor was set:
    * r = 0.65 / 0.54 / 0.51 at sf0.001/0.01/0.1; q_dsir_hash_gate
    * holds it, run by GateSpec — default bucket count on this
    * synthetic low-vocabulary corpus — heavy collision load, honest
    * number); a broken hasher, bucket indexing, or model fold
    * decorrelates toward 0.
    */
  private[graft] val DsirHashCorrFloor = 0.25

  /** AGREEMENT GATE between the exact and hashed DSIR scorers
    * (round-11 partial-oracle tier): q_importance_hashed's xxhash64
    * features have no DuckDB dual, but its AGREEMENT with the exact
    * scorer — whose full output the driver already hash-proves — is
    * a deterministic number: the Pearson correlation of the two
    * log-weight columns over the scored corpus, gated against
    * [[DsirHashCorrFloor]]. Exact leg: the oracle recounts the
    * scored-doc mass through the same tokenize-and-group SQL that
    * proves q_importance_weights. One corpus-keyed equi-join + one
    * scalar aggregate.
    */
  def dsirHashGate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val exact = importanceWeightsDocs(docs)
      .select(col("doc_id"), col("log_weight").as("lw_exact"))
    val hashed = hashedImportanceScore(docs, hashedImportanceModel(docs))
      .select(col("doc_id"), col("log_weight").as("lw_hash"))
    exact.join(hashed, Seq("doc_id"))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(corr(col("lw_exact"), col("lw_hash"))
          >= DsirHashCorrFloor, lit(true)).as("corr_ok"))
      .select(col("n_docs"), lit(DsirHashCorrFloor).as("corr_floor"),
        col("corr_ok"))
  }

  def dsirHashGateSql: String =
    s"""SELECT count(*)::BIGINT AS n_docs,
      |  $DsirHashCorrFloor::DOUBLE AS corr_floor, true AS corr_ok
      |FROM ($importanceWeightsSql)""".stripMargin

  /** DSIR's RESAMPLING step — the half of Xie et al. §3 the weight
    * queries stop short of: draw the training subset WITHOUT
    * replacement with probability ∝ exp(log_weight), as Gumbel top-k
    * (Vieira 2014): key = log_weight + Gumbel(u), keep the k = n/4
    * largest keys. The uniforms are the SAME deterministic doc_id
    * hash [[mixtureSample]] uses (offset to (0,1) so the double log
    * is finite), so the draw is reproducible and hash-exact against
    * the oracle.
    *
    * Scale shape: selection is `orderBy(key desc).limit(k)` —
    * Spark's TakeOrderedAndProject (per-partition k-row heaps, no
    * global sort, no rank window). Honest caveat: k here is n/4, so
    * the final merge still funnels partitions×k rows through one
    * task — fine at verify/bench scale, but at 100 TB a
    * quarter-corpus k means the exact-top-k SELECTION itself is the
    * wrong tool regardless of operator: the production path computes
    * the k-th key threshold distributively (exact quantile of the
    * key column) and keeps `key >= threshold` as a filter — same
    * selected set up to boundary ties, no single-task merge. The
    * oracle-checked query pins the per-row key math and the
    * selection semantics that threshold path must reproduce.
    */
  def dsirResample(spark: SparkSession, dir: String): DataFrame =
    dsirResampleDocs(Tables.documents(spark, dir))

  private[graft] def dsirResampleDocs(docs: DataFrame): DataFrame = {
    // k = quarter of the CORPUS (not of the candidate pool): docs
    // whose text normalizes to zero words carry no weight row on
    // either engine, so dividing by the pool would make k depend on
    // how many empty docs the corpus happens to hold — and the SQL
    // dual counts corpus rows for the same reason. toIntExact: a
    // >8.6B-doc corpus must fail loudly, not wrap the limit.
    val k = math.toIntExact(docs.count() / 4)
    val u = (docPrio(col("doc_id")) + lit(0.5)) / lit(1e6)
    importanceWeightsDocs(docs)
      .withColumn("sample_key", round(col("log_weight") - log(-log(u)), 6))
      .orderBy(col("sample_key").desc, col("doc_id"))
      .limit(k)
      .select("doc_id", "sample_key", "n_tokens")
  }

  def dsirResampleSql: String =
    s"""WITH iw AS (${importanceWeightsSql}
      |), g AS (
      |  SELECT doc_id, n_tokens,
      |    round(log_weight - ln(-ln(
      |      ((doc_id % 1000003 * 2654435761) % 1000000 + 0.5) / 1000000.0)),
      |      6) AS sample_key
      |  FROM iw
      |), r AS (
      |  SELECT g.*,
      |    row_number() OVER (ORDER BY sample_key DESC, doc_id) AS rk
      |  FROM g
      |)
      |SELECT doc_id, sample_key, n_tokens FROM r
      |WHERE rk <= (SELECT count(*) FROM documents) // 4
      |ORDER BY doc_id""".stripMargin

  // ----------------------------------------------- full Gopher rule set

  /** The Gopher document-quality stop-word set (Rae et al. 2021,
    * table A1 rule 7).
    */
  private val GopherStops = Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** The FULL Gopher/MassiveText document-quality rule set (Rae et
    * al. 2021, table A1) — [[gopherFilters]] covers the two
    * repetition rules; this emits the remaining per-document signals:
    * word count in [50, 100k], mean word length in [3, 10],
    * symbol-to-word ratio (# and ...) < 0.1, < 90% of lines
    * bullet-started, < 30% of lines ellipsis-ended, ≥ 80% of words
    * with an alphabetic character, and ≥ 2 of the 8 Gopher stop words
    * present — plus the conjunction verdict.
    *
    * Pure per-row narrow projection: zero shuffle, composes into the
    * streaming tier like [[gopherNarrowDocs]]. All ratios are exact
    * integer÷integer IEEE divisions (mean word length via
    * `length(array_join(ws, ''))` so the sum stays codegen'd).
    */
  def gopherQuality(spark: SparkSession, dir: String): DataFrame =
    gopherQualityDocs(fanDocs(Tables.documents(spark, dir)))

  private[graft] def gopherQualityDocs(docs: DataFrame): DataFrame =
    withQualitySignals(docs)
      .select(col("doc_id"), col("n_words"), col("n_lines"),
        col("mean_word_len"), col("symbol_ratio"), col("bullet_frac"),
        col("ellipsis_frac"), col("alpha_frac"), col("n_stop"),
        col("keep_quality").as("keep_doc"))

  /** APPENDS the table-A1 quality signals + `keep_quality` verdict to
    * the input (all input columns survive) — the composable stage
    * behind [[gopherQualityDocs]] and [[gopherChainDocs]].
    */
  private[graft] def withQualitySignals(docs: DataFrame): DataFrame =
    docs
      .withColumn("ws_q",
        filter(split(trim(col("text")), s"[${TextOps.Ws}]+"), w => w =!= lit("")))
      .withColumn("lines_q",
        filter(split(col("text"), "\n"), l => trim(l) =!= lit("")))
      .withColumn("n_words", size(col("ws_q")))
      .withColumn("n_lines", size(col("lines_q")))
      .withColumn("mean_word_len",
        length(array_join(col("ws_q"), "")).cast("double") /
          greatest(col("n_words"), lit(1)).cast("double"))
      .withColumn("symbol_ratio",
        ((length(col("text")) - length(replace(col("text"), lit("#")))).cast("double") +
          (length(col("text")) - length(replace(col("text"), lit("...")))).cast("double") / 3)
          / greatest(col("n_words"), lit(1)).cast("double"))
      .withColumn("bullet_frac",
        size(filter(col("lines_q"), l => startswith(ltrim(l), lit("-")) ||
          startswith(ltrim(l), lit("*")) || startswith(ltrim(l), lit("•"))))
          .cast("double") / greatest(col("n_lines"), lit(1)).cast("double"))
      .withColumn("ellipsis_frac",
        size(filter(col("lines_q"), l => endswith(rtrim(l), lit("...")) ||
          endswith(rtrim(l), lit("…"))))
          .cast("double") / greatest(col("n_lines"), lit(1)).cast("double"))
      .withColumn("alpha_frac",
        size(filter(col("ws_q"), w => w.rlike("[a-zA-Z]"))).cast("double") /
          greatest(col("n_words"), lit(1)).cast("double"))
      .withColumn("n_stop",
        size(array_intersect(typedLit(GopherStops), transform(col("ws_q"), w => lower(w)))))
      .withColumn("keep_quality",
        col("n_words").between(50, 100000) &&
          col("mean_word_len").between(3.0, 10.0) &&
          col("symbol_ratio") < 0.1 && col("bullet_frac") < 0.9 &&
          col("ellipsis_frac") < 0.3 && col("alpha_frac") >= 0.8 &&
          col("n_stop") >= 2)
      .drop("ws_q", "lines_q")

  def gopherQualitySql: String =
    """WITH d AS (
      |  SELECT doc_id, text,
      |    list_filter(string_split_regex(trim(text), '\s+'), w -> w <> '') AS ws,
      |    list_filter(string_split(text, chr(10)), l -> trim(l) <> '') AS lines
      |  FROM documents
      |), m AS (
      |  SELECT doc_id, len(ws) AS n_words, len(lines) AS n_lines,
      |    len(array_to_string(ws, ''))::DOUBLE / greatest(len(ws), 1) AS mean_word_len,
      |    ((len(text) - len(replace(text, '#', '')))::DOUBLE
      |      + (len(text) - len(replace(text, '...', '')))::DOUBLE / 3)
      |      / greatest(len(ws), 1) AS symbol_ratio,
      |    len(list_filter(lines, l -> starts_with(ltrim(l), '-')
      |      OR starts_with(ltrim(l), '*') OR starts_with(ltrim(l), '•')))::DOUBLE
      |      / greatest(len(lines), 1) AS bullet_frac,
      |    len(list_filter(lines, l -> ends_with(rtrim(l), '...')
      |      OR ends_with(rtrim(l), '…')))::DOUBLE
      |      / greatest(len(lines), 1) AS ellipsis_frac,
      |    len(list_filter(ws, w -> regexp_matches(w, '[a-zA-Z]')))::DOUBLE
      |      / greatest(len(ws), 1) AS alpha_frac,
      |    len(list_intersect(['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'],
      |      list_transform(ws, w -> lower(w)))) AS n_stop
      |  FROM d
      |)
      |SELECT doc_id, n_words, n_lines, mean_word_len, symbol_ratio, bullet_frac,
      |  ellipsis_frac, alpha_frac, n_stop,
      |  (n_words BETWEEN 50 AND 100000 AND mean_word_len BETWEEN 3.0 AND 10.0
      |   AND symbol_ratio < 0.1 AND bullet_frac < 0.9 AND ellipsis_frac < 0.3
      |   AND alpha_frac >= 0.8 AND n_stop >= 2) AS keep_doc
      |FROM m ORDER BY doc_id""".stripMargin

  /** The FULL Gopher curation chain — repetition rules ∧ the table-A1
    * quality rules — fused into one narrow per-row projection (zero
    * shuffle, zero state): the form that runs unchanged inside the
    * streaming tier (over [[graft.streaming.DocStream.docsStream]]).
    * Emits both stage verdicts plus the conjunction, so a pipeline can
    * attribute every drop to its rule family.
    *
    * Scale shape: two chained projections over the scan — the whole
    * chain is one WholeStageCodegen span per document, no joins
    * (the batch [[gopherFilters]] word count aggregates instead; this
    * narrow dual is spec-asserted equal on unique-doc_id input).
    */
  def gopherChain(spark: SparkSession, dir: String): DataFrame =
    gopherChainDocs(fanDocs(Tables.documents(spark, dir)))

  private[graft] def gopherChainDocs(docs: DataFrame): DataFrame =
    withQualitySignals(withRepetitionSignals(docs))
      .select(col("doc_id"), col("keep_rep"), col("keep_quality"),
        (col("keep_rep") && col("keep_quality")).as("keep_doc"))

  /** Shared DuckDB CTE block for the chain verdicts (`rep` keep_rep +
    * `q` keep_quality), composed into [[gopherChainSql]] and
    * [[curationPipelineSql]]. Callers open the WITH clause.
    */
  private val gopherChainCtes: String =
    s"""s AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(text, '[.!?]\\s+'), x -> x <> '') AS sents
      |  FROM documents
      |), sm AS (
      |  SELECT doc_id, len(sents) AS n_sent,
      |    len(list_distinct(sents)) AS n_distinct_sent
      |  FROM s
      |), w AS (
      |  SELECT doc_id,
      |    unnest(list_filter(string_split(trim(regexp_replace(regexp_replace(
      |      lower(trim(text)), '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')), ' '),
      |      x -> x <> '')) AS word
      |  FROM documents
      |), c AS (
      |  SELECT doc_id, word, count(*) AS n FROM w GROUP BY 1, 2
      |), wm AS (
      |  SELECT doc_id, max(n) AS top_n, sum(n) AS n_words FROM c GROUP BY 1
      |), rep AS (
      |  SELECT sm.doc_id,
      |    ((n_sent - n_distinct_sent)::DOUBLE / greatest(n_sent, 1) <= $DupSentenceMax
      |      AND top_n::DOUBLE / n_words <= $TopWordMax) AS keep_rep
      |  FROM sm JOIN wm ON sm.doc_id = wm.doc_id
      |), d AS (
      |  SELECT doc_id, text,
      |    list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS ws,
      |    list_filter(string_split(text, chr(10)), l -> trim(l) <> '') AS lines
      |  FROM documents
      |), q AS (
      |  SELECT doc_id,
      |    (len(ws) BETWEEN 50 AND 100000
      |     AND len(array_to_string(ws, ''))::DOUBLE / greatest(len(ws), 1)
      |       BETWEEN 3.0 AND 10.0
      |     AND ((len(text) - len(replace(text, '#', '')))::DOUBLE
      |       + (len(text) - len(replace(text, '...', '')))::DOUBLE / 3)
      |       / greatest(len(ws), 1) < 0.1
      |     AND len(list_filter(lines, l -> starts_with(ltrim(l), '-')
      |       OR starts_with(ltrim(l), '*') OR starts_with(ltrim(l), '•')))::DOUBLE
      |       / greatest(len(lines), 1) < 0.9
      |     AND len(list_filter(lines, l -> ends_with(rtrim(l), '...')
      |       OR ends_with(rtrim(l), '…')))::DOUBLE
      |       / greatest(len(lines), 1) < 0.3
      |     AND len(list_filter(ws, x -> regexp_matches(x, '[a-zA-Z]')))::DOUBLE
      |       / greatest(len(ws), 1) >= 0.8
      |     AND len(list_intersect(['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'],
      |       list_transform(ws, x -> lower(x)))) >= 2) AS keep_quality
      |  FROM d
      |)""".stripMargin

  def gopherChainSql: String =
    s"""WITH $gopherChainCtes
      |SELECT rep.doc_id, keep_rep, keep_quality,
      |  (keep_rep AND keep_quality) AS keep_doc
      |FROM rep JOIN q ON rep.doc_id = q.doc_id
      |ORDER BY rep.doc_id""".stripMargin

  /** INSPECTION SHEET — the spot-check sample every filter change
    * ships with: K deterministic documents per (source, verdict)
    * cell of the Gopher chain, chosen by the mixture sampler's
    * content-independent doc_id hash (re-runs reproduce the same
    * sheet; the reviewer sees kept AND dropped examples from every
    * source). Snippets are the first 80 chars — the eyeball column.
    *
    * Scale shape: verdicts are per-doc narrow work; the rank window
    * runs per (source, verdict) — cells scale with sources; output
    * is sources × 2 × K rows.
    */
  def sampleInspection(spark: SparkSession, dir: String,
      k: Int = 3): DataFrame = {
    val w = Window.partitionBy("source", "keep_doc")
      .orderBy(docPrio(col("doc_id")), col("doc_id"))
    gopherChain(spark, dir).select("doc_id", "keep_doc")
      .join(Tables.documents(spark, dir).select("doc_id", "source", "text"),
        Seq("doc_id"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("source"), col("keep_doc"), col("rk"), col("doc_id"),
        substring(col("text"), 1, 80).as("snippet"))
  }

  def sampleInspectionSql: String =
    s"""WITH $gopherChainCtes, v AS (
      |  SELECT rep.doc_id, (keep_rep AND keep_quality) AS keep_doc
      |  FROM rep JOIN q ON rep.doc_id = q.doc_id
      |), r AS (
      |  SELECT d.source, v.keep_doc, v.doc_id,
      |    substring(d.text, 1, 80) AS snippet,
      |    row_number() OVER (PARTITION BY d.source, v.keep_doc
      |      ORDER BY (v.doc_id % 1000003 * 2654435761) % 1000000,
      |        v.doc_id) AS rk
      |  FROM v JOIN documents d ON d.doc_id = v.doc_id
      |)
      |SELECT source, keep_doc, rk, doc_id, snippet
      |FROM r WHERE rk <= 3 ORDER BY source, keep_doc, rk""".stripMargin

  // ------------------------------------------------------ C4 cleaning

  /** C4 page-level LINE CLEANING (Raffel et al. 2020 §2.2 — the other
    * half of the C4 recipe next to [[lineDedup]]'s corpus-level rule):
    * a line survives iff it ends in a terminal punctuation mark, has
    * ≥ 3 words, and does not mention "javascript"; the page survives
    * iff its kept text still has ≥ 5 sentences and the raw page
    * contains neither "lorem ipsum" nor a curly bracket. (The paper's
    * remaining rule — the public dirty-word blocklist — is a
    * broadcast word-set membership test with the identical shape to
    * the javascript rule; elided rather than shipping a slur list.)
    * Emits the per-stage signals so drops attribute to their rule.
    *
    * The synthetic corpus has no newlines or punctuation, so every
    * shipped doc drops at the sentence gate (n_kept_lines = 0) — the
    * crafted-doc spec carries the rule-by-rule semantics, as with the
    * Gopher table-A1 rules the corpus can't exercise.
    *
    * Scale shape: one narrow per-row projection — zero shuffle, zero
    * state, streaming-legal like the Gopher chain
    * ([[c4FiltersDocs]] over [[graft.streaming.DocStream.docsStream]]).
    */
  def c4Filters(spark: SparkSession, dir: String): DataFrame =
    c4FiltersDocs(fanDocs(Tables.documents(spark, dir)))

  private[graft] def c4FiltersDocs(docs: DataFrame): DataFrame =
    withC4Signals(docs)
      .select(col("doc_id"), col("n_lines"), col("n_kept_lines"),
        col("kept_chars"), col("n_sentences"), col("has_lorem"),
        col("has_curly"), col("keep_doc"))

  /** APPENDS the C4 line/page signals + `keep_doc` verdict to the
    * input (all input columns survive) — the composable stage shared
    * by the batch query and the streaming dual.
    */
  private[graft] def withC4Signals(docs: DataFrame): DataFrame =
    docs
      .withColumn("lines_c4",
        filter(split(col("text"), "\n"), l => trim(l) =!= lit("")))
      .withColumn("kept_c4", filter(col("lines_c4"), l =>
        rtrim(l).rlike("[.!?\"]$") &&
          size(filter(split(trim(l), s"[${TextOps.Ws}]+"),
            w => w =!= lit(""))) >= 3 &&
          !lower(l).contains("javascript")))
      .withColumn("n_lines", size(col("lines_c4")).cast("long"))
      .withColumn("n_kept_lines", size(col("kept_c4")).cast("long"))
      .withColumn("kept_chars",
        when(col("n_kept_lines") > 0, length(array_join(col("kept_c4"), "\n")))
          .otherwise(lit(0)).cast("long"))
      .withColumn("n_sentences",
        aggregate(col("kept_c4"), lit(0L),
          (acc, l) => acc + regexp_count(l, lit("[.!?]"))))
      .withColumn("has_lorem", lower(col("text")).contains("lorem ipsum"))
      .withColumn("has_curly", col("text").contains("{"))
      .withColumn("keep_doc",
        col("n_sentences") >= 5 && !col("has_lorem") && !col("has_curly"))
      .drop("lines_c4", "kept_c4")

  /** DuckDB dual of [[c4Filters]]: the same line predicates as list
    * lambdas, the same sentence count and page gates.
    */
  def c4FiltersSql: String =
    """WITH d AS (
      |  SELECT doc_id, text,
      |    list_filter(string_split(text, chr(10)), l -> trim(l) <> '') AS lines
      |  FROM documents
      |), k AS (
      |  SELECT doc_id, text, lines,
      |    list_filter(lines, l -> regexp_matches(rtrim(l), '[.!?"]$')
      |      AND len(list_filter(string_split_regex(trim(l), '\s+'),
      |        w -> w <> '')) >= 3
      |      AND NOT contains(lower(l), 'javascript')) AS kept
      |  FROM d
      |)
      |SELECT doc_id,
      |  len(lines)::BIGINT AS n_lines,
      |  len(kept)::BIGINT AS n_kept_lines,
      |  (CASE WHEN len(kept) > 0 THEN len(array_to_string(kept, chr(10)))
      |        ELSE 0 END)::BIGINT AS kept_chars,
      |  coalesce(list_sum(list_transform(kept,
      |    l -> len(regexp_extract_all(l, '[.!?]')))), 0)::BIGINT AS n_sentences,
      |  contains(lower(text), 'lorem ipsum') AS has_lorem,
      |  contains(text, '{') AS has_curly,
      |  (coalesce(list_sum(list_transform(kept,
      |     l -> len(regexp_extract_all(l, '[.!?]')))), 0) >= 5
      |   AND NOT contains(lower(text), 'lorem ipsum')
      |   AND NOT contains(text, '{')) AS keep_doc
      |FROM k ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------- line dedup

  /** C4-style corpus-level LINE dedup (Raffel et al. 2020 §2.2: any
    * line occurring more than once in the corpus is kept only at its
    * FIRST occurrence): lines are keyed by their text, first = minimum
    * (doc_id, position), survivors are reassembled in document order.
    * Blank lines are dropped (they would otherwise all collapse into
    * one corpus-wide survivor).
    *
    * Scale shape: ONE shuffle keyed by the line text for the
    * first-occurrence window (the key a 100 TB corpus distributes
    * well — line cardinality ≈ corpus size), one doc_id shuffle for
    * reassembly. No corpus-wide sort or driver state.
    */
  def lineDedup(spark: SparkSession, dir: String): DataFrame =
    lineDedupDocs(Tables.documents(spark, dir))

  /** (doc_id, pos, line, rn) with rn = 1 on each line's first corpus
    * occurrence — the shared marking pass of [[lineDedupDocs]], also
    * the ground truth the streaming dual
    * ([[graft.streaming.DocStream.lineDedupDocsStream]]) is spec'd
    * against.
    */
  private[graft] def lineMarkedDocs(docs: DataFrame): DataFrame = {
    val lines = docs
      .select(col("doc_id"), posexplode(split(col("text"), "\n")).as(Seq("pos", "line")))
      .filter(trim(col("line")) =!= "")
    val w = Window.partitionBy("line").orderBy("doc_id", "pos")
    lines.withColumn("rn", row_number().over(w))
  }

  private[graft] def lineDedupDocs(docs: DataFrame): DataFrame = {
    val marked = lineMarkedDocs(docs)
    val perDoc = marked.groupBy("doc_id").agg(
      count(lit(1)).as("n_lines"),
      sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
      array_join(transform(array_sort(collect_list(
        when(col("rn") === 1, struct(col("pos"), col("line"))))),
        s => s.getField("line")), "\n").as("text_kept"))
    docs.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_kept"), lit("")).as("text_kept"))
  }

  def lineDedupSql: String =
    """WITH l AS (
      |  SELECT doc_id,
      |    unnest(range(1, len(string_split(text, chr(10))) + 1)) AS pos,
      |    unnest(string_split(text, chr(10))) AS line
      |  FROM documents
      |), nb AS (
      |  SELECT doc_id, pos, line,
      |    row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
      |  FROM l WHERE trim(line) <> ''
      |), per_doc AS (
      |  SELECT doc_id, count(*)::BIGINT AS n_lines,
      |    sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
      |    coalesce(string_agg(CASE WHEN rn = 1 THEN line END, chr(10)
      |      ORDER BY pos), '') AS text_kept
      |  FROM nb GROUP BY doc_id
      |)
      |SELECT d.doc_id, coalesce(n_lines, 0) AS n_lines,
      |  coalesce(n_kept, 0) AS n_kept, coalesce(text_kept, '') AS text_kept
      |FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
      |ORDER BY d.doc_id""".stripMargin

  // ------------------------------------------------------- span dedup

  /** Span width (words) for the repeated-span signal. */
  private val SpanN = 5

  /** Repeated-SPAN detection in the style of exact-substring training
    * -data dedup (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better"): every word `SpanN`-gram is keyed
    * corpus-wide; occurrences after the first (ordered by (doc_id,
    * position)) are DUPLICATED SPANS. Emits per document the span
    * count, duplicated-span count, and duplicated fraction — the
    * signal a pipeline thresholds to drop or trim boilerplate-heavy
    * documents. Same scale shape as [[lineDedup]]: one shuffle keyed
    * by the span hash, one per-doc aggregation.
    */
  def spanDedup(spark: SparkSession, dir: String): DataFrame =
    spanDedupDocs(Tables.documents(spark, dir))

  private[graft] def spanDedupDocs(docs: DataFrame): DataFrame = {
    val spans = docs
      .select(col("doc_id"),
        split(trim(col("text")), s"[${TextOps.Ws}]+").as("ws"))
      .select(col("doc_id"), posexplode(
        when(size(col("ws")) >= SpanN,
          expr(s"transform(sequence(1, size(ws) - ${SpanN - 1}), " +
            s"i -> array_join(slice(ws, i, $SpanN), ' '))"))
          .otherwise(typedLit(Seq.empty[String]))).as(Seq("pos", "gram")))
    val w = Window.partitionBy("gram").orderBy("doc_id", "pos")
    spans.withColumn("rn", row_number().over(w))
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_spans"),
        sum(when(col("rn") > 1, 1L).otherwise(0L)).as("n_dup_spans"))
      .withColumn("dup_span_frac",
        col("n_dup_spans").cast("double") / col("n_spans").cast("double"))
  }

  def spanDedupSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
       |  FROM documents
       |), g AS (
       |  SELECT doc_id,
       |    unnest(range(1, len(ws) - ${SpanN - 1} + 1)) AS pos,
       |    unnest(list_transform(range(1, len(ws) - ${SpanN - 1} + 1),
       |      i -> array_to_string(ws[i:i + ${SpanN - 1}], ' '))) AS gram
       |  FROM d WHERE len(ws) >= $SpanN
       |), r AS (
       |  SELECT doc_id,
       |    row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
       |  FROM g
       |)
       |SELECT doc_id, count(*)::BIGINT AS n_spans,
       |  sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup_spans,
       |  sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END)::DOUBLE / count(*) AS dup_span_frac
       |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Duplicated-span REMOVAL — the transformation behind the
    * [[spanDedup]] signal (Lee et al. 2022's exact-substring dedup,
    * at word `SpanN`-gram granularity): every corpus-wide duplicate
    * occurrence of a span (rn > 1 under the deterministic (doc_id,
    * pos) order) marks its `SpanN` word positions for removal;
    * survivors reassemble in document order. Removal positions are
    * defined on the ORIGINAL text (the cascade a suffix-array pass
    * would catch re-runs as compaction — documented simplification).
    *
    * Scale shape: one shuffle keyed by the span text for the
    * first-occurrence window, one doc_id shuffle for reassembly —
    * identical to [[lineDedup]] with spans for lines.
    */
  def spanRemoval(spark: SparkSession, dir: String): DataFrame =
    spanRemovalDocs(Tables.documents(spark, dir))

  private[graft] def spanRemovalDocs(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"),
      split(trim(col("text")), s"[${TextOps.Ws}]+").as("ws"))
    val spans = tok.select(col("doc_id"), posexplode(
      when(size(col("ws")) >= SpanN,
        expr(s"transform(sequence(1, size(ws) - ${SpanN - 1}), " +
          s"i -> array_join(slice(ws, i, $SpanN), ' '))"))
        .otherwise(typedLit(Seq.empty[String]))).as(Seq("pos", "gram")))
    val w = Window.partitionBy("gram").orderBy("doc_id", "pos")
    val dupPos = spans.withColumn("rn", row_number().over(w))
      .filter(col("rn") > 1)
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + SpanN - 1)).as("wp"))
      .distinct()
    val wordsDf = tok
      .select(col("doc_id"), posexplode(col("ws")).as(Seq("wp", "word")))
    // ONE aggregation computes count, removed mass, and the kept text
    // (flag join instead of anti-join), so the tokenization runs twice
    // — spans + words — not three times; the docs rejoin below prunes
    // to doc_id like lineDedup's
    val perDoc = wordsDf
      .join(dupPos.withColumn("removed", lit(true)), Seq("doc_id", "wp"), "left")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_words"),
        sum(when(col("removed"), 1L).otherwise(0L)).as("n_removed"),
        array_join(transform(array_sort(collect_list(
          when(col("removed").isNull, struct(col("wp"), col("word"))))),
          s => s.getField("word")), " ").as("text_kept"))
    docs.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        coalesce(col("text_kept"), lit("")).as("text_kept"))
  }

  def spanRemovalSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
       |  FROM documents
       |), g AS (
       |  SELECT doc_id,
       |    unnest(range(1, len(ws) - ${SpanN - 1} + 1)) AS pos,
       |    unnest(list_transform(range(1, len(ws) - ${SpanN - 1} + 1),
       |      i -> array_to_string(ws[i:i + ${SpanN - 1}], ' '))) AS gram
       |  FROM d WHERE len(ws) >= $SpanN
       |), r AS (
       |  SELECT doc_id, pos,
       |    row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
       |  FROM g
       |), dup AS (
       |  SELECT DISTINCT doc_id, unnest(range(pos, pos + $SpanN)) AS wp
       |  FROM r WHERE rn > 1
       |), w AS (
       |  SELECT doc_id, unnest(range(1, len(ws) + 1)) AS wp, unnest(ws) AS word
       |  FROM d
       |), kept AS (
       |  SELECT w.doc_id, w.wp, w.word
       |  FROM w LEFT JOIN dup ON w.doc_id = dup.doc_id AND w.wp = dup.wp
       |  WHERE dup.wp IS NULL
       |), agg AS (
       |  SELECT doc_id, string_agg(word, ' ' ORDER BY wp) AS text_kept
       |  FROM kept GROUP BY doc_id
       |), rem AS (
       |  SELECT doc_id, count(*)::BIGINT AS n_removed FROM dup GROUP BY doc_id
       |)
       |SELECT d.doc_id, len(d.ws)::BIGINT AS n_words,
       |  coalesce(rem.n_removed, 0) AS n_removed,
       |  coalesce(agg.text_kept, '') AS text_kept
       |FROM d LEFT JOIN agg ON d.doc_id = agg.doc_id
       |LEFT JOIN rem ON d.doc_id = rem.doc_id
       |ORDER BY d.doc_id""".stripMargin

  // ------------------------------------- exact-substring dedup tier

  /** Repeated-substring threshold, in tokens (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better", §4:
    * repeated spans of ≥ 50 tokens are excised corpus-wide).
    */
  private val SubstringN = 50

  /** Rolling polynomial hash bases (odd, so multiplication is a
    * bijection mod 2⁶⁴); two independent lanes make the window key an
    * effective 128-bit fingerprint — corpus-scale collision odds are
    * ~n²/2¹²⁸, so no content re-verification pass is needed.
    */
  private val HashBase1 = 1000003L
  private val HashBase2 = 998244353L

  private def fnv64(s: String, seed: Long): Long = {
    var h = seed ^ 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h ^= s.charAt(i); h *= 0x100000001b3L; i += 1 }
    h
  }

  /** All `n`-token window fingerprints of one token sequence for one
    * base/seed lane: prefix polynomial hashes, windows by subtraction
    * — O(tokens), natural Long overflow = arithmetic mod 2⁶⁴.
    */
  private def windowHashes(ws: Seq[String], n: Int, base: Long,
      seed: Long): Array[Long] = {
    val m = ws.length
    if (m < n) return Array.empty
    val h = new Array[Long](m)
    var i = 0
    while (i < m) { h(i) = fnv64(ws(i), seed); i += 1 }
    var bn = 1L
    i = 0
    while (i < n) { bn *= base; i += 1 }
    val pre = new Array[Long](m + 1)
    i = 0
    while (i < m) { pre(i + 1) = pre(i) * base + h(i); i += 1 }
    Array.tabulate(m - n + 1)(j => pre(j + n) - pre(j) * bn)
  }

  /** EXACT-substring dedup — the heavy-duty tier behind
    * [[spanRemoval]]'s 5-gram approximation (Lee et al. 2022 run a
    * suffix array over the concatenated corpus; the Spark-native
    * equivalent of its ≥L-repeat scan is this rolling-fingerprint
    * sweep, because a repeated span of length ≥ L contains a repeated
    * L-token window at its start, and every repeated L-window marks
    * exactly the span tokens the suffix-array pass would): every
    * 50-token window is fingerprinted with two rolling polynomial
    * hash lanes (8+8 bytes per position — the corpus text itself
    * never shuffles as n-gram strings); window occurrences after the
    * first in (doc_id, pos) order mark their token range; marked
    * ranges (overlapping repeats union naturally) are excised.
    *
    * Scale shape: per-doc narrow fingerprinting, ONE shuffle on the
    * 128-bit window key whose buckets are occurrence lists (almost
    * always singletons), a dup-position aggregation sized by the
    * duplicated mass only, and a doc_id re-join for the rewrite. At
    * 100 TB the fingerprint table is ~24 B/token — the same order as
    * the tokenized corpus — against the quadratic-adjacent cost of
    * materializing 50-gram strings.
    *
    * Rows-only entry (the rolling fingerprint is not SQL-expressible
    * at this size); CurationSpec plants long cross-doc duplicates and
    * proves they are excised while clean docs pass untouched.
    */
  def substringDedup(spark: SparkSession, dir: String): DataFrame =
    substringDedupDocs(Tables.documents(spark, dir))

  private[graft] def substringDedupDocs(docs: DataFrame,
      minTokens: Int = SubstringN): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val words = docs.select(col("doc_id"),
      // null text ⇒ empty word array, matching the null-text contract
      // of the fingerprint dedup tier (a bare split(null) would NPE
      // the typed flatMap below)
      coalesce(split(trim(col("text")), s"[${TextOps.Ws}]+"),
        typedLit(Seq.empty[String])).as("ws"))
    val wins = words.as[(Long, Seq[String])].flatMap { case (id, ws) =>
      val w1 = windowHashes(ws, minTokens, HashBase1, 0L)
      val w2 = windowHashes(ws, minTokens, HashBase2, 0x9e3779b97f4a7c15L)
      w1.indices.iterator.map(i => (w1(i), w2(i), id, i))
    }.toDF("h1", "h2", "doc_id", "pos")
    val w = Window.partitionBy("h1", "h2").orderBy("doc_id", "pos")
    val dupStarts = wins.withColumn("rn", row_number().over(w))
      .filter(col("rn") > 1)
      .groupBy("doc_id").agg(collect_list("pos").as("starts"))
    words.join(dupStarts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("ws"),
        coalesce(col("starts"), typedLit(Seq.empty[Int])).as("starts"))
      .as[(Long, Seq[String], Seq[Int])]
      .map { case (id, ws, starts) =>
        val mask = new Array[Boolean](ws.length)
        starts.foreach { s =>
          var i = s; val end = math.min(s + minTokens, ws.length)
          while (i < end) { mask(i) = true; i += 1 }
        }
        val kept = new scala.collection.mutable.StringBuilder
        var removed = 0L
        var i = 0
        while (i < ws.length) {
          if (mask(i)) removed += 1
          else {
            if (kept.nonEmpty) kept.append(' ')
            kept.append(ws(i))
          }
          i += 1
        }
        (id, ws.length.toLong, removed, kept.toString)
      }
      .toDF("doc_id", "n_words", "n_removed", "text_kept")
  }

  /** FULL DuckDB dual of [[substringDedup]] (round-11: rows → SQL).
    * The Spark side never materializes n-gram strings — the two
    * 64-bit rolling lanes stand in for window identity — but the
    * SEMANTICS are pure SQL: a window is its 50 tokens, occurrences
    * after the first in (doc_id, pos) order mark their token range,
    * marked ranges excise. At oracle scale DuckDB can afford the
    * literal window strings, so the hash compare proves the whole
    * fingerprint pipeline (fnv64 lanes, polynomial roll, mask fold)
    * equals the definitional form — modulo the ~2⁻¹²⁸ two-lane
    * collision the scaladoc above documents.
    */
  def substringDedupSql: String =
    s"""WITH w AS (
      |  SELECT doc_id,
      |    coalesce(string_split_regex(trim(text), '\\s+'), []) AS ws
      |  FROM documents
      |), wins AS (
      |  SELECT doc_id, i AS pos,
      |    array_to_string(ws[i + 1 : i + $SubstringN], ' ') AS win
      |  FROM w, unnest(generate_series(0, len(ws) - $SubstringN)) AS t(i)
      |  WHERE len(ws) >= $SubstringN
      |), dup AS (
      |  SELECT doc_id, pos FROM (
      |    SELECT doc_id, pos,
      |      row_number() OVER (PARTITION BY win ORDER BY doc_id, pos) AS rn
      |    FROM wins) WHERE rn > 1
      |), toks AS (
      |  SELECT w.doc_id, j - 1 AS p, ws[j] AS word
      |  FROM w, unnest(generate_series(1, len(ws))) AS t(j)
      |), masked AS (
      |  SELECT DISTINCT t.doc_id, t.p
      |  FROM toks t JOIN dup d ON d.doc_id = t.doc_id
      |    AND t.p >= d.pos AND t.p < d.pos + $SubstringN
      |), agg AS (
      |  SELECT t.doc_id, count(*)::BIGINT AS n_words,
      |    count(m.p)::BIGINT AS n_removed,
      |    coalesce(string_agg(CASE WHEN m.p IS NULL THEN t.word END,
      |      ' ' ORDER BY t.p), '') AS text_kept
      |  FROM toks t LEFT JOIN masked m
      |    ON m.doc_id = t.doc_id AND m.p = t.p
      |  GROUP BY t.doc_id
      |)
      |SELECT d.doc_id, coalesce(a.n_words, 0)::BIGINT AS n_words,
      |  coalesce(a.n_removed, 0)::BIGINT AS n_removed,
      |  coalesce(a.text_kept, '') AS text_kept
      |FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** The same packing as one SQL window cumsum — correct at oracle
    * scale, where a global ORDER BY window is affordable.
    */
  /** Shared DuckDB CTE block: whitespace tokenize + running-sum
    * start offsets — one definition for [[packSequencesSql]] and
    * [[packStatsSql]] so the summary can never describe a different
    * packing than the pack query emits.
    */
  private val packPrefixCtes: String =
    """t AS (
      |  SELECT doc_id,
      |    len(string_split_regex(trim(text), '\s+'))::BIGINT AS n_tokens
      |  FROM documents
      |), c AS (
      |  SELECT doc_id, n_tokens,
      |    (sum(n_tokens) OVER (ORDER BY doc_id
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |     - n_tokens)::BIGINT AS start_offset
      |  FROM t)""".stripMargin

  def packSequencesSql: String =
    s"""WITH $packPrefixCtes
       |SELECT doc_id, n_tokens, start_offset,
       |  (start_offset // $PackBudget)::BIGINT AS seq_id,
       |  (start_offset % $PackBudget)::BIGINT AS offset_in_seq
       |FROM c ORDER BY doc_id""".stripMargin

  /** Packing-efficiency REPORT over [[packSequences]] — the one-row
    * summary a training run reads before trusting a packed corpus:
    * how many `budget`-token sequences the epoch yields, how many
    * documents get cut by a sequence boundary (the attention-
    * contamination / truncation proxy, in ppm), the worst-case
    * sequence span of a single document, and the fill of the final
    * partial sequence. Concat-and-chunk packs every interior
    * sequence full by construction, so boundary splits and the tail
    * ARE the whole efficiency story.
    *
    * Scale shape: rides the pack output (one small row per doc) into
    * a single partial-agg collapse — the prefix-sum pass dominates,
    * and that is already the distributed two-pass shape.
    */
  def packStats(spark: SparkSession, dir: String,
      budget: Long = PackBudget): DataFrame =
    packStatsDocs(Tables.documents(spark, dir), budget)

  private[graft] def packStatsDocs(docs: DataFrame,
      budget: Long = PackBudget): DataFrame = {
    val packed = packSequencesDocs(docs, budget)
    val lastSeq = when(col("n_tokens") > 0,
      expr(s"(start_offset + n_tokens - 1) DIV $budget"))
      .otherwise(col("seq_id"))
    packed
      .select(col("n_tokens"), (lastSeq - col("seq_id") + 1L).as("spans"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        sum(when(col("spans") > 1, 1L).otherwise(0L)).as("n_docs_split"),
        max("spans").as("max_seqs_spanned"))
      .select(col("n_docs"), col("total_tokens"),
        expr(s"(total_tokens + ${budget - 1}) DIV $budget").as("n_sequences"),
        col("n_docs_split"),
        // empty-corpus guard: an explicit NULL on both engines (DuckDB
        // raises on integer // 0 where Spark's DIV yields NULL)
        when(col("n_docs") === 0, lit(null).cast("long"))
          .otherwise(expr("n_docs_split * 1000000 DIV n_docs"))
          .as("split_ppm"),
        col("max_seqs_spanned"),
        when(col("total_tokens") % budget === 0, lit(1000000L))
          .otherwise(expr(s"total_tokens % $budget * 1000000 DIV $budget"))
          .as("tail_fill_ppm"))
  }

  /** DuckDB dual of [[packStats]]: the [[packSequencesSql]] prefix-sum
    * CTEs collapsed by the same integer arithmetic.
    */
  def packStatsSql: String =
    s"""WITH $packPrefixCtes, s AS (
       |  SELECT n_tokens,
       |    (CASE WHEN n_tokens > 0
       |          THEN (start_offset + n_tokens - 1) // $PackBudget
       |          ELSE start_offset // $PackBudget END
       |      - start_offset // $PackBudget + 1)::BIGINT AS spans
       |  FROM c
       |), g AS (
       |  SELECT count(*)::BIGINT AS n_docs, sum(n_tokens)::BIGINT AS total_tokens,
       |    sum(CASE WHEN spans > 1 THEN 1 ELSE 0 END)::BIGINT AS n_docs_split,
       |    max(spans)::BIGINT AS max_seqs_spanned
       |  FROM s
       |)
       |SELECT n_docs, total_tokens,
       |  ((total_tokens + ${PackBudget - 1}) // $PackBudget)::BIGINT AS n_sequences,
       |  n_docs_split,
       |  (CASE WHEN n_docs = 0 THEN NULL
       |        ELSE n_docs_split * 1000000 // n_docs END)::BIGINT AS split_ppm,
       |  max_seqs_spanned,
       |  (CASE WHEN total_tokens % $PackBudget = 0 THEN 1000000
       |        ELSE total_tokens % $PackBudget * 1000000 // $PackBudget
       |   END)::BIGINT AS tail_fill_ppm
       |FROM g""".stripMargin

  // --------------------------------------------------- no-split packing

  /** One packing strategy: a bin COMPOSITION (token lengths in the
    * deterministic greedy order) stamped `copies` times.
    */
  private[graft] final case class PackStrategy(comp: Seq[Long], copies: Long)

  /** Histogram bin-packing solve — the driver-sized half of
    * [[packBestFit]] (the shape of Krell et al. 2021's histogram
    * packing: the corpus collapses to a ≤`budget`-cell length
    * histogram, the packing problem is solved ON THE HISTOGRAM, and
    * only the strategy table returns to the cluster). Greedy
    * first-fit-decreasing over counts: each composition repeatedly
    * takes as many copies of the LARGEST remaining length as still
    * fit, closes when nothing fits, and stamps as many identical
    * bins as the counts allow in one step. A bin closes only when
    * every remaining length exceeds its residual, so consecutive
    * compositions pair-sum over budget — bins < 2·OPT + 1
    * (spec-asserted against the ⌈total/budget⌉ lower bound).
    */
  private[graft] def solvePacking(hist: Map[Long, Long],
      budget: Long): Seq[PackStrategy] = {
    val counts = scala.collection.mutable.TreeMap.empty[Long, Long](
      Ordering[Long].reverse)
    counts ++= hist.filter { case (len, cnt) => len > 0 && cnt > 0 }
    require(counts.isEmpty || counts.head._1 <= budget,
      s"solvePacking: length ${counts.headOption.map(_._1)} exceeds budget $budget")
    val out = Seq.newBuilder[PackStrategy]
    var guard = 0
    while (counts.nonEmpty) {
      guard += 1
      require(guard <= 4 * 1024 * 1024,
        "solvePacking: strategy count exploded — histogram not budget-bounded?")
      // one composition: greedy largest-fitting, grouped by length
      // (each length enters a composition at most once — its take is
      // count- or residual-limited, so revisiting can't add more)
      var rem = budget
      val comp = Seq.newBuilder[Long]
      val mult = scala.collection.mutable.LinkedHashMap.empty[Long, Long]
      var next = counts.iteratorFrom(rem).find(e => !mult.contains(e._1))
      while (next.isDefined) {
        val (len, cnt) = next.get
        val k = math.min(cnt, rem / len)
        (0L until k).foreach(_ => comp += len)
        mult(len) = k
        rem -= k * len
        next = counts.iteratorFrom(rem).find(e => !mult.contains(e._1))
      }
      // stamp identical bins while every member length lasts
      val copies = mult.map { case (len, m) => counts(len) / m }.min
      mult.foreach { case (len, m) =>
        val left = counts(len) - copies * m
        if (left == 0) counts.remove(len) else counts(len) = left
      }
      out += PackStrategy(comp.result(), copies)
    }
    out.result()
  }

  /** NO-SPLIT sequence packing — the contamination-free alternative
    * to [[packSequences]]' concat-and-chunk (Krell et al. 2021,
    * "Efficient Sequence Packing without Cross-contamination"):
    * every document lands WHOLE in exactly one `budget`-token bin
    * (attention never crosses a document boundary mid-sequence), at
    * the cost of per-bin slack instead of boundary splits. Documents
    * longer than the budget truncate to it and flag. Emits per doc
    * its bin, its item index inside the bin, and its token offset.
    *
    * Scale shape: the corpus collapses to a ≤`budget`-cell length
    * HISTOGRAM (one partial agg — the only driver state is
    * histogram-sized, never corpus-sized); [[solvePacking]] solves
    * bin composition on the histogram; the strategy directory
    * (lengths × strategies, broadcast) turns each doc's rank within
    * its length group into (bin, slot) by pure integer arithmetic.
    * The one corpus shuffle is the per-length rank window
    * (a same-length crowd lands on one reducer — at extreme skew the
    * rank swaps to the [[packSequences]] two-pass prefix-sum shape).
    * Deterministic end to end: ranks order by doc_id, bins number by
    * strategy order.
    */
  def packBestFit(spark: SparkSession, dir: String,
      budget: Long = PackBudget): DataFrame =
    packBestFitDocs(Tables.documents(spark, dir), budget)

  private[graft] def packBestFitDocs(docs: DataFrame,
      budget: Long = PackBudget): DataFrame =
    packByHistogram(
      docs.select(col("doc_id"),
          size(split(trim(col("text")), s"[${TextOps.Ws}]+")).cast("long")
            .as("n_tokens"))
        .withColumn("grp", lit(""))
        .withColumn("id", col("doc_id"))
        .withColumn("full_len", col("n_tokens")),
      budget)
      .select(col("doc_id"), col("n_tokens"), col("len"), col("truncated"),
        col("bin_id"), col("item_in_bin"), col("offset_in_bin"))

  /** The GROUPED histogram-packing kernel behind [[packBestFit]] and
    * [[modalBatches]] — items pack within their `grp` (bins never mix
    * groups; bin ids number per group): input needs (grp, id,
    * full_len) plus any carry-through columns; output appends (len,
    * truncated, bin_id, item_in_bin, offset_in_bin). Oversized items
    * truncate to the budget and flag. Driver state is one histogram
    * per group (≤ budget cells each — never item-scale); the one
    * corpus shuffle is the per-(grp, len) rank window.
    */
  private[graft] def packByHistogram(items: DataFrame,
      budget: Long): DataFrame = {
    val spark = items.sparkSession
    // totality: a zero- or unknown-length item still occupies ONE
    // unit (a batch slot is never free), so every input row packs —
    // an unclamped len of 0/null would get no directory row and
    // silently vanish in the inner join
    val sized = items
      .withColumn("full_len", coalesce(col("full_len"), lit(0L)))
      .withColumn("len",
        least(greatest(col("full_len"), lit(1L)), lit(budget)))
      .withColumn("truncated", col("full_len") > budget)
    val hists = sized.groupBy("grp", "len").agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).view
      .mapValues(_.map(t => t._2 -> t._3).toMap).toMap
    // directory: one row per (grp, length, strategy containing it) —
    // the broadcast that maps an item's per-length rank to (bin, slot)
    val dirSchema = StructType(Seq(
      StructField("d_grp", StringType),
      StructField("d_len", LongType), StructField("slot_start", LongType),
      StructField("slot_end", LongType), StructField("base_bin", LongType),
      StructField("mult", LongType),
      StructField("item_idx", ArrayType(LongType)),
      StructField("item_off", ArrayType(LongType))))
    val dirRows = Seq.newBuilder[Row]
    hists.toSeq.sortBy(_._1).foreach { case (grp, hist) =>
      val slotCursor = scala.collection.mutable.Map.empty[Long, Long]
      var baseBin = 0L
      solvePacking(hist, budget).foreach { s =>
        val offs = s.comp.scanLeft(0L)(_ + _)
        s.comp.zipWithIndex.groupBy(_._1).foreach { case (len, occ) =>
          val m = occ.length.toLong
          val start = slotCursor.getOrElse(len, 0L)
          dirRows += Row(grp, len, start, start + s.copies * m, baseBin, m,
            occ.map(_._2.toLong), occ.map(o => offs(o._2)))
          slotCursor(len) = start + s.copies * m
        }
        baseBin += s.copies
      }
    }
    val dir = spark.createDataFrame(
      spark.sparkContext.parallelize(dirRows.result(), 1), dirSchema)
    val rankW = Window.partitionBy(col("grp"), col("len")).orderBy("id")
    sized
      .withColumn("r", row_number().over(rankW).cast("long") - 1L)
      .join(broadcast(dir),
        col("grp") === col("d_grp") && col("len") === col("d_len") &&
          col("r") >= col("slot_start") && col("r") < col("slot_end"))
      .withColumn("bin_id", expr("base_bin + (r - slot_start) DIV mult"))
      .withColumn("item_in_bin", element_at(col("item_idx"),
        ((col("r") - col("slot_start")) % col("mult") + 1L).cast("int")))
      .withColumn("offset_in_bin", element_at(col("item_off"),
        ((col("r") - col("slot_start")) % col("mult") + 1L).cast("int")))
      .drop("d_grp", "d_len", "slot_start", "slot_end", "base_bin", "mult",
        "item_idx", "item_off", "r")
  }

  /** Decode-batch budget for [[modalBatches]] (bytes per GPU/codec
    * batch at verify scale; production sizes this to accelerator
    * memory).
    */
  private[graft] val ModalBatchBytes = 4096L

  /** MULTIMODAL DECODE-BATCH planning — the accelerator-side dual of
    * [[packBestFit]]: a GPU/codec decode stage wants fixed byte-budget
    * batches of WHOLE payloads, one modality per batch (images, audio
    * and video decode through different kernels), not a stream of
    * individually-submitted blobs. Each payload (the binary column
    * [[graft.operators.Multimodal]] treats as opaque) lands whole in
    * exactly one ≤[[ModalBatchBytes]] batch of its modality, with its
    * slot and byte offset — the batch id, item index and offset ARE
    * the copy plan a host-to-device transfer executes. Oversized
    * payloads flag for the chunked-decode path.
    *
    * Same scale shape as the packer it reuses ([[packByHistogram]]):
    * per-modality byte histograms (driver state ≤ 3×budget cells),
    * greedy FFD on the histogram, broadcast directory, one
    * (modality, size) rank window. Deterministic end to end.
    */
  def modalBatches(spark: SparkSession, dir: String,
      budget: Long = ModalBatchBytes): DataFrame =
    modalBatchesDocs(Tables.documents(spark, dir), budget)

  private[graft] def modalBatchesDocs(docsIn: DataFrame,
      budget: Long = ModalBatchBytes): DataFrame =
    packByHistogram(
      docsIn
        .select(col("doc_id"),
          Multimodal.modalityOf(col("doc_id")).as("modality"),
          length(col("text").cast("binary")).cast("long").as("n_bytes"))
        .withColumn("grp", col("modality"))
        .withColumn("id", col("doc_id"))
        .withColumn("full_len", col("n_bytes")),
      budget)
      .select(col("doc_id"), col("modality"), col("n_bytes"),
        col("truncated"), col("bin_id").as("batch_id"),
        col("item_in_bin").as("item_in_batch"),
        col("offset_in_bin").as("offset_bytes"))

  /** BIN-ACCOUNTING RECOUNT over [[packBestFit]]'s output — the
    * packing's conservation and validity invariants as ONE hash-
    * graded row. The bin/slot assignment itself is not SQL-expressible
    * (greedy FFD on a histogram is iterative), but everything a
    * correct packing must CONSERVE is: the oracle recomputes n_docs,
    * clamped token mass, truncation count and the ⌈mass/budget⌉ bin
    * lower bound straight from the raw corpus, while the Spark side
    * recounts them FROM THE PACKED OUTPUT — equality proves no doc
    * vanished, duplicated, or changed length through the pack. The
    * boolean columns carry the Spark-side internal invariants (every
    * bin within budget; offsets = per-bin prefix sums; slots dense
    * 0..n−1); the oracle emits the TRUE literals they must equal.
    *
    * Scale shape: rides the pack itself + two bounded aggregates
    * (per-bin, then one row).
    */
  def packBestFitRecount(spark: SparkSession, dir: String,
      budget: Long = PackBudget): DataFrame = {
    val packed = packBestFit(spark, dir, budget)
    val wOff = Window.partitionBy("bin_id").orderBy("item_in_bin")
      .rowsBetween(Window.unboundedPreceding, -1)
    val checked = packed.withColumn("exp_off",
      coalesce(sum("len").over(wOff), lit(0L)))
    val docAgg = checked.agg(
      count(lit(1)).as("n_docs"),
      sum("len").as("total_len"),
      sum(when(col("truncated"), 1L).otherwise(0L)).as("n_truncated"),
      expr("bool_and(offset_in_bin = exp_off)").as("offsets_ok"))
    val binAgg = packed.groupBy("bin_id").agg(
      sum("len").as("fill"), count(lit(1)).as("n_items"),
      min("item_in_bin").as("mn"), max("item_in_bin").as("mx"),
      countDistinct(col("item_in_bin")).as("nd"))
      .agg(expr(s"bool_and(fill <= ${budget}L)").as("bins_within_budget"),
        expr("bool_and(mn = 0 AND mx = n_items - 1 AND nd = n_items)")
          .as("slots_dense"))
    docAgg.crossJoin(binAgg)
      .select(col("n_docs"), col("total_len"), col("n_truncated"),
        expr(s"(total_len + ${budget - 1}L) DIV ${budget}L")
          .as("min_bins_lb"),
        col("bins_within_budget"), col("offsets_ok"), col("slots_dense"))
  }

  def packBestFitRecountSql: String =
    s"""WITH d AS (
      |  SELECT len(string_split_regex(trim(text), '\\s+'))::BIGINT AS n_tok
      |  FROM documents
      |), s AS (
      |  SELECT least(greatest(n_tok, 1), $PackBudget) AS len,
      |    n_tok > $PackBudget AS tr
      |  FROM d
      |)
      |SELECT count(*)::BIGINT AS n_docs, sum(len)::BIGINT AS total_len,
      |  sum(CASE WHEN tr THEN 1 ELSE 0 END)::BIGINT AS n_truncated,
      |  ((sum(len) + ${PackBudget - 1}) // $PackBudget)::BIGINT AS min_bins_lb,
      |  true AS bins_within_budget, true AS offsets_ok, true AS slots_dense
      |FROM s""".stripMargin

  /** [[modalBatchesRecount]]'s grouped sibling over [[modalBatches]]:
    * the same conservation + validity accounting, one row per
    * MODALITY (batches never mix modalities, so the recount mustn't
    * either — a doc packed under the wrong modality would move mass
    * between rows and break the hash even though corpus totals
    * survive). Oracle recomputes each modality's membership from the
    * deterministic doc_id → modality map and byte lengths from the
    * raw payloads.
    */
  def modalBatchesRecount(spark: SparkSession, dir: String,
      budget: Long = ModalBatchBytes): DataFrame = {
    val packed = modalBatches(spark, dir, budget)
      .withColumn("len",
        least(greatest(col("n_bytes"), lit(1L)), lit(budget)))
    val wOff = Window.partitionBy("modality", "batch_id")
      .orderBy("item_in_batch")
      .rowsBetween(Window.unboundedPreceding, -1)
    val checked = packed.withColumn("exp_off",
      coalesce(sum("len").over(wOff), lit(0L)))
    val docAgg = checked.groupBy("modality").agg(
      count(lit(1)).as("n_items"),
      sum("len").as("total_bytes"),
      sum(when(col("truncated"), 1L).otherwise(0L)).as("n_truncated"),
      expr("bool_and(offset_bytes = exp_off)").as("offsets_ok"))
    val binAgg = packed.groupBy("modality", "batch_id").agg(
      sum("len").as("fill"), count(lit(1)).as("n_in_batch"),
      min("item_in_batch").as("mn"), max("item_in_batch").as("mx"),
      countDistinct(col("item_in_batch")).as("nd"))
      .groupBy("modality")
      .agg(expr(s"bool_and(fill <= ${budget}L)").as("batches_within_budget"),
        expr("bool_and(mn = 0 AND mx = n_in_batch - 1 AND nd = n_in_batch)")
          .as("slots_dense"))
    docAgg.join(binAgg, Seq("modality"))
      .select(col("modality"), col("n_items"), col("total_bytes"),
        col("n_truncated"),
        expr(s"(total_bytes + ${budget - 1}L) DIV ${budget}L")
          .as("min_batches_lb"),
        col("batches_within_budget"), col("offsets_ok"), col("slots_dense"))
  }

  def modalBatchesRecountSql: String =
    s"""WITH d AS (
      |  SELECT list_extract(['image', 'audio', 'video'],
      |      (doc_id % 3 + 1)::INT) AS modality,
      |    octet_length(encode(text))::BIGINT AS n_bytes
      |  FROM documents
      |), s AS (
      |  SELECT modality, least(greatest(n_bytes, 1), $ModalBatchBytes) AS len,
      |    n_bytes > $ModalBatchBytes AS tr
      |  FROM d
      |)
      |SELECT modality, count(*)::BIGINT AS n_items,
      |  sum(len)::BIGINT AS total_bytes,
      |  sum(CASE WHEN tr THEN 1 ELSE 0 END)::BIGINT AS n_truncated,
      |  ((sum(len) + ${ModalBatchBytes - 1}) // $ModalBatchBytes)::BIGINT
      |    AS min_batches_lb,
      |  true AS batches_within_budget, true AS offsets_ok, true AS slots_dense
      |FROM s GROUP BY modality ORDER BY modality""".stripMargin

  /** T5-STYLE SPAN CORRUPTION — the denoising-objective data prep
    * (Raffel et al. 2020): mask contiguous token spans, replace each
    * masked run with one `<extra_id_K>` sentinel in the INPUT, and
    * emit the TARGET as the sentinel-delimited masked spans plus the
    * closing sentinel. Fully DETERMINISTIC: token positions partition
    * into 3-token blocks, and block b of doc d masks iff
    * ((d·131 + b) mod 1000003)·2654435761 mod 7 = 0 (the
    * [[stratifiedSample]] multiplicative-hash idiom — pure integer
    * arithmetic both engines evaluate identically; no RNG, so the
    * corruption is reproducible and resumable at 100 TB). Expected
    * mask rate 1/7 ≈ 14.3% in ≈3-token mean spans; ADJACENT masked
    * blocks merge into one sentinel (the T5 convention) — the run
    * starts are where a masked block follows an unmasked one.
    *
    * Cross-engine exactness: everything is integer arithmetic and
    * string assembly over the shared whitespace tokenizer — no
    * floats anywhere.
    *
    * Scale shape: a pure PER-ROW projection (the [[graft.operators.TextOps.lexicalDiversity]]
    * idiom) — block flags, sentinel ids (a prefix count over the
    * doc's own ≤n/3 blocks), and both output strings assemble inside
    * the row; zero exchanges, streaming-legal.
    */
  def spanCorruption(spark: SparkSession, dir: String): DataFrame =
    spanCorruptionDocs(Tables.documents(spark, dir))

  private[graft] def spanCorruptionDocs(docs: DataFrame): DataFrame = {
    def mk(b: String) =
      s"(((doc_id * 131 + $b) % 1000003) * 2654435761) % 7 = 0"
    def start(b: String) =
      s"(${mk(b)}) AND ($b = 0 OR NOT (${mk(s"($b - 1)")}))"
    // 0-based id of the masked RUN containing block b (b must start one)
    def sid(b: String) =
      s"size(filter(sequence(0, $b), j -> ${start("j")})) - 1"
    val blk = "slice(toks, b * 3 + 1, 3)"
    docs
      .withColumn("toks", split(trim(col("text")), "[ \\t\\n\\f\\r]+"))
      .withColumn("blocks", expr(
        "sequence(0, CAST((size(toks) + 2) DIV 3 AS INT) - 1)"))
      .withColumn("n_spans", expr(
        s"size(filter(blocks, b -> ${start("b")}))").cast("long"))
      .withColumn("n_masked", expr(
        s"aggregate(blocks, 0L, (acc, b) -> acc + IF(${mk("b")}, " +
          s"size($blk), 0))").cast("long"))
      .withColumn("corrupted", expr(
        s"""concat_ws(' ', flatten(transform(blocks, b ->
           |  CASE WHEN NOT (${mk("b")}) THEN $blk
           |       WHEN ${start("b")} THEN array(concat('<extra_id_',
           |         CAST((${sid("b")}) AS STRING), '>'))
           |       ELSE array() END)))""".stripMargin))
      .withColumn("target", expr(
        s"""concat_ws(' ', concat(flatten(transform(blocks, b ->
           |  CASE WHEN (${mk("b")}) AND (${start("b")})
           |         THEN concat(array(concat('<extra_id_',
           |           CAST((${sid("b")}) AS STRING), '>')), $blk)
           |       WHEN ${mk("b")} THEN $blk
           |       ELSE array() END)),
           |  array(concat('<extra_id_', CAST(n_spans AS STRING), '>'))))"""
          .stripMargin))
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"),
        col("n_masked"), col("n_spans"), col("corrupted"), col("target"))
  }

  def spanCorruptionSql: String = {
    def mk(b: String) =
      s"((((doc_id * 131 + $b) % 1000003) * 2654435761) % 7 = 0)"
    def start(b: String) =
      s"(${mk(b)} AND ($b = 0 OR NOT ${mk(s"($b - 1)")}))"
    def sid(b: String) =
      s"(len(list_filter(generate_series(0, $b), j -> ${start("j")})) - 1)"
    val blk = "toks[b * 3 + 1 : b * 3 + 3]"
    s"""WITH t AS (
       |  SELECT doc_id,
       |    string_split_regex(trim(text), '\\s+') AS toks,
       |    generate_series(0,
       |      CAST(ceil(len(string_split_regex(trim(text), '\\s+')) / 3.0)
       |        AS INT) - 1) AS blocks
       |  FROM documents
       |), s AS (
       |  SELECT doc_id, toks, blocks,
       |    len(list_filter(blocks, b -> ${start("b")}))::BIGINT AS n_spans
       |  FROM t
       |)
       |SELECT doc_id, len(toks)::BIGINT AS n_tokens,
       |  list_sum(list_transform(blocks, b ->
       |    CASE WHEN ${mk("b")} THEN len($blk) ELSE 0 END))::BIGINT
       |    AS n_masked,
       |  n_spans,
       |  array_to_string(flatten(list_transform(blocks, b ->
       |    CASE WHEN NOT ${mk("b")} THEN $blk
       |         WHEN ${start("b")} THEN ['<extra_id_' ||
       |           CAST(${sid("b")} AS VARCHAR) || '>']
       |         ELSE [] END)), ' ') AS corrupted,
       |  array_to_string(list_concat(flatten(list_transform(blocks, b ->
       |    CASE WHEN ${mk("b")} AND ${start("b")}
       |           THEN list_concat(['<extra_id_' ||
       |             CAST(${sid("b")} AS VARCHAR) || '>'], $blk)
       |         WHEN ${mk("b")} THEN $blk
       |         ELSE [] END)),
       |    ['<extra_id_' || CAST(n_spans AS VARCHAR) || '>']), ' ')
       |    AS target
       |FROM s ORDER BY doc_id""".stripMargin
  }

  /** UL2 MIXTURE-OF-DENOISERS (Tay et al. 2022, "UL2: Unifying
    * Language Learning Paradigms"): every document is
    * deterministically routed to ONE denoiser family by the
    * [[docPrio]] hash idiom and emitted as an (inputs, targets)
    * training pair —
    *  - R (regular): the [[spanCorruption]] kernel's shape — 3-token
    *    blocks masked at rate 1/7, sentinel-delimited spans;
    *  - S (sequential / prefix-LM): a hash-derived split point,
    *    `inputs = prefix <extra_id_0>`, `targets = <extra_id_0>
    *    suffix` — the SFT-shaped objective;
    *  - X (extreme): 8-token blocks at rate 1/4 — long-span
    *    infilling, the objective that stresses generation length.
    * No RNG anywhere (cuts, masks, and routing are
    * multiplicative-hash integers both engines evaluate
    * identically), so the transform is reproducible and resumable at
    * 100 TB — the [[spanCorruption]] contract. The R leg is pinned
    * row-identical to q_span_corruption by spec, so the two
    * surfaces cannot drift.
    *
    * Scale shape: ONE corpus scan, pure per-row narrow arithmetic
    * (HOF folds over the token array — the [[fimDocs]] class), zero
    * shuffle. All three shapes are built as columns and the selector
    * CASE picks one; after projection collapse the unselected
    * branches are dead per row, and even evaluated eagerly they are
    * in-row integer/array work, strictly cheaper than the 3 corpus
    * scans a filter-per-leg union would pay.
    */
  def ul2Mix(spark: SparkSession, dir: String): DataFrame =
    ul2MixDocs(Tables.documents(spark, dir))

  /** Unordered kernel — the streaming dual serves THIS (stateless
    * per-row folds; the dir-level wrapper adds only the oracle
    * determinism sort).
    */
  private[graft] def ul2MixDocs(docs: DataFrame): DataFrame = {
    def mk(salt: Int, mod: Int)(b: String) =
      s"(((doc_id * $salt + $b) % 1000003) * 2654435761) % $mod = 0"
    def start(salt: Int, mod: Int)(b: String) =
      s"(${mk(salt, mod)(b)}) AND ($b = 0 OR NOT (${mk(salt, mod)(s"($b - 1)")}))"
    def spanCols(dfIn: DataFrame, tag: String, block: Int,
        salt: Int, mod: Int): DataFrame = {
      val m = mk(salt, mod) _
      val st = start(salt, mod) _
      def sid(b: String) =
        s"size(filter(sequence(0, $b), j -> ${st("j")})) - 1"
      val blk = s"slice(toks, b * $block + 1, $block)"
      dfIn
        .withColumn(s"blocks_$tag", expr(
          s"sequence(0, CAST((size(toks) + ${block - 1}) DIV $block AS INT) - 1)"))
        .withColumn(s"n_spans_$tag", expr(
          s"size(filter(blocks_$tag, b -> ${st("b")}))").cast("long"))
        .withColumn(s"n_masked_$tag", expr(
          s"aggregate(blocks_$tag, 0L, (acc, b) -> acc + IF(${m("b")}, " +
            s"size($blk), 0))").cast("long"))
        .withColumn(s"inputs_$tag", expr(
          s"""concat_ws(' ', flatten(transform(blocks_$tag, b ->
             |  CASE WHEN NOT (${m("b")}) THEN $blk
             |       WHEN ${st("b")} THEN array(concat('<extra_id_',
             |         CAST((${sid("b")}) AS STRING), '>'))
             |       ELSE array() END)))""".stripMargin))
        .withColumn(s"targets_$tag", expr(
          s"""concat_ws(' ', concat(flatten(transform(blocks_$tag, b ->
             |  CASE WHEN (${m("b")}) AND (${st("b")})
             |         THEN concat(array(concat('<extra_id_',
             |           CAST((${sid("b")}) AS STRING), '>')), $blk)
             |       WHEN ${m("b")} THEN $blk
             |       ELSE array() END)),
             |  array(concat('<extra_id_', CAST(n_spans_$tag AS STRING), '>'))))"""
            .stripMargin))
    }
    val base = docs
      .withColumn("toks", split(trim(col("text")), s"[${TextOps.Ws}]+"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("den", expr(
        "(((doc_id * 37 + 11) % 1000003) * 2654435761) % 3"))
    val withX = spanCols(spanCols(base, "r", 3, 131, 7), "x", 8, 151, 4)
    withX
      .withColumn("cut", expr(
        "CASE WHEN n_tokens >= 2 THEN 1 + (((doc_id * 53 + 7) % 1000003)" +
          " * 2654435761) % (n_tokens - 1) ELSE 0 END"))
      .withColumn("inputs_s", expr(
        "concat_ws(' ', concat(slice(toks, 1, CAST(cut AS INT)), " +
          "array('<extra_id_0>')))"))
      .withColumn("targets_s", expr(
        "concat_ws(' ', concat(array('<extra_id_0>'), " +
          "slice(toks, CAST(cut AS INT) + 1, " +
          "size(toks) - CAST(cut AS INT))))"))
      .withColumn("n_masked_s", col("n_tokens") - col("cut"))
      .select(col("doc_id"), col("n_tokens"),
        expr("CASE den WHEN 0 THEN 'R' WHEN 1 THEN 'S' ELSE 'X' END")
          .as("denoiser"),
        expr("CASE den WHEN 0 THEN n_masked_r WHEN 1 THEN n_masked_s " +
          "ELSE n_masked_x END").as("n_masked"),
        expr("CASE den WHEN 0 THEN inputs_r WHEN 1 THEN inputs_s " +
          "ELSE inputs_x END").as("inputs"),
        expr("CASE den WHEN 0 THEN targets_r WHEN 1 THEN targets_s " +
          "ELSE targets_x END").as("targets"))
  }

  /** DuckDB dual of [[ul2Mix]]: same hash routing, the same
    * parameterized span generators at (3, 1/7) and (8, 1/4), the
    * same prefix-LM split arithmetic.
    */
  def ul2MixSql: String = {
    def mk(salt: Int, mod: Int)(b: String) =
      s"((((doc_id * $salt + $b) % 1000003) * 2654435761) % $mod = 0)"
    def start(salt: Int, mod: Int)(b: String) =
      s"(${mk(salt, mod)(b)} AND ($b = 0 OR NOT ${mk(salt, mod)(s"($b - 1)")}))"
    def sid(salt: Int, mod: Int)(b: String) =
      s"(len(list_filter(generate_series(0, $b), j -> ${start(salt, mod)("j")})) - 1)"
    def blk(block: Int) = s"toks[b * $block + 1 : b * $block + $block]"
    def nMasked(tag: String, block: Int, salt: Int, mod: Int) =
      s"""list_sum(list_transform(blocks_$tag, b ->
         |    CASE WHEN ${mk(salt, mod)("b")} THEN len(${blk(block)})
         |         ELSE 0 END))::BIGINT""".stripMargin
    def inputs(tag: String, block: Int, salt: Int, mod: Int) =
      s"""array_to_string(flatten(list_transform(blocks_$tag, b ->
         |    CASE WHEN NOT ${mk(salt, mod)("b")} THEN ${blk(block)}
         |         WHEN ${start(salt, mod)("b")} THEN ['<extra_id_' ||
         |           CAST(${sid(salt, mod)("b")} AS VARCHAR) || '>']
         |         ELSE [] END)), ' ')""".stripMargin
    def targets(tag: String, block: Int, salt: Int, mod: Int) =
      s"""array_to_string(list_concat(flatten(list_transform(blocks_$tag, b ->
         |    CASE WHEN ${mk(salt, mod)("b")} AND ${start(salt, mod)("b")}
         |           THEN list_concat(['<extra_id_' ||
         |             CAST(${sid(salt, mod)("b")} AS VARCHAR) || '>'], ${blk(block)})
         |         WHEN ${mk(salt, mod)("b")} THEN ${blk(block)}
         |         ELSE [] END)),
         |    ['<extra_id_' || CAST(n_spans_$tag AS VARCHAR) || '>']), ' ')"""
        .stripMargin
    s"""WITH t AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
       |  FROM documents
       |), b AS (
       |  SELECT doc_id, toks, len(toks)::BIGINT AS n_tokens,
       |    ((doc_id * 37 + 11) % 1000003) * 2654435761 % 3 AS den,
       |    generate_series(0, CAST(ceil(len(toks) / 3.0) AS INT) - 1) AS blocks_r,
       |    generate_series(0, CAST(ceil(len(toks) / 8.0) AS INT) - 1) AS blocks_x,
       |    CASE WHEN len(toks) >= 2
       |         THEN 1 + ((doc_id * 53 + 7) % 1000003) * 2654435761
       |           % (len(toks) - 1)
       |         ELSE 0 END AS cut
       |  FROM t
       |), s AS (
       |  SELECT *,
       |    len(list_filter(blocks_r, b -> ${start(131, 7)("b")}))::BIGINT
       |      AS n_spans_r,
       |    len(list_filter(blocks_x, b -> ${start(151, 4)("b")}))::BIGINT
       |      AS n_spans_x
       |  FROM b
       |)
       |SELECT doc_id, n_tokens,
       |  CASE den WHEN 0 THEN 'R' WHEN 1 THEN 'S' ELSE 'X' END AS denoiser,
       |  (CASE den WHEN 0 THEN ${nMasked("r", 3, 131, 7)}
       |       WHEN 1 THEN n_tokens - cut
       |       ELSE ${nMasked("x", 8, 151, 4)} END)::BIGINT AS n_masked,
       |  CASE den WHEN 0 THEN ${inputs("r", 3, 131, 7)}
       |       WHEN 1 THEN array_to_string(list_concat(toks[1 : cut],
       |         ['<extra_id_0>']), ' ')
       |       ELSE ${inputs("x", 8, 151, 4)} END AS inputs,
       |  CASE den WHEN 0 THEN ${targets("r", 3, 131, 7)}
       |       WHEN 1 THEN array_to_string(list_concat(['<extra_id_0>'],
       |         toks[cut + 1 : len(toks)]), ' ')
       |       ELSE ${targets("x", 8, 151, 4)} END AS targets
       |FROM s ORDER BY doc_id""".stripMargin
  }

  /** FILL-IN-THE-MIDDLE transformation — [[spanCorruption]]'s infilling
    * sibling (Bavarian et al. 2022, "FIM-for-free"): half the corpus
    * (deterministic doc-hash gate, the [[docPrio]] idiom) is rewritten
    * PSM-style — `<PRE> prefix <SUF> suffix <MID> middle` — so the
    * model learns to infill conditioned on both sides; the other half
    * passes through verbatim (the paper's 0.5 FIM rate). The two cut
    * points are DETERMINISTIC per doc: a = h₁ mod (n+1),
    * b = a + h₂ mod (n−a+1) over the shared whitespace tokens —
    * multiplicative-hash integers both engines evaluate identically
    * (no RNG: the transform is reproducible and resumable at 100 TB,
    * the [[spanCorruption]] contract). Emits the cut points next to
    * the rewritten text so the round-trip invariant is checkable:
    * prefix + middle + suffix restores every doc's TOKEN SEQUENCE
    * (spec) — whitespace runs collapse to single spaces through the
    * split/concat_ws round trip, so raw bytes are NOT preserved, only
    * the token stream a tokenizer-downstream consumer reads.
    *
    * Cross-engine exactness: pure integer arithmetic + string
    * assembly — no floats anywhere. Scale shape: a pure PER-ROW
    * projection, zero exchanges, streaming-legal.
    */
  def fim(spark: SparkSession, dir: String): DataFrame =
    fimDocs(Tables.documents(spark, dir))

  /** Unordered kernel — the streaming dual serves THIS (a stateless
    * per-row projection; the dir-level wrapper adds only the oracle
    * determinism sort, which a stream cannot and need not have).
    */
  private[graft] def fimDocs(docs: DataFrame): DataFrame =
    docs
      .withColumn("toks", split(trim(col("text")), "[ \\t\\n\\f\\r]+"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("is_fim", expr(
        "(doc_id % 1000003 * 2654435761) % 1000000 < 500000"))
      .withColumn("cut_a", expr(
        "CASE WHEN is_fim THEN" +
          " (((doc_id * 17 + 1) % 1000003) * 2654435761) % (n_tokens + 1)" +
          " END"))
      .withColumn("cut_b", expr(
        "CASE WHEN is_fim THEN cut_a +" +
          " (((doc_id * 29 + 2) % 1000003) * 2654435761)" +
          " % (n_tokens - cut_a + 1) END"))
      .withColumn("fim_text", expr(
        """CASE WHEN is_fim THEN concat_ws(' ', concat(
          |    array('<PRE>'), slice(toks, 1, CAST(cut_a AS INT)),
          |    array('<SUF>'), slice(toks, CAST(cut_b + 1 AS INT),
          |      CAST(n_tokens - cut_b AS INT)),
          |    array('<MID>'), slice(toks, CAST(cut_a + 1 AS INT),
          |      CAST(cut_b - cut_a AS INT))))
          |  ELSE concat_ws(' ', toks) END""".stripMargin))
      .select("doc_id", "n_tokens", "is_fim", "cut_a", "cut_b", "fim_text")

  def fimSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    string_split_regex(trim(text), '\s+') AS toks,
      |    len(string_split_regex(trim(text), '\s+'))::BIGINT AS n_tokens,
      |    ((doc_id % 1000003 * 2654435761) % 1000000 < 500000) AS is_fim
      |  FROM documents
      |), c AS (
      |  SELECT *,
      |    CASE WHEN is_fim THEN
      |      (((doc_id * 17 + 1) % 1000003) * 2654435761) % (n_tokens + 1)
      |      END AS cut_a
      |  FROM t
      |), d AS (
      |  SELECT *,
      |    CASE WHEN is_fim THEN cut_a +
      |      (((doc_id * 29 + 2) % 1000003) * 2654435761)
      |      % (n_tokens - cut_a + 1) END AS cut_b
      |  FROM c
      |)
      |SELECT doc_id, n_tokens, is_fim, cut_a, cut_b,
      |  CASE WHEN is_fim THEN array_to_string(flatten([
      |      ['<PRE>'], toks[1 : cut_a],
      |      ['<SUF>'], toks[cut_b + 1 : n_tokens],
      |      ['<MID>'], toks[cut_a + 1 : cut_b]]), ' ')
      |    ELSE array_to_string(toks, ' ') END AS fim_text
      |FROM d ORDER BY doc_id""".stripMargin

  /** CURRICULUM ORDERING — the easy→hard schedule a curriculum-
    * learning run consumes (Bengio et al. 2009): per-document
    * difficulty = mean token SURPRISAL in nats under the corpus'
    * own unigram distribution (−ln(c(w)/T) averaged over token
    * instances — a doc of common words scores low, one of rare
    * words high), then the corpus in ascending-difficulty order
    * with a global position and a fixed-width 4-phase bucket
    * (`phase = ((pos−1)·4) DIV N + 1`, integer arithmetic — NOT
    * SQL ntile, whose remainder-distribution rules differ across
    * engines).
    *
    * Cross-engine exactness: each token's surprisal rounds to 12
    * decimals and sums as DECIMAL(28,14) (order-independent exact
    * addition, the [[graft.operators.TextOps.tokenDrift]]
    * discipline; term magnitude ≤ ln T ≈ 40 nats at any corpus
    * size, ulp ≪ the 5e-13 rounding boundary); difficulty is the
    * decimal sum ÷ token count rounded to 8, and the global order
    * ties break on the ROUNDED value + doc_id, so both engines
    * rank identically.
    *
    * Scale shape: TWO corpus token passes — one building the
    * count table (map-side-combined word agg), one probing it as a
    * BROADCAST join — collapsed by a doc-keyed partial agg (the
    * [[graft.operators.TextOps.heapsFit]] two-pass floor: the count
    * table must exist before any token can be scored); the global
    * order avoids the single-task unpartitioned window via the
    * bucket-offset decomposition (the
    * [[graft.operators.TextOps.heapsFit]] idiom): centinat buckets
    * carry per-bucket row_number windows, offsets ride a
    * bucket-count-sized window, N rides the same window pass as a
    * full-frame sum. Docs with zero tokens drop (no instances to
    * score) on both engines.
    *
    * VOCAB CAP (round 12): whitespace words are an OPEN vocabulary —
    * Heaps' law grows the raw count table with the corpus, so
    * broadcasting it unbounded would eventually exceed driver and
    * broadcast limits at the advertised scale. The broadcast
    * vocabulary is therefore the TOP-[[CurriculumVocabCap]] types by
    * (count desc, word) — a distributed TakeOrdered, no single-task
    * window — and out-of-vocabulary tokens score with count 1, the
    * max-surprisal ceiling [[graft.streaming.DocStream
    * .curriculumScoreStream]] already applies to unseen words (rare
    * types are exactly the ones whose true count is near 1, so the
    * approximation error vanishes where the cap bites). The token
    * total T stays the FULL corpus mass. The test corpora sit far
    * under the cap, so the driver hash pins the capped and uncapped
    * semantics as identical there; the spec exercises a binding cap
    * explicitly. NO SILENT CAPS (round 13): each row reports
    * `oov_tokens` — the instances that fell outside the vocabulary
    * and took the ceiling — so a 100 TB run can see per document how
    * much of its difficulty is approximation rather than read the
    * capped score as exact.
    */
  /** The standing-vocabulary size bound — 64Ki types ≈ a few MB
    * broadcast, the GPT-2-class budget; see [[curriculumDocs]].
    */
  private[graft] val CurriculumVocabCap = 65536

  def curriculum(spark: SparkSession, dir: String): DataFrame =
    curriculumDocs(Tables.documents(spark, dir))

  private[graft] def curriculumDocs(docs: DataFrame,
      vocabCap: Int = CurriculumVocabCap): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(filter(split(trim(col("text")), s"[${TextOps.Ws}]+"),
        w => w =!= lit(""))).as("word"))
    // bounded standing vocab: distributed top-K (TakeOrdered), ties
    // broken on the word so the cap is deterministic cross-engine
    val wordCounts = toks.groupBy("word").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("word")).limit(vocabCap)
    val totals = toks.agg(count(lit(1)).as("t"))
    val scored = toks
      .join(broadcast(wordCounts), Seq("word"), "left")
      .crossJoin(broadcast(totals))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(round(log(col("t").cast("double")
            / coalesce(col("c"), lit(1L)).cast("double")), 12)
          .cast("decimal(28,14)")).as("s_dec"),
        // no-silent-caps ledger (round 13): per-doc instances that
        // fell outside the capped vocabulary and scored the count-1
        // ceiling — zero wherever the cap doesn't bind (the test
        // corpora, pinned by the driver hash), nonzero exactly where
        // the approximation is in play
        sum(when(col("c").isNull, 1L).otherwise(0L)).as("oov_tokens"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("s_dec").cast("double") / col("n_tokens").cast("double"), 8)
          .as("difficulty"),
        col("oov_tokens"))
    // materialized once: the offsets branch, the doc-count branch,
    // and the final join all read the scored table — without pinning,
    // Catalyst re-derives the tokenize ⋈ vocab ⋈ collapse subtree
    // under each (3 consumers × 2 tokenize passes = 6 corpus scans
    // for a doc-count-sized table). LAZY checkpoint (round 12): the
    // plan is already the truncated ExistingRDD either way, but the
    // scoring job now runs on FIRST ACTION, not at DataFrame
    // construction — plan-only consumers (`Probe plans`, PlanSpec's
    // all-query sweep) no longer execute a corpus job to inspect a
    // plan, and q_curriculum stops being the one registry entry with
    // construction-time side effects.
    val bucketed = scored.withColumn("bkt",
      floor(col("difficulty") * 100).cast("long"))
      .localCheckpoint(false)
    val wIn = Window.partitionBy("bkt").orderBy("difficulty", "doc_id")
    val wOff = Window.orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    // the doc total N rides the SAME bucket-count-sized window pass as
    // the offsets (full-frame sum over the identical sort) instead of a
    // separate aggregate + broadcast build — one fewer job per run,
    // value unchanged (sum of all bucket counts either way)
    val wAll = Window.orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val bcounts = bucketed.groupBy("bkt").agg(count(lit(1)).as("bn"))
    val offsets = bcounts
      .select(col("bkt"), coalesce(sum("bn").over(wOff), lit(0L)).as("off"),
        sum("bn").over(wAll).as("n_docs"))
    bucketed.join(broadcast(offsets), Seq("bkt"))
      .withColumn("pos", col("off") + row_number().over(wIn))
      .select(col("doc_id"), col("n_tokens"), col("difficulty"), col("pos"),
        expr("(pos - 1) * 4 DIV n_docs + 1").as("phase"),
        col("oov_tokens"))
  }

  /** The standing VOCABULARY artifact the streaming curriculum
    * scorer serves against: the top-[[CurriculumVocabCap]] unigram
    * counts plus the FULL-corpus token total. GENUINELY model-sized
    * (round 12): whitespace words are an open vocabulary that grows
    * with the corpus (Heaps' law), so the artifact is the same
    * capped top-K the batch [[curriculumDocs]] broadcasts — ≤ 64Ki
    * entries at any corpus scale, so the driver collect and the
    * plan-embedded serve map stay bounded; tokens outside it score
    * through the scorer's count-1 OOV ceiling.
    */
  def curriculumVocab(spark: SparkSession, dir: String): (Map[String, Long], Long) = {
    val toks = Tables.documents(spark, dir)
      .select(explode(filter(split(trim(col("text")), s"[${TextOps.Ws}]+"),
        w => w =!= lit(""))).as("word"))
    val total = toks.count()
    val counts = toks
      .groupBy("word").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("word")).limit(CurriculumVocabCap)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    (counts, total)
  }

  /** Persist the curriculum vocabulary through the
    * [[IndexManifest]] discipline — the durable form of the
    * streaming scorer's standing artifact (a production run
    * publishes it once per batch refit; serve JVMs load it instead
    * of re-counting the corpus). The token total rides as a
    * manifest param so the loader never re-aggregates.
    */
  def saveCurriculumVocab(spark: SparkSession, vocab: Map[String, Long],
      total: Long, path: String): Unit = {
    spark.createDataFrame(vocab.toSeq.sortBy(_._1)).toDF("word", "c")
      .coalesce(1).write.mode("overwrite").parquet(path)
    // `total` is the FULL corpus token mass (the scorer's T);
    // `vocab_mass` is the sum of the CAPPED counts actually written —
    // the loader's truncation check (the two coincide only when the
    // cap did not bind)
    IndexManifest.write(spark, path, "curriculum_vocab", Seq("."),
      Map("total" -> total.toString,
        "vocab_mass" -> vocab.values.sum.toString))
  }

  /** Load a [[saveCurriculumVocab]] artifact; the manifest guards
    * family and schema drift, and the recorded vocab mass must
    * reconcile with the loaded counts (a truncated parts write fails
    * here, not as silently-wrong surprisals).
    */
  def loadCurriculumVocab(spark: SparkSession, path: String): (Map[String, Long], Long) = {
    val params = IndexManifest.validate(spark, path, "curriculum_vocab", Seq("."))
    val rows = spark.read.parquet(path).select("word", "c").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = params.flatMap(_.get("total")).map(_.toLong)
    // pre-cap artifacts (no vocab_mass param) are uncapped, so their
    // recorded total IS the vocab mass — falling back to the loaded
    // rows' own sum instead would compare the sum to itself and wave
    // a truncated parts write through (the exact failure this check
    // exists for)
    val mass = params.flatMap(_.get("vocab_mass")).map(_.toLong)
      .orElse(total)
      .getOrElse(rows.values.sum)
    require(rows.values.sum == mass,
      s"vocab at $path: counts sum ${rows.values.sum} != recorded $mass")
    (rows, total.getOrElse(mass))
  }

  /** Persist the per-source template-gram set ([[boilerplateTemplates]])
    * through the [[IndexManifest]] discipline — the boilerplate
    * scorer's standing artifact, one row per (source, gram).
    */
  def saveBoilerplateTemplates(spark: SparkSession,
      templates: Map[String, Seq[String]], path: String): Unit = {
    spark.createDataFrame(templates.toSeq.flatMap { case (s, gs) =>
      gs.map(s -> _) }.sorted).toDF("source", "gram")
      .coalesce(1).write.mode("overwrite").parquet(path)
    IndexManifest.write(spark, path, "boilerplate_templates", Seq("."),
      Map("sources" -> templates.size.toString))
  }

  /** Load a [[saveBoilerplateTemplates]] artifact; the manifest
    * guards family/schema drift and the loaded distinct-source count
    * must reconcile with the recorded `sources` param (round 12,
    * mirroring [[loadCurriculumVocab]]'s mass check) — a truncated
    * parts write fails here instead of loading silently as a smaller
    * template set.
    */
  def loadBoilerplateTemplates(spark: SparkSession,
      path: String): Map[String, Seq[String]] = {
    val params = IndexManifest.validate(spark, path,
      "boilerplate_templates", Seq("."))
    val loaded = spark.read.parquet(path).select("source", "gram").collect()
      .map(r => (r.getString(0), r.getString(1)))
      .groupBy(_._1).map { case (s, g) => s -> g.map(_._2).sorted.toSeq }
    params.flatMap(_.get("sources")).map(_.toInt).foreach { n =>
      require(loaded.size == n,
        s"templates at $path: ${loaded.size} sources != recorded $n")
    }
    loaded
  }

  /** DuckDB dual of [[curriculum]]: same tokenize, same capped
    * top-K vocabulary (count desc, word — deterministic ties) with
    * the count-1 OOV fallback, same per-instance 12-decimal
    * DECIMAL(28,14) surprisal sum, same rounded-difficulty order and
    * integer phase arithmetic.
    */
  def curriculumSql: String =
    s"""WITH toks AS (
      |  SELECT doc_id,
      |    unnest(list_filter(string_split_regex(trim(text), '\\s+'),
      |      w -> w <> '')) AS word
      |  FROM documents
      |), wc AS (
      |  SELECT word, count(*)::BIGINT AS c FROM toks GROUP BY 1
      |  ORDER BY c DESC, word LIMIT $CurriculumVocabCap
      |), t AS (SELECT count(*)::BIGINT AS t FROM toks),
      |scored AS (
      |  SELECT doc_id, count(*)::BIGINT AS n_tokens,
      |    round((sum(round(ln(t::DOUBLE / coalesce(c, 1)), 12)
      |        ::DECIMAL(28,14)))::DOUBLE
      |      / count(*), 8) AS difficulty,
      |    sum(CASE WHEN c IS NULL THEN 1 ELSE 0 END)::BIGINT AS oov_tokens
      |  FROM toks LEFT JOIN wc USING (word) CROSS JOIN t
      |  GROUP BY doc_id
      |), n AS (SELECT count(*)::BIGINT AS n_docs FROM scored),
      |ranked AS (
      |  SELECT doc_id, n_tokens, difficulty, oov_tokens,
      |    row_number() OVER (ORDER BY difficulty, doc_id)::BIGINT AS pos
      |  FROM scored
      |)
      |SELECT doc_id, n_tokens, difficulty, pos,
      |  ((pos - 1) * 4 // n_docs + 1)::BIGINT AS phase, oov_tokens
      |FROM ranked CROSS JOIN n ORDER BY pos""".stripMargin

  /** BOILERPLATE / template-mass detection WITHIN each source — the
    * CCNet-style per-domain pass that [[ngramNovelty]]'s
    * corpus-global first-occurrence profile cannot see: an n-gram
    * that appears in ≥ [[BoilerDocPct]]% of a source's documents
    * (and ≥2 of them) is that source's boilerplate (nav bars,
    * footers, legal stubs — the text a crawler re-collects on every
    * page of a domain); each document reports its distinct-gram
    * mass, how many of those grams are its source's boilerplate,
    * and the ppm fraction a trimming stage thresholds on. Word
    * BIGRAMS here (the synthetic corpus' sources are 25 docs of
    * ~31-word vocabulary, where 8-grams never repeat); production
    * raises n with the same shape — the unit is a parameter, the
    * per-(source, gram) document-frequency algebra is not.
    *
    * Scale shape: ONE tokenize into the per-doc distinct gram set
    * (doc-keyed partial agg), an explicit repartition on
    * (source, gram) serving BOTH the distinct and the
    * document-frequency window (the [[ngramNovelty]] single-
    * exchange discipline), a doc-keyed collapse, and a broadcast
    * of the sources-sized doc-count table. All integers →
    * hash-exact.
    */
  def boilerplate(spark: SparkSession, dir: String): DataFrame =
    boilerplateDocs(fanDocs(Tables.documents(spark, dir)))

  /** Doc-frequency threshold (percent of a source's docs) above
    * which a gram counts as that source's boilerplate.
    */
  private val BoilerDocPct = 25

  private[graft] def boilerplateDocs(docs: DataFrame): DataFrame = {
    val ws = filter(split(trim(col("text")), s"[${TextOps.Ws}]+"),
      w => w =!= lit(""))
    val grams = docs
      .select(col("doc_id"), col("source"), ws.as("ws"))
      .select(col("doc_id"), col("source"),
        explode(zip_with(
          slice(col("ws"), lit(1), greatest(size(col("ws")) - 1, lit(0))),
          slice(col("ws"), lit(2), greatest(size(col("ws")) - 1, lit(0))),
          (a, b) => concat(a, lit(" "), b))).as("gram"))
    val srcSizes = docs.groupBy("source").agg(count(lit(1)).as("s_docs"))
    val w = Window.partitionBy("source", "gram")
    val perDoc = grams
      .repartition(col("source"), col("gram"))
      .distinct()
      .withColumn("d", count(lit(1)).over(w))
      .join(broadcast(srcSizes), Seq("source"))
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("d") >= 2 &&
            col("d") * 100 >= col("s_docs") * BoilerDocPct, 1L)
          .otherwise(0L)).as("n_template"))
    docs.select(col("doc_id"), col("source"))
      .join(perDoc, Seq("doc_id", "source"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_template"), lit(0L)).as("n_template"))
      .withColumn("boiler_ppm", when(col("n_grams") > 0,
        expr("n_template * 1000000 DIV n_grams")))
  }

  /** The standing TEMPLATE-GRAM artifact the streaming boilerplate
    * scorer serves against: per source, the grams [[boilerplate]]
    * classifies as that source's boilerplate, as a driver map.
    * Model-sized by construction — template grams are the ones that
    * repeat across ≥[[BoilerDocPct]]% of a source's docs, a set
    * bounded by template VARIETY, not corpus size.
    */
  def boilerplateTemplates(spark: SparkSession, dir: String): Map[String, Seq[String]] = {
    val docs = Tables.documents(spark, dir)
    val ws = filter(split(trim(col("text")), s"[${TextOps.Ws}]+"),
      w => w =!= lit(""))
    val grams = docs
      .select(col("doc_id"), col("source"), ws.as("ws"))
      .select(col("doc_id"), col("source"),
        explode(zip_with(
          slice(col("ws"), lit(1), greatest(size(col("ws")) - 1, lit(0))),
          slice(col("ws"), lit(2), greatest(size(col("ws")) - 1, lit(0))),
          (a, b) => concat(a, lit(" "), b))).as("gram"))
    val srcSizes = docs.groupBy("source").agg(count(lit(1)).as("s_docs"))
    grams.distinct()
      .groupBy("source", "gram").agg(count(lit(1)).as("d"))
      .join(broadcast(srcSizes), Seq("source"))
      .filter(col("d") >= 2 && col("d") * 100 >= col("s_docs") * BoilerDocPct)
      .select("source", "gram")
      .collect().map(r => (r.getString(0), r.getString(1)))
      .groupBy(_._1).map { case (s, g) => s -> g.map(_._2).sorted.toSeq }
  }

  /** DuckDB dual of [[boilerplate]]: same bigrams (index zip), same
    * per-(source, gram) doc-frequency threshold, same integer ppm.
    */
  def boilerplateSql: String =
    s"""WITH ws0 AS (
      |  SELECT doc_id, source,
      |    list_filter(string_split_regex(trim(text), '\\s+'),
      |      w -> w <> '') AS ws
      |  FROM documents
      |), g AS (
      |  SELECT DISTINCT doc_id, source, ws[i] || ' ' || ws[i + 1] AS gram
      |  FROM (SELECT doc_id, source, ws,
      |          unnest(range(1, greatest(len(ws) - 1, 0) + 1)) AS i
      |        FROM ws0)
      |), s AS (
      |  SELECT source, count(*)::BIGINT AS s_docs FROM documents GROUP BY 1
      |), f AS (
      |  SELECT doc_id, source, gram,
      |    count(*) OVER (PARTITION BY source, gram) AS d
      |  FROM g
      |), per_doc AS (
      |  SELECT doc_id, f.source, count(*)::BIGINT AS n_grams,
      |    sum(CASE WHEN d >= 2 AND d * 100 >= s_docs * ${BoilerDocPct}
      |             THEN 1 ELSE 0 END)::BIGINT AS n_template
      |  FROM f JOIN s ON f.source = s.source
      |  GROUP BY 1, 2
      |)
      |SELECT d.doc_id, d.source,
      |  coalesce(n_grams, 0)::BIGINT AS n_grams,
      |  coalesce(n_template, 0)::BIGINT AS n_template,
      |  CASE WHEN coalesce(n_grams, 0) > 0
      |       THEN coalesce(n_template, 0) * 1000000 // n_grams END
      |    ::BIGINT AS boiler_ppm
      |FROM documents d
      |LEFT JOIN per_doc p ON d.doc_id = p.doc_id AND d.source = p.source
      |ORDER BY d.doc_id""".stripMargin

  /** DATASET CARD — the per-source one-page summary a corpus ships
    * with (Datasheets for Datasets, Gebru et al. 2021; the Dolma
    * report tables): [[domainStats]]' mass columns EXTENDED with the
    * integrity signals a consumer signs off on — dominant language
    * and its document share, exact-duplicate mass (byte-identical
    * text, the md5 channel [[dataSplit]] keys on), and the
    * token-length envelope. One row per source; every column either
    * integer or an exact sum÷count double → hash-exact.
    *
    * Scale shape: TWO narrow corpus scans — the mass/dup leg (a
    * source-keyed partial agg whose two DISTINCT columns ride one
    * expanded exchange) and the language-cell leg — joined on the
    * sources-sized key; the dominant-language rank is a window over
    * the (source × lang)-sized aggregate, never the corpus.
    */
  def datasetCard(spark: SparkSession, dir: String): DataFrame =
    datasetCardDocs(Tables.documents(spark, dir))

  private[graft] def datasetCardDocs(docs: DataFrame): DataFrame = {
    val perDoc = docs
      .select(col("source"), col("lang"),
        size(filter(split(trim(col("text")), s"[${TextOps.Ws}]+"),
          w => w =!= lit(""))).cast("long").as("n_tok"),
        md5(col("text").cast("binary")).as("fp"))
    val perSource = perDoc.groupBy("source").agg(
      count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"),
      countDistinct("lang").as("n_langs"),
      countDistinct("fp").as("n_distinct"),
      min("n_tok").as("min_tokens"), max("n_tok").as("max_tokens"))
    val langTop = perDoc.groupBy("source", "lang")
      .agg(count(lit(1)).as("ln"))
      .withColumn("rk", row_number().over(Window.partitionBy("source")
        .orderBy(col("ln").desc, col("lang"))))
      .filter(col("rk") === 1)
      .select(col("source"), col("lang").as("top_lang"),
        col("ln").as("top_lang_docs"))
    perSource.join(langTop, Seq("source"))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("n_langs"),
        col("top_lang"),
        expr("top_lang_docs * 1000000 DIV n_docs").as("top_lang_ppm"),
        (col("n_docs") - col("n_distinct")).as("dup_docs"),
        expr("(n_docs - n_distinct) * 1000000 DIV n_docs").as("dup_ppm"),
        col("min_tokens"), col("max_tokens"),
        (col("n_tokens").cast("double") / col("n_docs").cast("double"))
          .as("mean_tokens"))
  }

  /** DuckDB dual of [[datasetCard]]: same tokenize, same md5-of-text
    * duplicate channel, same rank tie-break (docs desc, lang asc).
    */
  def datasetCardSql: String =
    """WITH per_doc AS (
      |  SELECT source, lang,
      |    len(list_filter(string_split_regex(trim(text), '\s+'),
      |      w -> w <> ''))::BIGINT AS n_tok,
      |    md5(text) AS fp
      |  FROM documents
      |), per_source AS (
      |  SELECT source, count(*)::BIGINT AS n_docs,
      |    sum(n_tok)::BIGINT AS n_tokens,
      |    count(DISTINCT lang)::BIGINT AS n_langs,
      |    count(DISTINCT fp)::BIGINT AS n_distinct,
      |    min(n_tok)::BIGINT AS min_tokens, max(n_tok)::BIGINT AS max_tokens
      |  FROM per_doc GROUP BY 1
      |), lt AS (
      |  SELECT source, lang AS top_lang, ln AS top_lang_docs
      |  FROM (SELECT source, lang, count(*)::BIGINT AS ln,
      |          row_number() OVER (PARTITION BY source
      |            ORDER BY count(*) DESC, lang) AS rk
      |        FROM per_doc GROUP BY source, lang)
      |  WHERE rk = 1
      |)
      |SELECT source, n_docs, n_tokens, n_langs, top_lang,
      |  (top_lang_docs * 1000000 // n_docs)::BIGINT AS top_lang_ppm,
      |  (n_docs - n_distinct)::BIGINT AS dup_docs,
      |  ((n_docs - n_distinct) * 1000000 // n_docs)::BIGINT AS dup_ppm,
      |  min_tokens, max_tokens,
      |  n_tokens::DOUBLE / n_docs AS mean_tokens
      |FROM per_source JOIN lt USING (source) ORDER BY source""".stripMargin

  // --- compression-ratio quality tier (round 13) ---

  /** Ratio below which a doc is LZ77-degenerate repetition. Set from
    * the measured sf0.01 band (0.386–0.912, median 0.489): 0.40
    * flags the bottom ~1.4% — template/boilerplate mass the n-gram
    * heuristics undercount when the repeat unit is long or far apart.
    */
  private val CompressRepetitiveMax = 0.40

  /** Ratio above which a doc is high-entropy noise (minified blobs,
    * base64, binary-in-text): 0.85 flags the top ~1.5% measured.
    */
  private val CompressNoiseMin = 0.85

  /** COMPRESSION-RATIO quality signal (round 13): deflate length /
    * UTF-8 byte length per document via the native
    * [[graft.functions.DeflateLen]] kernel — the classic curation
    * complement to the fixed-width repetition heuristics
    * ([[gopherNgramRep]], [[TextOps.charEntropy]]): LZ77 sees
    * arbitrary-distance repeats up to its 32 KiB window, so a
    * template filled twice 2 KiB apart halves the ratio while every
    * n-gram stays unique. Flags are the measured-band outliers:
    * `flag_repetitive` (< 0.40) and `flag_noise` (> 0.85).
    *
    * Rows-only by necessity (the oracle cannot deflate); the
    * format-certainty half is hash-graded via [[compressGate]].
    * Scale shape: a pure per-row projection — no shuffle, no state;
    * the deflate kernel is thread-local-reused per partition.
    */
  def compressRatio(spark: SparkSession, dir: String): DataFrame =
    compressRatioDocs(Tables.documents(spark, dir))

  /** The per-row projection itself — stateless and shuffle-free, so
    * it runs verbatim over [[graft.streaming.DocStream.docsStream]]
    * inside a streaming pipeline (the gopherNarrowDocs
    * composition discipline).
    */
  private[graft] def compressRatioDocs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), octet_length(col("text")).as("n_bytes"),
        graft.functions.DeflateLen.deflateLen(col("text")).as("deflate_bytes"))
      .withColumn("compress_ratio",
        round(col("deflate_bytes").cast("double") /
          greatest(col("n_bytes"), lit(1)).cast("double"), 6))
      .withColumn("flag_repetitive", col("compress_ratio") < CompressRepetitiveMax)
      .withColumn("flag_noise", col("compress_ratio") > CompressNoiseMin)

  /** FORMAT-CERTAINTY gate over [[compressRatio]] (the
    * q_dedup_minhash_recount pattern applied to a codec): the raw
    * deflate lengths are engine-private, but two properties are
    * certain and the oracle recomputes everything else from the raw
    * table — (a) identical text ⇒ identical deflate length
    * (`lens_equal`, per md5-fingerprint group, vs TRUE — a
    * nondeterministic kernel, a threading bug in the thread-local
    * reuse, or a lost reset() breaks it), and (b) every length obeys
    * the codec's worst-case expansion bound n + n/8 + 64
    * (`bound_ok` vs TRUE — a framing change or corrupt output
    * breaks it). Group identity, doc counts, and byte lengths are
    * byte-matched against the oracle's own md5/octet_length
    * recompute, so the gate also proves the scan, the fingerprint,
    * and the byte accounting.
    */
  def compressGate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    docs.select(md5(col("text").cast("binary")).as("fp"),
        octet_length(col("text")).as("n_bytes"),
        graft.functions.DeflateLen.deflateLen(col("text")).as("dl"))
      .groupBy("fp")
      .agg(count(lit(1)).as("n_docs"),
        max(col("n_bytes")).as("n_bytes"),
        (countDistinct(col("dl")) === 1).as("lens_equal"),
        (max(col("dl")) <= max(col("n_bytes") + col("n_bytes") / 8 + 64) &&
          min(col("dl")) >= least(max(col("n_bytes")), lit(1))).as("bound_ok"))
  }

  def compressGateSql: String =
    """SELECT md5(text) AS fp, count(*)::BIGINT AS n_docs,
      |  max(strlen(text)) AS n_bytes,
      |  true AS lens_equal, true AS bound_ok
      |FROM documents GROUP BY md5(text) ORDER BY fp""".stripMargin
}
