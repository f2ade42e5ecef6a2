package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication suite for a training-data pipeline over `documents`
  * and `embeddings`.
  *
  * Scale design: every near-dup variant is CANDIDATE-GENERATION via a
  * bucket join (LSH bands / simhash chunks), never an O(n²) compare —
  * the only shuffles are on bucket keys and doc ids, and pairwise
  * similarity is evaluated only for bucket-colliding pairs. The
  * brute-force embedding variant is the verify-scale baseline; the
  * production path at 100 TB is [[Similarity.annLsh]]-style bucketing.
  */
object Dedup {

  // -------------------------------------------------------------- exact

  /** Exact dedup: hash-groupBy on the full text, keep the minimum
    * doc_id as survivor. One shuffle on the text hash.
    */
  def exact(spark: SparkSession, dir: String): DataFrame =
    exactDocs(Tables.documents(spark, dir))

  private[graft] def exactDocs(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(col("text").cast("binary")).as("text_hash"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))

  def exactSql: String =
    """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
      |  count(*) AS n_copies
      |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin

  /** SKETCHED SOURCE OVERLAP — the 100 TB dual of [[sourceOverlap]]'s
    * exact accounting: per source pair, the DISTINCT-CONTENT overlap
    * estimated by inclusion-exclusion over HLL++ sketches
    * (|A∩B| ≈ |A| + |B| − |A∪B|, each term approx_count_distinct at
    * 1% rsd over the [[exact]] dedup's md5 content key). Exact
    * per-pair intersections need a content-keyed join of every
    * source pair; the sketch answer reads three mergeable summaries.
    * inter_est clamps at 0 (inclusion-exclusion can go slightly
    * negative on disjoint sources).
    *
    * Scale shape: the per-source leg is ONE partial aggregate; the
    * union leg replicates each fingerprint once per pair containing
    * its source via a broadcast pair join — fanout = (#sources − 1),
    * a constant, not a quadratic blowup. No SQL oracle (sketch
    * internals differ across engines) — SketchSpec-style bound vs
    * the exact intersection.
    */
  def sourceOverlapHll(spark: SparkSession, dir: String): DataFrame = {
    val fps = Tables.documents(spark, dir)
      .select(col("source"), md5(col("text").cast("binary")).as("fp"))
    val perSource = fps.groupBy("source")
      .agg(approx_count_distinct(col("fp"), 0.01).as("card"))
    val sources = perSource.select("source").collect()
      .map(_.getString(0)).sorted
    val pairs = (for {
      i <- sources.indices; j <- i + 1 until sources.length
    } yield (sources(i), sources(j))).toSeq
    import spark.implicits._
    val pairDf = pairs.toDF("source_a", "source_b")
    val unions = fps
      .join(broadcast(pairDf),
        col("source") === col("source_a") || col("source") === col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(approx_count_distinct(col("fp"), 0.01).as("card_union"))
    val ca = perSource.toDF("source_a", "card_a")
    val cb = perSource.toDF("source_b", "card_b")
    unions.join(broadcast(ca), Seq("source_a"))
      .join(broadcast(cb), Seq("source_b"))
      .withColumn("inter_est",
        greatest(col("card_a") + col("card_b") - col("card_union"), lit(0L)))
      .select("source_a", "source_b", "card_a", "card_b", "card_union",
        "inter_est")
  }

  /** SKETCH-vs-EXACT CHECK for [[sourceOverlapHll]] (round-11
    * partial-oracle tier): the HLL registers are engine-specific, but
    * the quantities they estimate — per-source distinct-fingerprint
    * cardinalities, pairwise unions, and the inclusion-exclusion
    * intersections — are EXACTLY recomputable by the oracle (md5 is
    * shared SQL). Booleans carry the error envelopes: each directly
    * estimated cardinality within 3σ (3 × rsd = 3%) of exact, and the
    * derived intersection — whose error compounds three estimates —
    * within 5% of the pair's smaller-side mass. A register-width or
    * merge regression breaks the hash.
    *
    * Scale shape: one distinct-(source, fp) compaction, then a
    * fp-keyed self-join emits only co-occurring fingerprints (never
    * source-pair × corpus).
    */
  def sourceOverlapHllCheck(spark: SparkSession, dir: String): DataFrame = {
    val est = sourceOverlapHll(spark, dir)
    val fps = Tables.documents(spark, dir)
      .select(col("source"), md5(col("text").cast("binary")).as("fp"))
      .distinct()
    val cards = fps.groupBy("source").agg(count(lit(1)).as("card_exact"))
    val inter = fps.toDF("sa", "fp")
      .join(fps.toDF("sb", "fp_b"),
        col("fp") === col("fp_b") && col("sa") < col("sb"))
      .groupBy(col("sa").as("source_a"), col("sb").as("source_b"))
      .agg(count(lit(1)).as("inter_exact"))
    // relative 3σ envelope with an ABSOLUTE floor: on a 25-item
    // source a ±1 register wobble is 4% relative — small-set noise,
    // not a regression (the envelope is for catching broken merges,
    // which read 10-100% off)
    def relOk(e: Column, x: Column): Column =
      abs(e - x).cast("double") <=
        greatest(lit(2.0), lit(0.03) * x.cast("double"))
    est
      .join(broadcast(cards.toDF("source_a", "card_a_exact")), Seq("source_a"))
      .join(broadcast(cards.toDF("source_b", "card_b_exact")), Seq("source_b"))
      .join(broadcast(inter), Seq("source_a", "source_b"), "left")
      .withColumn("inter_exact", coalesce(col("inter_exact"), lit(0L)))
      .withColumn("card_union_exact",
        col("card_a_exact") + col("card_b_exact") - col("inter_exact"))
      .select(col("source_a"), col("source_b"),
        col("card_a_exact"), col("card_b_exact"),
        col("card_union_exact"), col("inter_exact"),
        (relOk(col("card_a"), col("card_a_exact"))
          && relOk(col("card_b"), col("card_b_exact"))
          && relOk(col("card_union"), col("card_union_exact")))
          .as("cards_ok"),
        (abs(col("inter_est") - col("inter_exact")).cast("double")
          <= greatest(lit(3.0),
            lit(0.05) * least(col("card_a_exact"), col("card_b_exact"))
              .cast("double"))).as("inter_ok"))
  }

  def sourceOverlapHllCheckSql: String =
    """WITH fp AS (
      |  SELECT DISTINCT source, md5(text) AS fp FROM documents
      |), c AS (
      |  SELECT source, count(*)::BIGINT AS card FROM fp GROUP BY source
      |), p AS (
      |  SELECT a.source AS source_a, b.source AS source_b,
      |    a.card AS card_a_exact, b.card AS card_b_exact
      |  FROM c a JOIN c b ON a.source < b.source
      |), i AS (
      |  SELECT a.source AS source_a, b.source AS source_b,
      |    count(*)::BIGINT AS inter_exact
      |  FROM fp a JOIN fp b ON a.fp = b.fp AND a.source < b.source
      |  GROUP BY 1, 2
      |)
      |SELECT p.source_a, p.source_b, p.card_a_exact, p.card_b_exact,
      |  (p.card_a_exact + p.card_b_exact - coalesce(i.inter_exact, 0))::BIGINT
      |    AS card_union_exact,
      |  coalesce(i.inter_exact, 0)::BIGINT AS inter_exact,
      |  true AS cards_ok, true AS inter_ok
      |FROM p LEFT JOIN i
      |  ON i.source_a = p.source_a AND i.source_b = p.source_b
      |ORDER BY p.source_a, p.source_b""".stripMargin

  /** Exact word-2-gram Jaccard similarity between consecutive-id
    * document pairs — the oracle-checkable pairwise-similarity kernel
    * (the same kernel the LSH candidates feed at scale).
    */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), expr(
        """array_distinct(transform(
          |  sequence(1, greatest(size(split(trim(text), '\\s+')) - 1, 1)),
          |  i -> concat_ws(' ', slice(split(trim(text), '\\s+'), i, 2))))""".stripMargin)
        .as("shingles"))
    val a = docs.as("a")
    val b = docs.toDF("b_doc_id", "b_shingles").as("b")
    a.join(b, col("b_doc_id") === col("doc_id") + 1)
      .select(
        col("doc_id").as("doc_a"), col("b_doc_id").as("doc_b"),
        round(size(array_intersect(col("shingles"), col("b_shingles"))).cast("double")
          / size(array_union(col("shingles"), col("b_shingles"))), 6).as("jaccard"))
  }

  def ngramJaccardSql: String =
    """WITH sh AS (
      |  SELECT doc_id, list_distinct(
      |    list_transform(range(1, greatest(len(ws) - 1, 1) + 1),
      |      i -> ws[i] || ' ' || coalesce(ws[i+1], ''))) AS shingles
      |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
      |        FROM documents)
      |)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  round(len(list_intersect(a.shingles, b.shingles))::DOUBLE
      |    / len(list_distinct(list_concat(a.shingles, b.shingles))), 6) AS jaccard
      |FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
      |ORDER BY doc_a""".stripMargin

  /** Blocking-key parameters for [[editDedup]]: candidates share
    * their first [[EditBlockPrefix]] characters (the record-linkage
    * blocking key); blocks larger than [[EditBlockCap]] members are
    * dropped — a shared prefix that common is boilerplate, not a
    * duplication signal (the df-cap idiom from [[containmentDocs]]'s
    * rare-gram index), and the cap is what bounds per-block pair
    * fanout at corpus scale. [[EditMax]] bounds the reported
    * distance; Spark's banded threshold algorithm makes the compare
    * O(EditMax·len) instead of O(len²).
    */
  private[graft] val EditBlockPrefix = 32
  private[graft] val EditBlockCap = 64
  private[graft] val EditMax = 32

  /** BOUNDED EDIT-DISTANCE near-dup detection — the record-linkage
    * tier (Fellegi-Sunter blocking + exact Levenshtein refine): the
    * deterministic complement of the probabilistic MinHash/SimHash
    * families for the "same doc, a few character edits" regime
    * (version bumps, typo fixes, template fills) where an exact,
    * explainable distance matters more than an estimate. Pairs
    * sharing a [[EditBlockPrefix]]-char prefix block (size-capped)
    * score levenshtein ≤ [[EditMax]]; head-of-document edits fall
    * outside the block by construction — the standard blocking
    * recall tradeoff, covered by the MinHash tier whose shingles
    * have no positional anchor.
    *
    * Scale shape: one corpus scan, one shuffle on the block key; the
    * block groups to a size-capped array (≤ [[EditBlockCap]] docs),
    * pairs explode from an id-sorted HOF (i < j — each unordered
    * pair once, doc_a < doc_b deterministic), so there is NO
    * self-join and never an all-pairs compare. Distance is integer —
    * cross-engine exact by construction.
    *
    * NO SILENT CAPS (round 13): the block cap bounds fanout by
    * EXCLUDING maximal-occupancy blocks entirely, so without a
    * ledger a 100 TB run could read an empty result as "no
    * near-dups" when it actually means "everything shared one
    * boilerplate prefix". Every emitted pair therefore carries the
    * excluded mass — `n_overcap_blocks` / `n_overcap_docs`, the
    * blocks (and the documents inside them) the cap dropped — as
    * broadcast constants (a 1-row aggregate over the prefix
    * histogram, map-side combined: distinct-prefix-sized state, one
    * narrow extra pass). Integer counts → cross-engine exact. Exact
    * copies inside a dropped block are still caught by
    * [[exactDocs]]; the ledger is what makes the miss auditable.
    */
  def editDedup(spark: SparkSession, dir: String): DataFrame =
    editDedupDocs(Tables.documents(spark, dir))

  private[graft] def editDedupDocs(docs: DataFrame): DataFrame = {
    val overcap = docs
      .groupBy(substring(col("text"), 1, EditBlockPrefix).as("blk"))
      .agg(count(lit(1)).as("nb"))
      .filter(col("nb") > EditBlockCap)
      .agg(count(lit(1)).as("n_overcap_blocks"),
        coalesce(sum("nb"), lit(0L)).as("n_overcap_docs"))
    editDedupPairsDocs(docs)
      .crossJoin(broadcast(overcap))
  }

  /** The bare pair frame (no excluded-mass ledger) — what the
    * [[dedupScorecardDocs]] composition consumes: its doc_b
    * projection must not pay the ledger's extra corpus pass, and its
    * own masses are corpus-level already.
    */
  private[graft] def editDedupPairsDocs(docs: DataFrame): DataFrame = {
    // the block-size gate runs as a COUNT WINDOW before any per-block
    // materialization (the containmentDocs df-window idiom): filtering
    // after collect_list would first build one array holding the full
    // text of EVERY doc sharing a boilerplate prefix — the exact
    // corpus shape the cap exists to exclude. The window and the agg
    // share the blk key, so it costs no extra exchange.
    val blocked = docs.select(
      substring(col("text"), 1, EditBlockPrefix).as("blk"),
      struct(col("doc_id"), col("text"), col("n_chars")).as("s"))
      .withColumn("n_blk", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("blk")))
      .filter(col("n_blk").between(2, EditBlockCap))
      .groupBy("blk")
      .agg(array_sort(collect_list(col("s"))).as("xs"))
    val pairs = blocked.select(explode(expr(
      """flatten(transform(xs, (x, i) ->
        |  transform(slice(xs, i + 2, size(xs)), y -> struct(x, y))))"""
        .stripMargin)).as("p"))
    // equality fast path: identical texts short-circuit to 0 in one
    // memcmp instead of an O(EditMax·len) banded DP — dup-heavy
    // corpora (the input a dedup pass exists for) are exactly where
    // blocks fill with exact copies; measured 173 s → seconds on the
    // 20× replica's maximal-occupancy blocks. Same integers (the
    // oracle keeps plain levenshtein).
    pairs.select(
        col("p.x.doc_id").as("doc_a"), col("p.y.doc_id").as("doc_b"),
        when(col("p.x.text") === col("p.y.text"), lit(0L))
          .otherwise(levenshtein(col("p.x.text"), col("p.y.text"), EditMax)
            .cast("long")).as("edit_dist"),
        col("p.x.n_chars").as("len_a"), col("p.y.n_chars").as("len_b"))
      .filter(col("edit_dist") >= 0)
  }

  /** Shared WITH-clause of [[editDedupSql]] / the scorecard's @ED@
    * slot (the scorecard embeds the LEDGER-FREE pair query — its
    * doc_b projection must not pay the overcap pass).
    */
  private def editDedupCtes: String =
    s"""WITH b AS (
       |  SELECT doc_id, text, n_chars,
       |    substr(text, 1, $EditBlockPrefix) AS blk
       |  FROM documents
       |), g AS (
       |  SELECT blk FROM b GROUP BY blk
       |  HAVING count(*) BETWEEN 2 AND $EditBlockCap
       |)""".stripMargin

  private[graft] def editDedupPairsSql: String =
    s"""$editDedupCtes
       |SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
       |  levenshtein(a.text, c.text)::BIGINT AS edit_dist,
       |  a.n_chars AS len_a, c.n_chars AS len_b
       |FROM b a
       |JOIN b c ON a.blk = c.blk AND a.doc_id < c.doc_id
       |JOIN g ON g.blk = a.blk
       |WHERE levenshtein(a.text, c.text) <= $EditMax
       |ORDER BY doc_a, doc_b""".stripMargin

  def editDedupSql: String =
    s"""$editDedupCtes, oc AS (
       |  SELECT count(*)::BIGINT AS n_overcap_blocks,
       |    coalesce(sum(nb), 0)::BIGINT AS n_overcap_docs
       |  FROM (SELECT blk, count(*)::BIGINT AS nb FROM b
       |        GROUP BY blk HAVING count(*) > $EditBlockCap)
       |)
       |SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
       |  levenshtein(a.text, c.text)::BIGINT AS edit_dist,
       |  a.n_chars AS len_a, c.n_chars AS len_b,
       |  oc.n_overcap_blocks, oc.n_overcap_docs
       |FROM b a
       |JOIN b c ON a.blk = c.blk AND a.doc_id < c.doc_id
       |JOIN g ON g.blk = a.blk
       |CROSS JOIN oc
       |WHERE levenshtein(a.text, c.text) <= $EditMax
       |ORDER BY doc_a, doc_b""".stripMargin

  /** DEDUP SCORECARD — the dedup tier's capstone, the duplication
    * sibling of [[graft.operators.TextOps]]'s quality-confluence: per
    * source, how much of its mass each SQL-expressible dedup family
    * flags — exact copies (text-hash group, non-minimum ids), edit
    * near-dups ([[editDedupDocs]]'s doc_b side — the later doc of
    * each bounded-Levenshtein pair), subset duplication (the
    * CONTAINED side of [[containmentDocs]] pairs at ≥ 0.8), and
    * line-level boilerplate heaviness (≥ half the doc's lines were
    * already seen in the corpus, from
    * [[graft.operators.Curation.lineDedupDocs]]) — plus the union
    * mass and its ppm rate. The union (n_any, dup_ppm) spans
    * exact/edit/subset ONLY: line_heavy is reported but intentionally
    * excluded, because it flags boilerplate HEAVINESS inside an
    * otherwise-unique doc, not doc-level duplication — counting it
    * would inflate the removable-mass estimate the card exists to
    * budget. This is the per-source duplication card
    * a pipeline owner reads next to q_dataset_card to decide which
    * dedup pass to budget first.
    *
    * Each flag CONSUMES its standalone family's frame verbatim (one
    * definition per family — the q_quality_confluence discipline;
    * the probabilistic MinHash/SimHash families stay out because
    * their signatures aren't SQL-expressible, so this card stays
    * fully hash-graded). Scale: every constituent is bounded
    * (hash agg / prefix blocks / df-capped grams / line windows);
    * the composition is doc-keyed left equi-joins, AQE-coalesced,
    * then one hash agg on the sources-sized key. The ppm rate runs
    * in scaled-integer HALF_UP arithmetic (the
    * [[Preference.bestOfNDocs]] round-tie discipline).
    */
  def dedupScorecard(spark: SparkSession, dir: String): DataFrame =
    dedupScorecardDocs(Tables.documents(spark, dir))

  private[graft] def dedupScorecardDocs(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), col("source"),
      md5(col("text").cast("binary")).as("text_hash"))
    val exFlag = base
      .join(exactDocs(docs).select("text_hash", "keep_id"), "text_hash")
      .select(col("doc_id"), col("source"),
        (col("doc_id") =!= col("keep_id")).as("exact_dup"))
    val edFlag = editDedupPairsDocs(docs)
      .select(col("doc_b").as("doc_id")).distinct()
      .withColumn("edit_dup", lit(true))
    val ct = containmentDocs(docs)
    val ctFlag = ct.filter(col("cont_a") >= 0.8)
      .select(col("doc_a").as("doc_id"))
      .union(ct.filter(col("cont_b") >= 0.8).select(col("doc_b")))
      .distinct()
      .withColumn("subset_dup", lit(true))
    val ldFlag = Curation.lineDedupDocs(docs)
      .select(col("doc_id"),
        (col("n_lines") > 0 && col("n_kept") * 2 <= col("n_lines"))
          .as("line_heavy"))
    exFlag
      .join(edFlag, Seq("doc_id"), "left")
      .join(ctFlag, Seq("doc_id"), "left")
      .join(ldFlag, Seq("doc_id"), "left")
      .select(col("source"), col("exact_dup"),
        coalesce(col("edit_dup"), lit(false)).as("edit_dup"),
        coalesce(col("subset_dup"), lit(false)).as("subset_dup"),
        coalesce(col("line_heavy"), lit(false)).as("line_heavy"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("exact_dup"), 1L).otherwise(0L)).as("n_exact"),
        sum(when(col("edit_dup"), 1L).otherwise(0L)).as("n_edit"),
        sum(when(col("subset_dup"), 1L).otherwise(0L)).as("n_subset"),
        sum(when(col("line_heavy"), 1L).otherwise(0L)).as("n_line_heavy"),
        sum(when(col("exact_dup") || col("edit_dup") || col("subset_dup"),
          1L).otherwise(0L)).as("n_any"))
      .withColumn("dup_ppm",
        expr("(2 * 1000000 * n_any + n_docs) DIV (2 * n_docs)"))
      .select("source", "n_docs", "n_exact", "n_edit", "n_subset",
        "n_line_heavy", "n_any", "dup_ppm")
  }

  // the constituent SQL embeds via POST-stripMargin substitution: a
  // direct interpolation would let this template's stripMargin eat
  // the leading pipe of any `||` concat that starts a line inside the
  // embedded oracle (containmentSql has several)
  def dedupScorecardSql: String =
    s"""WITH exg AS (
       |@EX@
       |), base AS (
       |  SELECT doc_id, source, md5(text) AS text_hash FROM documents
       |), exf AS (
       |  SELECT base.doc_id, base.source,
       |    base.doc_id <> exg.keep_id AS exact_dup
       |  FROM base JOIN exg USING (text_hash)
       |), edp AS (
       |@ED@
       |), edf AS (SELECT DISTINCT doc_b AS doc_id FROM edp),
       |ctp AS (
       |@CT@
       |), ctf AS (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT doc_a AS doc_id FROM ctp WHERE cont_a >= 0.8
       |    UNION ALL
       |    SELECT doc_b AS doc_id FROM ctp WHERE cont_b >= 0.8)
       |), ldp AS (
       |@LD@
       |), ldf AS (
       |  SELECT doc_id, (n_lines > 0 AND n_kept * 2 <= n_lines)
       |    AS line_heavy
       |  FROM ldp
       |), f AS (
       |  SELECT exf.source, exf.exact_dup,
       |    edf.doc_id IS NOT NULL AS edit_dup,
       |    ctf.doc_id IS NOT NULL AS subset_dup,
       |    coalesce(ldf.line_heavy, false) AS line_heavy
       |  FROM exf
       |  LEFT JOIN edf USING (doc_id)
       |  LEFT JOIN ctf USING (doc_id)
       |  LEFT JOIN ldf USING (doc_id)
       |)
       |SELECT source, count(*)::BIGINT AS n_docs,
       |  sum(CASE WHEN exact_dup THEN 1 ELSE 0 END)::BIGINT AS n_exact,
       |  sum(CASE WHEN edit_dup THEN 1 ELSE 0 END)::BIGINT AS n_edit,
       |  sum(CASE WHEN subset_dup THEN 1 ELSE 0 END)::BIGINT AS n_subset,
       |  sum(CASE WHEN line_heavy THEN 1 ELSE 0 END)::BIGINT
       |    AS n_line_heavy,
       |  sum(CASE WHEN exact_dup OR edit_dup OR subset_dup THEN 1 ELSE 0
       |    END)::BIGINT AS n_any,
       |  ((2 * 1000000 * sum(CASE WHEN exact_dup OR edit_dup OR subset_dup
       |      THEN 1 ELSE 0 END) + count(*))
       |    // (2 * count(*)))::BIGINT AS dup_ppm
       |FROM f GROUP BY source ORDER BY source""".stripMargin
      .replace("@EX@", exactSql.replace("\n", "\n  "))
      .replace("@ED@", editDedupPairsSql.replace("\n", "\n  "))
      .replace("@CT@", containmentSql.replace("\n", "\n  "))
      .replace("@LD@", Curation.lineDedupSql.replace("\n", "\n  "))

  /** ASYMMETRIC CONTAINMENT — the subset-duplication detector
    * symmetric Jaccard misses (a short doc quoted verbatim inside a
    * long one scores low Jaccard but containment ≈ 1 on the short
    * side): candidate pairs come from a RARE-GRAM inverted index
    * (distinct 8-word shingles with document frequency in [2, 4] —
    * the df cap bounds per-gram fanout, the production knob at
    * 100 TB), then each pair scores |Sa∩Sb|/|Sa| and /|Sb| over the
    * full shingle sets. subset_dup flags max-containment ≥ 0.8.
    *
    * Scale shape: gram-keyed shuffle for the index (distinct grams
    * per doc, map-side), df-capped self-join emits only colliding
    * pairs (never all-pairs), then two doc-keyed joins pull the
    * shingle arrays to the pair rows. Integer set sizes → exact;
    * the two divisions take the scaled display round.
    */
  def containment(spark: SparkSession, dir: String): DataFrame =
    containmentDocs(Tables.documents(spark, dir))

  private[graft] def containmentDocs(docs: DataFrame): DataFrame = {
    // tokenize ONCE per doc (a split inside the transform lambda
    // would re-run the regex per gram position — O(words²·len))
    val grams = docs
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("ws"))
      .select(col("doc_id"), expr(
        """array_distinct(CASE WHEN size(ws) >= 8 THEN
          |  transform(sequence(1, size(ws) - 7),
          |    i -> concat_ws(' ', slice(ws, i, 8)))
          |ELSE array() END""".stripMargin + ")").as("grams"))
    val inv = grams
      .select(col("doc_id"), explode(col("grams")).as("gram"))
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("gram")))
      .filter(col("df") >= 2 && col("df") <= 4)
    val pairs = inv.as("x").join(inv.as("y"), col("x.gram") === col("y.gram"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val ga = grams.toDF("doc_a", "grams_a")
    val gb = grams.toDF("doc_b", "grams_b")
    pairs.join(ga, Seq("doc_a")).join(gb, Seq("doc_b"))
      .withColumn("n_shared",
        size(array_intersect(col("grams_a"), col("grams_b"))).cast("long"))
      .withColumn("cont_a", expr(
        "round(CAST(n_shared AS DOUBLE) / size(grams_a)" +
          " * 1000000.0D, 0) / 1000000.0D"))
      .withColumn("cont_b", expr(
        "round(CAST(n_shared AS DOUBLE) / size(grams_b)" +
          " * 1000000.0D, 0) / 1000000.0D"))
      .withColumn("subset_dup",
        greatest(col("cont_a"), col("cont_b")) >= 0.8)
      .select("doc_a", "doc_b", "n_shared", "cont_a", "cont_b", "subset_dup")
  }

  def containmentSql: String =
    """WITH g AS (
      |  SELECT doc_id, list_distinct(CASE WHEN len(ws) >= 8 THEN
      |    list_transform(range(1, len(ws) - 7 + 1), i ->
      |      ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]
      |      || ' ' || ws[i+4] || ' ' || ws[i+5] || ' ' || ws[i+6]
      |      || ' ' || ws[i+7])
      |    ELSE [] END) AS grams
      |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
      |        FROM documents)
      |), inv AS (
      |  SELECT doc_id, unnest(grams) AS gram FROM g
      |), capped AS (
      |  SELECT * FROM (
      |    SELECT doc_id, gram, count(*) OVER (PARTITION BY gram) AS df
      |    FROM inv) WHERE df BETWEEN 2 AND 4
      |), pairs AS (
      |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      |  FROM capped x JOIN capped y
      |    ON x.gram = y.gram AND x.doc_id < y.doc_id
      |)
      |SELECT doc_a, doc_b,
      |  len(list_intersect(a.grams, b.grams))::BIGINT AS n_shared,
      |  round(len(list_intersect(a.grams, b.grams))::DOUBLE / len(a.grams)
      |    * 1000000.0, 0) / 1000000.0 AS cont_a,
      |  round(len(list_intersect(a.grams, b.grams))::DOUBLE / len(b.grams)
      |    * 1000000.0, 0) / 1000000.0 AS cont_b,
      |  greatest(
      |    round(len(list_intersect(a.grams, b.grams))::DOUBLE / len(a.grams)
      |      * 1000000.0, 0) / 1000000.0,
      |    round(len(list_intersect(a.grams, b.grams))::DOUBLE / len(b.grams)
      |      * 1000000.0, 0) / 1000000.0) >= 0.8 AS subset_dup
      |FROM pairs JOIN g a ON a.doc_id = doc_a JOIN g b ON b.doc_id = doc_b
      |ORDER BY doc_a, doc_b""".stripMargin

  // ------------------------------------------------------------- minhash

  private val NumHashes = 32
  private val NumBands = 16 // 2 rows per band

  /** MinHash signatures over 3-word shingles, via the single-pass
    * native [[graft.functions.MinHashShingles]] expression.
    *
    * Order-sensitive shingles are essential on low-vocabulary corpora:
    * word SETS are near-identical across random documents (measured:
    * unigram-set signatures made ~all of the sf0.1 corpus mutual
    * candidates — 12M pairs), while 3-gram shingles only collide for
    * genuinely similar text.
    */
  /** The one signature definition every minhash consumer shares —
    * batch LSH, the near-dup gate, and the streaming gate probe the
    * SAME bands because they compute the same signatures.
    */
  private[graft] def sigCol(text: Column): Column =
    graft.functions.MinHashShingles
      .minhash_shingles(split(trim(text), "\\s+"), NumHashes, 3)

  private def signatures(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), sigCol(col("text")).as("sig"))

  /** One xxhash64 bucket per two-row band — the band key both the
    * LSH equi-join and the cross-run near-dup gate hash (shared
    * definition: a pair the join would bucket together is exactly a
    * pair whose gate keys collide).
    */
  private def bandBuckets(sig: Column): Seq[Column] =
    (0 until NumBands).map { j =>
      xxhash64(element_at(sig, 2 * j + 1), element_at(sig, 2 * j + 2), lit(j))
    }

  /** MinHash + LSH near-dup pairs: shingle→minhash→band→bucket-join.
    * Candidate pairs collide on ≥1 of 16 two-row bands; survivors are
    * filtered by estimated Jaccard (signature agreement) ≥ 0.5.
    */
  def minhashLsh(spark: SparkSession, dir: String): DataFrame = {
    // no cache(): the native signature expression is cheap to
    // recompute, and a lazily-referenced cache would pin executor
    // memory for the whole session (queries can't unpersist it)
    val sigs = signatures(spark, dir)
    val banded = sigs.select(col("doc_id"),
      posexplode(array(bandBuckets(col("sig")): _*)).as(Seq("band", "bucket")))
    val candidates = banded.as("a")
      .join(banded.toDF("b_doc_id", "b_band", "b_bucket").as("b"),
        col("band") === col("b_band") && col("bucket") === col("b_bucket")
          && col("doc_id") < col("b_doc_id"))
      .select(col("doc_id").as("doc_a"), col("b_doc_id").as("doc_b"))
      .distinct()
    val withSig = candidates
      .join(sigs.toDF("doc_a", "sig_a"), "doc_a")
      .join(sigs.toDF("doc_b", "sig_b"), "doc_b")
    withSig
      .select(col("doc_a"), col("doc_b"),
        (aggregate(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => when(x === y, 1).otherwise(0)), lit(0), (acc, x) => acc + x)
          .cast("double") / NumHashes).as("est_jaccard"))
      .filter(col("est_jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"), round(col("est_jaccard"), 4).as("est_jaccard"))
  }

  /** MINHASH CALIBRATION — the estimator-audit surface over
    * [[minhashLsh]]'s candidate pairs: for every band-colliding pair,
    * the 32-hash signature-agreement ESTIMATE next to the EXACT
    * 3-gram-shingle Jaccard (the SAME shingle definition the
    * signatures hash — [[sigCol]]'s k = 3), plus the signed error.
    * This is the query a 100 TB dedup deployment runs on a sample
    * before trusting the near-dup threshold: a mis-calibrated
    * estimator silently moves the dedup operating point, and the
    * binomial envelope (σ = √(J(1−J)/32) ≤ 0.09) says exactly how
    * much disagreement is statistics and how much is a bug.
    *
    * No SQL oracle by design (the signature expression is not
    * SQL-expressible); the spec recounts the exact Jaccard on the
    * driver and pins the per-pair binomial envelope.
    *
    * Scale shape: the candidate generation is [[minhashLsh]]'s
    * bucket-join (no all-pairs); the exact leg touches ONLY the
    * colliding pairs' shingle arrays (two row-bounded array ops per
    * pair).
    */
  def minhashCalibration(spark: SparkSession, dir: String): DataFrame = {
    val sigs = signatures(spark, dir)
    val banded = sigs.select(col("doc_id"),
      posexplode(array(bandBuckets(col("sig")): _*)).as(Seq("band", "bucket")))
    val candidates = banded.as("a")
      .join(banded.toDF("b_doc_id", "b_band", "b_bucket").as("b"),
        col("band") === col("b_band") && col("bucket") === col("b_bucket")
          && col("doc_id") < col("b_doc_id"))
      .select(col("doc_id").as("doc_a"), col("b_doc_id").as("doc_b"))
      .distinct()
    val shingled = Tables.documents(spark, dir)
      .select(col("doc_id"), expr(
        """array_distinct(transform(
          |  sequence(1, greatest(size(split(trim(text), '\\s+')) - 2, 1)),
          |  i -> concat_ws(' ', slice(split(trim(text), '\\s+'), i, 3))))"""
          .stripMargin).as("sh"))
    candidates
      .join(sigs.toDF("doc_a", "sig_a"), "doc_a")
      .join(sigs.toDF("doc_b", "sig_b"), "doc_b")
      .join(shingled.toDF("doc_a", "sh_a"), "doc_a")
      .join(shingled.toDF("doc_b", "sh_b"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(aggregate(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => when(x === y, 1).otherwise(0)), lit(0),
          (acc, x) => acc + x).cast("double") / NumHashes, 4)
          .as("est_jaccard"),
        round(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
          / size(array_union(col("sh_a"), col("sh_b"))), 6)
          .as("exact_jaccard"))
      .withColumn("err", round(col("est_jaccard") - col("exact_jaccard"), 6))
  }

  /** [[minhashCalibration]]'s EXACT leg as its own SQL-oracled query:
    * the identical 3-gram shingle definition and exact-Jaccard
    * arithmetic, evaluated over the DETERMINISTIC adjacent-id pair
    * set (doc, doc+1) instead of the LSH collisions (signatures are
    * not SQL-expressible, so the collision set can't be oracled —
    * this pins the half of the calibration that CAN be). Together
    * with the spec's per-pair binomial envelope on the estimate, the
    * calibration query's two columns are now both independently
    * checked.
    *
    * Scale shape: a narrow self-join on a shifted key — one shuffle,
    * no fanout.
    */
  def minhashCalibrationExact(spark: SparkSession, dir: String): DataFrame = {
    val shingled = Tables.documents(spark, dir)
      .select(col("doc_id"), expr(
        """array_distinct(transform(
          |  sequence(1, greatest(size(split(trim(text), '\\s+')) - 2, 1)),
          |  i -> concat_ws(' ', slice(split(trim(text), '\\s+'), i, 3))))"""
          .stripMargin).as("sh"))
    shingled
      .join(shingled.toDF("doc_b", "sh_b"), col("doc_b") === col("doc_id") + 1)
      .select(col("doc_id").as("doc_a"), col("doc_b"),
        round(size(array_intersect(col("sh"), col("sh_b"))).cast("double")
          / size(array_union(col("sh"), col("sh_b"))), 6).as("exact_jaccard"))
  }

  def minhashCalibrationExactSql: String =
    """WITH sh AS (
      |  SELECT doc_id, list_distinct(
      |    list_transform(range(1, greatest(len(ws) - 2, 1) + 1),
      |      i -> array_to_string(ws[i : i + 2], ' '))) AS sh
      |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
      |        FROM documents)
      |)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  round(len(list_intersect(a.sh, b.sh))::DOUBLE
      |    / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS exact_jaccard
      |FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
      |ORDER BY doc_a""".stripMargin

  // ------------------------------------------------------------- simhash

  /** 64-bit SimHash per document (word-frequency weighted bit votes)
    * via the single-pass native [[graft.functions.SimHash64]]
    * expression (the HOF formulation measured 134 s at sf0.1; this
    * runs in under a second).
    */
  private[operators] def simhashes(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), graft.functions.SimHash64
        .simhash64(split(trim(col("text")), "\\s+")).as("simhash"))

  /** SimHash near-dup pairs: candidates collide on ≥1 of four 16-bit
    * chunks (guarantees recall for hamming ≤ 3), verified by exact
    * hamming distance ≤ 8.
    */
  def simhashDedup(spark: SparkSession, dir: String): DataFrame = {
    val sh = simhashes(spark, dir) // cheap native expr; no session-pinned cache
    val chunked = sh.select(col("doc_id"), col("simhash"), posexplode(
      array((0 until 4).map { j =>
        shiftrightunsigned(col("simhash"), 16 * j).bitwiseAND(lit(0xFFFFL))
      }: _*)).as(Seq("chunk_idx", "chunk")))
    chunked.as("a")
      .join(chunked.toDF("b_doc_id", "b_simhash", "b_chunk_idx", "b_chunk").as("b"),
        col("chunk_idx") === col("b_chunk_idx") && col("chunk") === col("b_chunk")
          && col("doc_id") < col("b_doc_id"))
      .select(col("doc_id").as("doc_a"), col("b_doc_id").as("doc_b"),
        bit_count(col("simhash").bitwiseXOR(col("b_simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= 8)
  }

  /** Identical-text pairs (doc_a < doc_b) — the GUARANTEED-recall set
    * both hash dedups must flag: identical text means identical
    * shingles/tokens, hence identical signatures/simhashes, hence a
    * certain band/chunk collision. Spark-side joins on the raw text
    * key at verify scale; production keys the same join on the
    * 128-bit content fingerprint (TextOps.fingerprintCol).
    */
  private def exactDupPairs(docs: DataFrame): DataFrame = {
    val t = docs.select(col("doc_id"), col("text"))
    t.join(t.toDF("b_id", "b_text"),
        col("text") === col("b_text") && col("doc_id") < col("b_id"))
      .select(col("doc_id").as("doc_a"), col("b_id").as("doc_b"))
  }

  /** GUARANTEED-RECALL RECOUNT over [[minhashLsh]] (round-11
    * partial-oracle tier): LSH recall on near-dups is probabilistic,
    * but on EXACT duplicates it is certain — identical text gives
    * identical signatures, which collide in every band and estimate
    * Jaccard exactly 1. The oracle recomputes the identical-text pair
    * mass (Σ k(k−1)/2 over text groups) from the raw corpus; the
    * boolean columns carry the Spark-side certainty properties
    * against TRUE literals, so a banding/signature regression that
    * loses even one exact duplicate breaks the hash. (Vacuously true
    * when the corpus has no exact dups — sf0.1 and the 10×-replica
    * sweep, where every doc has 10 copies, give it teeth.)
    */
  def minhashRecount(spark: SparkSession, dir: String): DataFrame = {
    val exact = exactDupPairs(Tables.documents(spark, dir))
    exact
      .join(minhashLsh(spark, dir), Seq("doc_a", "doc_b"), "left")
      .agg(count(lit(1)).as("n_exact_dup_pairs"),
        coalesce(expr("bool_and(est_jaccard IS NOT NULL)"), lit(true))
          .as("all_exact_dups_flagged"),
        coalesce(expr("bool_and(est_jaccard = 1.0)"), lit(true))
          .as("exact_dups_estimate_one"))
  }

  def minhashRecountSql: String =
    """WITH g AS (
      |  SELECT text, count(*)::BIGINT AS k FROM documents GROUP BY text
      |)
      |SELECT coalesce(sum(k * (k - 1) // 2), 0)::BIGINT AS n_exact_dup_pairs,
      |  true AS all_exact_dups_flagged, true AS exact_dups_estimate_one
      |FROM g WHERE k >= 2""".stripMargin

  /** [[minhashRecount]]'s SimHash sibling over [[simhashDedup]]:
    * identical text → identical 64-bit simhash → hamming 0 → a
    * certain 16-bit-chunk collision, so every exact duplicate must
    * surface with hamming exactly 0. Same oracle shape (raw-corpus
    * pair mass + TRUE-literal certainty booleans).
    */
  def simhashRecount(spark: SparkSession, dir: String): DataFrame = {
    val exact = exactDupPairs(Tables.documents(spark, dir))
    exact
      .join(simhashDedup(spark, dir), Seq("doc_a", "doc_b"), "left")
      .agg(count(lit(1)).as("n_exact_dup_pairs"),
        coalesce(expr("bool_and(hamming IS NOT NULL)"), lit(true))
          .as("all_exact_dups_flagged"),
        coalesce(expr("bool_and(hamming = 0)"), lit(true))
          .as("exact_dups_hamming_zero"))
  }

  def simhashRecountSql: String =
    """WITH g AS (
      |  SELECT text, count(*)::BIGINT AS k FROM documents GROUP BY text
      |)
      |SELECT coalesce(sum(k * (k - 1) // 2), 0)::BIGINT AS n_exact_dup_pairs,
      |  true AS all_exact_dups_flagged, true AS exact_dups_hamming_zero
      |FROM g WHERE k >= 2""".stripMargin

  // ----------------------------------------------------- embedding cosine

  /** Codegen'd native dot product ([[graft.functions.VectorDot]]);
    * bit-identical to the HOF fold `aggregate(zip_with(a, b, _*_),
    * 0d, _+_)` but ~100× faster per pair.
    */
  private[graft] def dot(a: Column, b: Column): Column =
    graft.functions.VectorDot.vector_dot(a, b)

  /** Embedding-cosine near-dup pairs (cos ≥ 0.4). Brute-force
    * all-pairs is the verify-scale baseline; at 100 TB candidates come
    * from [[Similarity.annLsh]] buckets and this kernel only scores
    * colliding pairs.
    */
  def embeddingDedup(spark: SparkSession, dir: String): DataFrame =
    embeddingPairsBase(spark, dir)
      .select(col("a_id"), col("b_id"), round(col("cos"), 6).as("cosine"))

  /** Unsorted/unrounded pair kernel for internal composition (the
    * trailing ORDER BY on [[embeddingDedup]] is driver determinism
    * only and would cost a useless global sort mid-pipeline).
    */
  private[operators] def embeddingPairsBase(spark: SparkSession,
      dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))
    // The corpus is one parquet file, so the nested-loop stream side
    // would otherwise scan as a single task and the O(n²) dot-product
    // work runs serially (measured: ~1 fat task). Round-robin the
    // stream side across the session's parallelism first — the shuffle
    // moves only n vectors, the n² compute then fans out. GUARDED on
    // the scan's real width (round 14): a multi-file corpus already
    // scans wide, and the exchange would be pure extra movement.
    val streamParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
      .max(spark.sparkContext.defaultParallelism)
    val a0 = e.toDF("a_id", "a_v", "a_norm")
    val a = if (a0.rdd.getNumPartitions >= streamParts) a0
      else a0.repartition(streamParts)
    val b = e.toDF("b_id", "b_v", "b_norm")
    a.join(b, col("a_id") < col("b_id"))
      .withColumn("cos", dot(col("a_v"), col("b_v")) / (col("a_norm") * col("b_norm")))
      .filter(col("cos") >= 0.4)
  }

  /** The 100 TB path for [[embeddingDedup]]: candidate pairs come
    * from 8-bit hyperplane LSH buckets (hamming ≤ `radius` multiprobe
    * SELF-join — one side expands to its mask set and equi-joins the
    * other on `code`; the XOR mask of a colliding pair is unique, so
    * no pair is produced twice) and the codegen'd dot kernel scores
    * only colliding pairs. The exact cosine post-filter keeps
    * precision at 1.0 (output ⊆ the exact all-pairs result —
    * spec-asserted); recall on high-similarity pairs is the LSH
    * tradeoff, pinned in LlmOpsSpec.
    */
  def embeddingDedupLsh(spark: SparkSession, dir: String,
      radius: Int = 3): DataFrame =
    embeddingPairsLshBase(spark, dir, radius)
      .select(col("a_id"), col("b_id"), round(col("cos"), 6).as("cosine"))

  /** Unsorted/unrounded LSH pair kernel for internal composition
    * (mirrors [[embeddingPairsBase]] — the trailing ORDER BY on the
    * query entry is driver determinism only and would cost a useless
    * global sort mid-pipeline).
    */
  private[graft] def embeddingPairsLshBase(spark: SparkSession,
      dir: String, radius: Int = 3, minCos: Double = 0.4): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))
      .withColumn("code", Similarity.lshCode(col("v")))
    val a = e.toDF("a_id", "a_v", "a_norm", "a_code")
      .withColumn("m", explode(typedLit(Similarity.hammingMasks(radius))))
      .withColumn("code", col("a_code").bitwiseXOR(col("m")))
      .drop("m", "a_code")
    val b = e.toDF("b_id", "b_v", "b_norm", "code")
    a.join(b, Seq("code"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("cos", dot(col("a_v"), col("b_v")) / (col("a_norm") * col("b_norm")))
      .filter(col("cos") >= minCos)
  }

  /** SemDeDup-style near-dup candidates (Abbas et al. 2023): coarse
    * KMeans clusters the embedding space, pairs are compared only
    * WITHIN a cluster — the third candidate-generation strategy next
    * to exact all-pairs (verify scale) and LSH buckets: compare cost
    * is Σ|cell|² ≪ n², and the quantizer is the SAME one the IVF
    * search index maintains, so one clustering serves search and
    * dedup. Exact-cosine post-filter keeps precision at 1.0 (output ⊆
    * the all-pairs result, spec-asserted); pairs straddling a cell
    * boundary are the recall tradeoff.
    */
  def semDedup(spark: SparkSession, dir: String): DataFrame = {
    // NOT persisted: a lazily-referenced cache would pin executor
    // memory for the whole session (queries can't unpersist it); the
    // assignment is a narrow broadcast-model map, so the self-join
    // recomputing it per side costs one extra scan, not a refit
    val assigned = Similarity.ivfIndex(spark, dir).assigned
    val a = assigned.toDF("a_id", "a_v", "a_norm", "cell")
    val b = assigned.toDF("b_id", "b_v", "b_norm", "cell")
    a.join(b, Seq("cell"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("cos", dot(col("a_v"), col("b_v")) / (col("a_norm") * col("b_norm")))
      .filter(col("cos") >= 0.4)
      .select(col("a_id"), col("b_id"), round(col("cos"), 6).as("cosine"),
        col("cell"))
  }

  /** Recall REGRESSION floors for [[embedDedupGate]] — deliberately
    * LOOSER than the spec floors (LlmOpsSpec pins LSH ≥ 0.35 at
    * sf0.001): the gate's job is to hash-FAIL when a candidate path
    * breaks outright (a broken code/mask set or quantizer reads
    * ~0.0-0.1 recall), not to re-litigate the tight envelopes the
    * specs own. Generous margins keep the gate stable across the
    * driver's scale factors (measured recalls in the scaladoc below).
    */
  private[graft] val EmbedDedupGateFloors: Seq[(String, Double)] =
    Seq("lsh" -> 0.3, "semdedup" -> 0.15)

  /** PRECISION/RECALL GATE over the two candidate-bounded near-dup
    * paths (round-11 partial-oracle tier) — the near-dup sibling of
    * [[graft.operators.Similarity.annRecallGate]]: for each of the
    * LSH-bucket ([[embeddingDedupLsh]]) and shared-cell
    * ([[semDedup]]) pair sources, ONE hash-graded row against the
    * exact all-pairs kernel. `n_exact_pairs` is the oracle's own
    * brute-force count (the q_dedup_embedding closure arithmetic —
    * already proven engine-stable at the 0.4 threshold by that
    * query's byte-hash); `n_false_pairs` must be the EXACT ZERO the
    * post-filter guarantees (precision 1.0 as an integer, not a
    * spec assertion); `recall_ok` must equal TRUE against the
    * regression floor. A mask-set, code, or quantizer regression
    * that tanks either family breaks the driver hash instead of
    * waiting for a spec run. Deterministic: hyperplanes and the
    * KMeans seed are fixed, so both recalls are fixed per corpus.
    */
  def embedDedupGate(spark: SparkSession, dir: String): DataFrame = {
    val exact = embeddingPairsBase(spark, dir).select("a_id", "b_id")
    val variants: Map[String, DataFrame] = Map(
      "lsh" -> embeddingPairsLshBase(spark, dir).select("a_id", "b_id"),
      "semdedup" -> semDedup(spark, dir).select("a_id", "b_id"))
    EmbedDedupGateFloors.map { case (name, floor) =>
      val v = variants(name)
      val hits = exact
        .join(v.withColumn("hit", lit(1)), Seq("a_id", "b_id"), "left")
        .agg(count(lit(1)).as("n_exact_pairs"),
          sum(coalesce(col("hit"), lit(0))).as("n_hit"))
      val extra = v
        .join(exact.withColumn("x", lit(1)), Seq("a_id", "b_id"), "left")
        .agg(coalesce(sum(when(col("x").isNull, 1L).otherwise(0L)), lit(0L))
          .as("n_false_pairs"))
      hits.crossJoin(broadcast(extra)) // two one-row aggregates
        .select(lit(name).as("variant"), col("n_exact_pairs"),
          col("n_false_pairs"), lit(floor).as("recall_floor"),
          coalesce(col("n_hit").cast("double")
            / col("n_exact_pairs").cast("double") >= floor, lit(true))
            .as("recall_ok"))
    }.reduce(_ unionByName _)
  }

  def embedDedupGateSql: String = {
    val values = EmbedDedupGateFloors
      .map { case (n, f) => s"('$n', ${f}::DOUBLE)" }.mkString(", ")
    s"""WITH e AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v,
       |    sqrt(list_sum(list_transform(list_zip(embedding::DOUBLE[], embedding::DOUBLE[]),
       |      z -> z[1] * z[2]))) AS norm
       |  FROM embeddings
       |), n AS (
       |  SELECT count(*)::BIGINT AS n_exact_pairs
       |  FROM e a JOIN e b ON a.vec_id < b.vec_id
       |  WHERE list_sum(list_transform(list_zip(a.v, b.v), z -> z[1] * z[2]))
       |      / (a.norm * b.norm) >= 0.4
       |)
       |SELECT v.variant, n.n_exact_pairs, 0::BIGINT AS n_false_pairs,
       |  v.recall_floor, true AS recall_ok
       |FROM (VALUES $values) AS v(variant, recall_floor), n
       |ORDER BY variant""".stripMargin
  }

  /** REFINEMENT GATE over the LSH canonical path (round-11
    * partial-oracle tier): [[dedupCanonicalLsh]]'s defining
    * containment — LSH pairs ⊆ exact pairs, so every LSH cluster
    * lives INSIDE one exact connected component (missed pairs can
    * split a cluster, never merge two) — plus one-canonical-per-
    * cluster, as TRUE-literal booleans next to two exact legs the
    * oracle recomputes from raw embeddings: the corpus size
    * (totality — the solver may not drop a vector) and the exact
    * component count via the shared recursive-closure CTE. A label-
    * propagation or canonical-selection regression breaks the hash.
    */
  def lshRefineGate(spark: SparkSession, dir: String): DataFrame = {
    val exact = embeddingClusters(spark, dir)
      .select(col("vec_id"), col("cluster_id").as("exact_cluster"))
    val lsh = dedupCanonicalLsh(spark, dir)
      .select(col("doc_id").as("vec_id"), col("cluster_id"),
        col("canonical_id"))
    val joined = lsh.join(exact, Seq("vec_id"))
    val perCluster = joined.groupBy("cluster_id")
      .agg(countDistinct("exact_cluster").as("ne"),
        countDistinct("canonical_id").as("nc"))
    val flags = perCluster.agg(
      coalesce(expr("bool_and(ne = 1)"), lit(true)).as("refine_ok"),
      coalesce(expr("bool_and(nc = 1)"), lit(true)).as("one_canonical_ok"))
    joined.agg(count(lit(1)).as("n_vecs"))
      .crossJoin(broadcast(exact.agg(
        countDistinct("exact_cluster").as("n_exact_clusters"))))
      .crossJoin(broadcast(flags))
      .select("n_vecs", "n_exact_clusters", "refine_ok", "one_canonical_ok")
  }

  def lshRefineGateSql: String =
    s"""WITH RECURSIVE $clusterClosureCtes
      |SELECT (SELECT count(*)::BIGINT FROM embeddings) AS n_vecs,
      |  (SELECT count(DISTINCT cluster_id)::BIGINT FROM clusters)
      |    AS n_exact_clusters,
      |  true AS refine_ok, true AS one_canonical_ok""".stripMargin

  /** CONSISTENCY GATE over the minhash cluster resolution (round-11
    * partial-oracle tier): the signatures aren't SQL-expressible, but
    * two invariants are — TOTALITY (every document gets a label: the
    * output row count must equal the oracle's corpus count) and the
    * identical-text certainty ([[minhashRecount]]'s reasoning carried
    * one stage further: identical text → identical signatures → a
    * certain band collision → the SAME connected component, so an
    * identical-text group split across clusters is impossible unless
    * banding or resolution regressed). Exact legs: corpus count,
    * dup-group count and mass from raw text. Vacuously true when the
    * corpus has no exact dups (sf0.01); sf0.1 (8 groups) and the
    * 10×-replica sweep give the split check teeth.
    *
    * Scale shape: the text-keyed group is verify-scale convenience —
    * production keys the same group on the 128-bit content
    * fingerprint (TextOps.fingerprintCol), never shuffling raw text.
    */
  def minhashClusterGate(spark: SparkSession, dir: String): DataFrame = {
    val clusters = minhashClusters(spark, dir)
    val joined = Tables.documents(spark, dir).select("doc_id", "text")
      .join(clusters, Seq("doc_id"))
    val groups = joined.groupBy("text")
      .agg(count(lit(1)).as("k"), countDistinct("cluster_id").as("nc"))
      .filter(col("k") >= 2)
    val gflags = groups.agg(
      count(lit(1)).as("n_dup_text_groups"),
      coalesce(sum("k"), lit(0L)).as("n_dup_docs"),
      coalesce(expr("bool_and(nc = 1)"), lit(true)).as("groups_unsplit_ok"))
    clusters.agg(count(lit(1)).as("n_docs")).crossJoin(broadcast(gflags))
      .select("n_docs", "n_dup_text_groups", "n_dup_docs",
        "groups_unsplit_ok")
  }

  def minhashClusterGateSql: String =
    """WITH g AS (
      |  SELECT text, count(*)::BIGINT AS k FROM documents
      |  GROUP BY text HAVING count(*) >= 2
      |)
      |SELECT (SELECT count(*)::BIGINT FROM documents) AS n_docs,
      |  (SELECT count(*)::BIGINT FROM g) AS n_dup_text_groups,
      |  (SELECT coalesce(sum(k), 0)::BIGINT FROM g) AS n_dup_docs,
      |  true AS groups_unsplit_ok""".stripMargin

  /** Eval-set id split (vec_id < EvalVecs plays the benchmark set —
    * same convention as Curation's `EvalDocs` n-gram split) and the
    * contamination cosine threshold; interpolated into BOTH the Spark
    * query and the SQL oracle so the duals cannot drift.
    */
  private val EvalVecs = 10L
  private val SemanticDeconThreshold = 0.35

  /** SEMANTIC decontamination — the embedding dual of
    * [[Curation.decontaminate]]'s n-gram membership test: flag
    * training vectors whose max cosine against ANY eval-set vector
    * (vec_id < EvalVecs, the eval split) clears the threshold.
    * Catches paraphrased leakage that exact n-gram overlap misses.
    *
    * Scale shape: the eval set is tiny and BROADCAST; the corpus
    * never shuffles for scoring — one narrow pass + a per-vector max
    * aggregation on the already-colocated key.
    */
  def semanticDecontaminate(spark: SparkSession, dir: String,
      threshold: Double = SemanticDeconThreshold): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))
    val eval = e.filter(col("vec_id") < EvalVecs)
      .toDF("eval_id", "e_v", "e_norm")
    e.filter(col("vec_id") >= EvalVecs)
      .join(broadcast(eval))
      .withColumn("cos", dot(col("v"), col("e_v")) / (col("norm") * col("e_norm")))
      .groupBy("vec_id")
      .agg(round(max("cos"), 6).as("max_eval_cos"))
      .withColumn("contaminated", col("max_eval_cos") >= threshold)
  }

  def semanticDecontaminateSql: String =
    s"""WITH e AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v,
      |    sqrt(list_sum(list_transform(list_zip(embedding::DOUBLE[], embedding::DOUBLE[]),
      |      z -> z[1] * z[2]))) AS norm
      |  FROM embeddings
      |), ev AS (SELECT vec_id AS eval_id, v AS e_v, norm AS e_norm FROM e
      |          WHERE vec_id < $EvalVecs),
      |tr AS (SELECT * FROM e WHERE vec_id >= $EvalVecs)
      |SELECT tr.vec_id,
      |  round(max(list_sum(list_transform(list_zip(tr.v, ev.e_v), z -> z[1] * z[2]))
      |    / (tr.norm * ev.e_norm)), 6) AS max_eval_cos,
      |  (max_eval_cos >= $SemanticDeconThreshold) AS contaminated
      |FROM tr CROSS JOIN ev
      |GROUP BY tr.vec_id ORDER BY tr.vec_id""".stripMargin

  // ------------------------------------------------- cluster resolution

  /** Connected components over an undirected edge set (`src`, `dst`)
    * for vertex set (`id`), by iterative min-label propagation:
    * `label(v) ← min(label(v), min over neighbors' labels)` to
    * fixpoint. Each round costs two hash shuffles (neighbor-min
    * partial agg + label join) plus a count for convergence; labels
    * are checkpointed per round so the plan stays flat instead of
    * stacking one join per iteration. Round count is bounded by the
    * component DIAMETER — near-dup clusters are dense (quasi-cliques
    * around a shared template), so 2-4 rounds in practice. If
    * components were adversarially chain-shaped, each round of label
    * propagation only advances one hop and the loop degenerates — so
    * the default no longer BETS on the dense shape:
    *
    *  - every round applies a POINTER-DOUBLING hop on top of the
    *    neighbor-min step (see the loop comment), compounding the
    *    frontier geometrically instead of one edge per round;
    *  - after `switchAfter` rounds without convergence, the remaining
    *    problem is CONTRACTED to its label graph (one node per
    *    current label — far smaller than the input after the
    *    propagation prefix) and the TAIL is solved in one shot: a
    *    driver-side union-find when the contracted edge list is
    *    verifiably small (one count guards the collect — the same
    *    bounded-collect discipline as every model-sized collect in
    *    this repo, and the shape GraphFrames' production CC uses for
    *    its own skip-list tail), or [[connectedComponentsStar]]
    *    (O(log n) rounds, fully distributed) when it is not.
    *
    * Worst case is therefore `switchAfter` rounds + one contraction +
    * min(driver union-find, O(log n) star rounds) on ANY graph shape,
    * while dense dup clusters keep the cheap 2-3-round path.
    * Spec-asserted equal on a planted 256-chain through BOTH tail
    * paths (driver and star).
    *
    * The same count guard is also checked UP FRONT: when the whole
    * (raw, already-checkpointed) edge list fits the driver
    * cap, the graph solves in one collect + union-find and the
    * distributed rounds never run — at small graph sizes each round
    * is pure scheduling overhead (two shuffles + a checkpoint + a
    * count over near-empty partitions; measured ~2 s of
    * q_curation_pipeline at sf0.1), while at scale the early guard
    * costs one count over the checkpointed list and falls through to
    * the unchanged round loop.
    *
    * PRECONDITION: every edge endpoint appears in `vertices`. All
    * callers satisfy it (the query entries pass the full id universe;
    * [[updateComponentsDetailed]] passes exactly the label-edge
    * endpoint set), and the two solve paths only agree under it — a
    * dangling endpoint would be connected THROUGH by the driver
    * union-find but dropped by the round loop's label join, so the
    * result would depend on which side of the size guard the graph
    * fell. Behavior for dangling endpoints is deliberately
    * unspecified rather than paid for with a corpus-scale validation
    * join per call.
    *
    * Returns one row per vertex: (id, label) with label = the minimum
    * id in the vertex's component.
    */
  private[graft] def connectedComponents(vertices: DataFrame,
      edges: DataFrame, switchAfter: Int = 3,
      driverSolveMaxEdges: Long = 1000000L): DataFrame = {
    // The RAW edge list is checkpointed first and the symmetrized view
    // derives from the checkpoint: a union of two references to the
    // un-materialized `edges` plan would carry the full pair kernel
    // (O(n²) dot products for the embedding callers) in BOTH branches
    // and compute it twice inside the checkpoint job (measured: the
    // pair kernel dominates every closure caller at bench scale).
    val raw = edges.select(col("src"), col("dst"))
      .localCheckpoint(eager = true)
    if (checkpointedCount(raw) <= driverSolveMaxEdges) {
      // union-find is direction-agnostic, so the early driver solve
      // skips symmetrization entirely and collects half the rows the
      // doubled-guard shape did; the threshold is unchanged
      // (raw ≤ cap ⟺ symmetrized ≤ 2·cap)
      val mapping = unionFindMapping(raw).toDF("id", "root")
      return vertices.select("id")
        .join(broadcast(mapping), Seq("id"), "left")
        .select(col("id"), coalesce(col("root"), col("id")).as("label"))
    }
    // distributed path: both directions as two scans of the
    // materialized checkpoint — cheap per round, no recompute
    val und = raw.union(raw.select(col("dst").as("src"), col("src").as("dst")))
    var labels = vertices.select(col("id"), col("id").as("label"))
      .localCheckpoint(eager = true)
    var changed = 1L
    var round = 0
    while (changed > 0 && round < switchAfter) {
      val nbrMin = und.withColumnRenamed("dst", "id")
        .join(labels, "id")
        .groupBy(col("src").as("id")).agg(min("label").as("nbr_min"))
      // carry the old label through the checkpoint so convergence is
      // a filter over the materialized round, not a second shuffle
      // join of next against labels every iteration
      val stepped = labels
        .join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("label").as("old_label"),
          least(col("label"), coalesce(col("nbr_min"), col("label"))).as("label"))
      // POINTER-DOUBLING hop: label(v) ← label(label(v)). label(w) ≤ w
      // always (the min includes self), so the hop only ever lowers
      // within the component — and it compounds the frontier
      // geometrically instead of one edge per round (a 17-round chain
      // graph converges in 11, measured; dense clusters lose nothing).
      // ONE hop only: the hop self-joins the un-checkpointed `stepped`
      // plan, so each extra hop would double the recomputed subplan —
      // the second hop measured 9× slower, not faster.
      val hop = stepped.select(col("id").as("lid"), col("label").as("llabel"))
      val next = stepped
        .join(hop, stepped("label") === hop("lid"), "left")
        .select(stepped("id"), col("old_label"),
          least(stepped("label"), coalesce(col("llabel"), stepped("label")))
            .as("label"))
        .localCheckpoint(eager = true)
      changed = next.filter(col("label") =!= col("old_label")).count()
      labels = next.select("id", "label")
      round += 1
    }
    if (changed == 0) labels
    else {
      // round budget exhausted — long-diameter graph: contract to the
      // label graph and solve the tail in one shot
      val srcLab = labels.toDF("src", "src_label")
      val dstLab = labels.toDF("dst", "dst_label")
      val labelEdges = und
        .join(srcLab, "src").join(dstLab, "dst")
        .select(col("src_label").as("src"), col("dst_label").as("dst"))
        .filter(col("src") =!= col("dst")).distinct()
        .localCheckpoint(eager = true) // counted, then solved — one compute
      // only the driver-solved tail may be broadcast-hinted: its size
      // just passed the count guard. The star tail's mapping is one
      // row per non-minimum label — unbounded — so it joins unhinted
      // and the planner picks shuffle vs broadcast from its real size.
      val (solved, solvedIsBounded): (DataFrame, Boolean) =
        if (checkpointedCount(labelEdges) <= driverSolveMaxEdges) {
          // tail fits the driver: union-find with path compression —
          // every remaining round collapses into one collect
          // ([[unionFindMapping]] documents the heap guard).
          (unionFindMapping(labelEdges).toDF("old_label", "new_label"), true)
        } else {
          // oversized tail: the distributed O(log n)-round solver
          val lVerts = labels.select(col("label").as("id")).distinct()
          (connectedComponentsStar(lVerts, labelEdges)
            .filter(col("id") =!= col("label"))
            .toDF("old_label", "new_label"), false)
        }
      val hinted = if (solvedIsBounded) broadcast(solved) else solved
      labels.join(hinted, col("label") === col("old_label"), "left")
        .select(col("id"),
          coalesce(col("new_label"), col("label")).as("label"))
    }
  }

  /** ONE-JOB row count over an already-materialized (checkpointed)
    * frame: a DataFrame `count()` re-enters AQE — a partial-agg
    * exchange materialization plus the final stage, two scheduled jobs
    * per call — while the physical RDD's per-partition sizes collect
    * in a single job with no shuffle. Only correct as a cheap guard on
    * frames whose plan is an ExistingRDD scan (recomputing plans would
    * double-execute their subtree).
    */
  private[operators] def checkpointedCount(df: DataFrame): Long =
    df.queryExecution.toRdd
      .mapPartitions(it => Iterator(it.size.toLong))
      .collect().sum

  /** Driver-side union-find over a COUNT-GUARDED edge list: collect,
    * union with path compression keeping the MINIMUM id as each
    * root (the same min-label semantics as the distributed loops),
    * and return only the rows that changed — (node, root) for every
    * node that is not its own component minimum — as a DataFrame fit
    * for a broadcast relabel join. Callers must have counted the
    * input against [[connectedComponents]]'s `driverSolveMaxEdges`
    * first: both the early path and the tail path collect up to the
    * 1M-edge cap (the early path guards and collects the RAW list —
    * union-find is direction-agnostic, so symmetrizing before the
    * collect would double the rows for nothing) — so size the driver
    * for ~1M (Long, Long) rows, tens of MB of heap (the largest
    * guarded collect in the repo), or lower the cap to force the
    * distributed path earlier. Duplicate and reversed edges are harmless no-op
    * unions, so symmetrized lists need no pre-dedup.
    */
  private def unionFindMapping(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    val es = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val mapping = parent.keys.map(k => (k, find(k)))
      .filter { case (k, r) => k != r }.toSeq
    import spark.implicits._
    mapping.toDF("node", "root")
  }

  /** STAR-CONTRACTION connected components (the alternating
    * large-star/small-star algorithm of Kiveris et al. 2014,
    * "Connected Components in MapReduce and Beyond") — the
    * O(log n)-ROUND fallback behind [[connectedComponents]]: the
    * default min-label loop costs rounds proportional to component
    * DIAMETER, which is right for near-dup clusters (dense
    * quasi-cliques, diameter 2-4) but degenerates on adversarially
    * CHAIN-shaped graphs (a 1000-link chain = ~1000 rounds). Star
    * contraction bounds rounds at O(log n) regardless of shape:
    *
    *  - large-star: every node u points its LARGER neighbors at the
    *    minimum of its neighborhood (∪ itself) — long tails fold in
    *    half;
    *  - small-star: u points its smaller-or-equal neighbors (except
    *    the min itself) at that minimum — stars flatten;
    *
    * alternated to a fixpoint (edge set unchanged), after which every
    * surviving edge is (v, component-min) and labels read off
    * directly. Each half-round is one groupBy shuffle over the edge
    * list plus a distinct; edges are checkpointed per round like the
    * default loop. BOTH algorithms converge to the identical
    * (id, min-label) output, spec-asserted on the real pair graph and
    * on a planted chain the default loop would need ~n rounds for —
    * at 100 TB, run the default for duplicate clusters and switch
    * here when a degenerate graph shows up in round telemetry.
    */
  private[graft] def connectedComponentsStar(vertices: DataFrame,
      edges: DataFrame, maxRounds: Int = 64): DataFrame = {
    val spark = vertices.sparkSession
    // undirected, deduped, self-loop-free working edge list
    var e = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst")).distinct()
      .localCheckpoint(eager = true)
    var eCount = e.count()
    var stable = false
    var rounds = 0
    while (!stable && rounds < maxRounds) {
      // LARGE-STAR over the symmetric list: each node u points its
      // larger neighbors at m(u) = min(N(u) ∪ {u}); every undirected
      // edge is processed from its smaller endpoint's side
      val mLarge = e.groupBy("src").agg(min("dst").as("m0"))
        .select(col("src"), least(col("m0"), col("src")).as("m"))
      val afterLarge = e.filter(col("dst") > col("src"))
        .join(mLarge, "src")
        .select(col("dst").as("src"), col("m").as("dst"))
        .filter(col("src") =!= col("dst")).distinct()
      // SMALL-STAR: key each edge on its larger endpoint; u and its
      // smaller neighbors all point at m = min of that neighborhood
      val symL = afterLarge
        .union(afterLarge.select(col("dst").as("src"), col("src").as("dst")))
        .filter(col("src") =!= col("dst")).distinct()
      val byLarger = symL.filter(col("dst") < col("src"))
      val mSmall = byLarger.groupBy("src").agg(min("dst").as("m"))
      val next = byLarger.join(mSmall, "src")
        .select(col("dst").as("v"), col("m"))
        .union(mSmall.select(col("src").as("v"), col("m")))
        .filter(col("v") =!= col("m"))
        .toDF("src", "dst").distinct()
      // the fixpoint is star edges (member → center); re-symmetrize so
      // the next round's large-star sees the undirected graph
      val nextSym = next
        .union(next.select(col("dst").as("src"), col("src").as("dst")))
        .distinct().localCheckpoint(eager = true)
      // both sides are distinct sets, so equal cardinality plus one
      // empty difference IS set equality — half the convergence cost
      // of a two-sided exceptAll (the count is carried, not recomputed)
      val nextCount = nextSym.count()
      stable = nextCount == eCount && nextSym.exceptAll(e).isEmpty
      e = nextSym
      eCount = nextCount
      rounds += 1
    }
    require(stable, s"star contraction did not converge in $maxRounds rounds")
    // fixpoint edges are (member, component-min) both ways; a vertex's
    // label is the min across its edges, itself for singletons
    val labels = e.select(col("src").as("id"),
        least(col("src"), col("dst")).as("l"))
      .groupBy("id").agg(min("l").as("label"))
    vertices.select(col("id"))
      .join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("label"))
  }

  /** INCREMENTAL connected-components maintenance — folds one batch of
    * new vertices and new edges into a STANDING `(id, label)` component
    * table without recomputing the corpus from scratch. This is the
    * cross-run tier for cluster identity that the rolling exact and
    * near-dup GATES already have: at 100 TB the component table is a
    * standing artifact and each delivery only touches the components
    * its new edges are incident to.
    *
    * Algorithm (edge contraction on the label graph):
    *  1. new ids (explicit vertices ∪ edge endpoints not yet standing)
    *     enter as their own singleton labels;
    *  2. every new edge is CONTRACTED to an edge between its
    *     endpoints' CURRENT labels — components, not members, are the
    *     merge unit, so the graph handed to the solver has one node
    *     per touched component regardless of component size;
    *  3. [[connectedComponents]] resolves that label graph (it is
    *     batch-sized: nodes = touched labels, edges = batch edges);
    *  4. the resulting `old_label → new_label` mapping (strict
    *     relabels only) re-labels the standing table with one
    *     broadcast-sized join — untouched components coalesce through
    *     unchanged.
    *
    * Correctness: components of `G ∪ ΔE` are exactly the components
    * of the contraction of `ΔE` over the components of `G` (each
    * standing component is connected, so merging whole labels loses
    * nothing; min-of-mins = global min, so labels stay component
    * minima). Spec-asserted against a from-scratch run on planted
    * cross-batch merges, including a new vertex that takes over as a
    * standing component's minimum.
    *
    * Scale shape: the standing table is consulted EXACTLY ONCE per
    * batch — a single batch-keyed left join that resolves every batch
    * id's standing label AND its membership in one pass, checkpointed
    * so the edge-resolution and arrival legs reuse it instead of
    * re-probing the corpus (the first cut did an anti-join plus two
    * corpus-sized resolution joins — three standing consultations per
    * batch). Everything downstream of that lookup is batch-sized and
    * broadcastable; the final relabel is a broadcast join against a
    * touched-component-sized mapping (bounded by the batch label
    * graph), so the standing table itself is never shuffled by the
    * relabel. Keep the standing artifact hash-partitioned on `id`
    * (componentsMaintainStream does) so the per-batch lookup join
    * reuses its layout instead of re-sorting the corpus.
    */
  private[graft] def updateComponents(standing: DataFrame,
      newVertices: DataFrame, newEdges: DataFrame): DataFrame =
    updateComponentsDetailed(standing, newVertices, newEdges)._1

  /** [[updateComponents]] plus the fold's TOUCHED-CLUSTER set — every
    * cluster id (under both its pre- and post-fold naming) whose
    * membership this batch changed: labels the merge mapping rewrote
    * or produced, plus arriving ids' own labels (covers singleton
    * arrivals the mapping never sees). Downstream incremental
    * consumers ([[updateCanonical]]) recompute exactly these clusters
    * and carry everything else verbatim.
    *
    * Checkpoint lifecycle: the two internal eager checkpoints
    * (`batchLab`, `mapping`) are BATCH-sized and become unreachable
    * as soon as the caller materializes the outputs (both outputs'
    * checkpointed plans carry no reference back), so ContextCleaner
    * reclaims them on its normal cadence — unlike the RETAINED
    * standing generations, which the maintenance streams release
    * explicitly (a localCheckpoint cannot recompute, so an explicit
    * release here would have to wait for the caller's action anyway).
    */
  private[graft] def updateComponentsDetailed(standing: DataFrame,
      newVertices: DataFrame, newEdges: DataFrame): (DataFrame, DataFrame) = {
    val edges = newEdges.select(col("src"), col("dst"))
    // every id this batch touches (defensively including edge
    // endpoints the caller did not list as vertices)
    val batchIds = newVertices.select(col("id"))
      .union(edges.select(col("src").as("id")))
      .union(edges.select(col("dst").as("id")))
      .distinct()
    // the ONE standing lookup: current label (self for unseen ids)
    // plus the membership flag, materialized batch-sized
    val batchLab = batchIds
      .join(standing.select(col("id"), col("label"),
        lit(true).as("known")), Seq("id"), "left")
      .select(col("id"),
        coalesce(col("label"), col("id")).as("label"),
        coalesce(col("known"), lit(false)).as("known"))
      .localCheckpoint(eager = true)
    // contract each new edge to its endpoints' current labels — all
    // batch-sized joins from here on
    val srcLab = batchLab.select(col("id").as("src"), col("label").as("src_label"))
    val dstLab = batchLab.select(col("id").as("dst"), col("label").as("dst_label"))
    val labelEdges = edges
      .join(srcLab, "src").join(dstLab, "dst")
      .select(col("src_label").as("src"), col("dst_label").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
    val touched = labelEdges.select(col("src").as("id"))
      .union(labelEdges.select(col("dst").as("id"))).distinct()
    // solve the batch-sized label graph, keep only strict relabels
    // (checkpointed: the relabel join AND the touched-set derivation
    // both read it)
    val mapping = connectedComponents(touched, labelEdges)
      .filter(col("id") =!= col("label"))
      .toDF("old_label", "new_label")
      .localCheckpoint(eager = true)
    val arriving = batchLab.filter(!col("known")).select("id", "label")
    val relabeled = standing.select("id", "label").unionByName(arriving)
      .join(broadcast(mapping), col("label") === col("old_label"), "left")
      .select(col("id"),
        coalesce(col("new_label"), col("label")).as("label"))
    val touchedClusters = mapping.select(col("old_label").as("cluster_id"))
      .union(mapping.select(col("new_label").as("cluster_id")))
      .union(arriving.select(col("label").as("cluster_id")))
      .distinct()
    (relabeled, touchedClusters)
  }

  /** Persist / reload the standing CLUSTER STATE — the (id, label)
    * component table plus the (doc → representative) canonical table
    * the incremental fold maintains — under the shared
    * [[IndexManifest]] discipline every other standing artifact has
    * (family guard, per-part schema hash): this is the durability leg
    * of the maintainStream contract for
    * [[graft.streaming.DocStream.canonicalMaintainStream]] — persist
    * each published generation, restart with the loaded pair as
    * `initial`.
    */
  def saveClusterState(labels: DataFrame, canon: DataFrame,
      path: String): Unit = {
    labels.write.mode("overwrite").parquet(s"$path/labels")
    canon.write.mode("overwrite").parquet(s"$path/canonical")
    IndexManifest.write(labels.sparkSession, path, "cluster_state",
      Seq("labels", "canonical"))
  }

  def loadClusterState(spark: SparkSession,
      path: String): (DataFrame, DataFrame) = {
    IndexManifest.validate(spark, path, "cluster_state",
      Seq("labels", "canonical")): Unit
    val labels = spark.read.parquet(s"$path/labels")
    require(labels.columns.toSeq == Seq("id", "label"),
      s"invalid cluster labels at $path/labels: ${labels.columns.mkString(",")}")
    val canon = spark.read.parquet(s"$path/canonical")
    require(canon.columns.toSeq ==
      Seq("doc_id", "cluster_id", "canonical_id", "is_canonical"),
      s"invalid canonical table at $path/canonical: ${canon.columns.mkString(",")}")
    (labels, canon)
  }

  /** Incremental CANONICAL maintenance — the consumer tier of
    * [[updateComponentsDetailed]]: once a batch folds into the
    * standing labels, the (doc → cluster representative) table only
    * changes for the fold's TOUCHED clusters, so the first_value
    * selection window recomputes over exactly those clusters' members
    * and every other canonical row carries VERBATIM. Merges move
    * whole clusters (never individual members), so a row whose
    * cluster id is not in the touched set — under either its old or
    * new naming, both of which the touched set carries — cannot have
    * changed cluster or representative.
    *
    * Scale shape: the touched set is batch-bounded and broadcasts
    * into both legs (the members semi-join and the carried
    * anti-join); the recompute window shuffles only touched members;
    * the standing canonical table is consulted once (the anti-join)
    * and never reshuffled. Spec: fold == from-scratch canonical on
    * planted cross-batch merges, carried rows bit-identical.
    */
  private[graft] def updateCanonical(standingCanon: DataFrame,
      newLabels: DataFrame, touchedClusters: DataFrame,
      scores: DataFrame): DataFrame = {
    val touched = touchedClusters.select(col("cluster_id"))
    // The broadcast hint is GUARDED, not unconditional: on the
    // maintenance path the touched set is batch-bounded and must
    // broadcast (a shuffle join here would reshuffle the standing
    // canonical — the O(corpus) cost this tier exists to avoid), but
    // the fold-into-empty BOOTSTRAP path touches every cluster, and
    // force-broadcasting a corpus-scale set blows the broadcast /
    // driver limits regardless of what the docstring promises for
    // batches. Over the guard (4M ids ≈ 32 MB — far beyond any sane
    // batch, so the count() action only ever bites on bootstrap) the
    // hint drops and the planner/AQE picks; bootstrap recomputes
    // everything anyway, so its shuffle is honest work.
    val hinted =
      if (touched.count() <= 4000000L) broadcast(touched) else touched
    val carried = standingCanon
      .join(hinted, Seq("cluster_id"), "left_anti")
      .select("doc_id", "cluster_id", "canonical_id", "is_canonical")
    val members = newLabels
      .join(hinted, newLabels("label") === hinted("cluster_id"),
        "left_semi")
      .select(col("id").as("vec_id"), col("label").as("cluster_id"))
    carried.unionByName(canonicalOfBase(members, scores))
  }

  /** [[embeddingClusters]] computed INCREMENTALLY via
    * [[updateComponents]]: the corpus is split at `split` into a
    * standing half (clustered from scratch, the prior run's artifact)
    * and an arriving half whose pairs — including every cross-half
    * pair — fold in as one maintenance batch. Registered with the SAME
    * DuckDB transitive-closure oracle as q_dedup_clusters: the hash
    * match IS the incremental == from-scratch proof at data scale,
    * on top of the planted-merge spec.
    */
  def embeddingClustersIncremental(spark: SparkSession, dir: String,
      split: Long = 250L): DataFrame = {
    val pairs = embeddingPairsBase(spark, dir)
      .select(col("a_id").as("src"), col("b_id").as("dst"))
    val standingPairs = pairs.filter(col("src") < split && col("dst") < split)
    val newPairs = pairs.filter(col("src") >= split || col("dst") >= split)
    val ids = Tables.embeddings(spark, dir).select(col("vec_id").as("id"))
    val standing = connectedComponents(
      ids.filter(col("id") < split), standingPairs)
    updateComponents(standing, ids.filter(col("id") >= split), newPairs)
      .select(col("id").as("vec_id"), col("label").as("cluster_id"),
        (col("id") === col("label")).as("keep"))
  }

  /** [[dedupCanonical]] computed INCREMENTALLY: the standing half's
    * labels AND canonical table are the prior run's artifacts; the
    * arriving half folds in as one maintenance batch through
    * [[updateComponentsDetailed]] + [[updateCanonical]] (only touched
    * clusters re-run the selection window, the rest carry verbatim).
    * Registered with the SAME DuckDB oracle as q_dedup_canonical: the
    * hash match proves the carried/recomputed split loses nothing —
    * the incremental tier's rewrite map IS the from-scratch one.
    */
  def dedupCanonicalIncremental(spark: SparkSession, dir: String,
      split: Long = 250L): DataFrame =
    dedupCanonicalIncrementalOf(spark, dir, split, ncharsScore(spark, dir))

  /** [[dedupCanonicalQuality]] computed INCREMENTALLY — the
    * quality-curated standing corpus no longer recomputes from
    * scratch: the SAME fold as [[dedupCanonicalIncremental]]
    * ([[updateComponentsDetailed]] + [[updateCanonical]], touched
    * clusters recompute, the rest carry verbatim) with the selection
    * signal swapped from content length to the quality score —
    * exactly the parameterization [[updateCanonical]]'s `scores`
    * argument exists for. Registered under the same composed
    * closure + quality-window oracle as q_dedup_canonical_quality:
    * the hash match proves the incremental rewrite map equals the
    * from-scratch one under the quality signal too.
    */
  def dedupCanonicalQualityIncremental(spark: SparkSession, dir: String,
      split: Long = 250L): DataFrame =
    dedupCanonicalIncrementalOf(spark, dir, split,
      TextOps.qualityScore(spark, dir)
        .select(col("doc_id"), col("quality_score").as("score")))

  private def dedupCanonicalIncrementalOf(spark: SparkSession, dir: String,
      split: Long, scores: DataFrame): DataFrame = {
    val pairs = embeddingPairsBase(spark, dir)
      .select(col("a_id").as("src"), col("b_id").as("dst"))
    val standingPairs = pairs.filter(col("src") < split && col("dst") < split)
    val newPairs = pairs.filter(col("src") >= split || col("dst") >= split)
    val ids = Tables.embeddings(spark, dir).select(col("vec_id").as("id"))
    val standingLabels = connectedComponents(
      ids.filter(col("id") < split), standingPairs)
      .localCheckpoint(eager = true) // the prior run's artifact: feeds
                                     // its canonical AND the fold
    import spark.implicits._
    val emptyCanon = Seq.empty[(Long, Long, Long, Boolean)]
      .toDF("doc_id", "cluster_id", "canonical_id", "is_canonical")
    val standingCanon = updateCanonical(emptyCanon, standingLabels,
      standingLabels.select(col("label").as("cluster_id")).distinct(), scores)
    val (labels, touched) = updateComponentsDetailed(standingLabels,
      ids.filter(col("id") >= split), newPairs)
    updateCanonical(standingCanon, labels, touched, scores)
  }

  /** Duplicate-CLUSTER resolution — the step that actually dedups a
    * corpus. Near-dup PAIRS alone don't: similarity is not transitive
    * at the candidate level (A~B and B~C must collapse into ONE
    * cluster even when (A, C) never surfaced as a pair), so keeping
    * "one doc per pair" over-deletes and under-deletes. This resolves
    * the pair graph to connected components and emits every vector
    * with its cluster representative (minimum vec_id in the component)
    * and the keep verdict (representatives survive).
    *
    * Pairs here come from the exact cosine kernel so the whole query
    * is oracle-checkable; at 100 TB the pair source swaps to the
    * bucketed [[embeddingDedupLsh]] candidates — same resolution pass.
    */
  def embeddingClusters(spark: SparkSession, dir: String): DataFrame = {
    val pairs = embeddingPairsBase(spark, dir)
      .select(col("a_id").as("src"), col("b_id").as("dst"))
    val verts = Tables.embeddings(spark, dir).select(col("vec_id").as("id"))
    connectedComponents(verts, pairs)
      .select(col("id").as("vec_id"), col("label").as("cluster_id"),
        (col("id") === col("label")).as("keep"))
  }

  /** DuckDB dual of [[embeddingClusters]]: exact transitive closure by
    * recursive CTE (affordable at oracle scale), cluster id = min
    * reachable id — the same fixpoint the distributed label
    * propagation converges to.
    */
  /** Shared DuckDB CTE block: the exact transitive closure over the
    * cosine-threshold pair graph (`reach` fixpoint + min-label
    * `clusters`). Composed into [[embeddingClustersSql]],
    * [[dedupCanonicalSql]], and Curation's pipeline oracle — one
    * definition so the closure semantics cannot drift between duals.
    * Callers must open with `WITH RECURSIVE`.
    */
  private[operators] val clusterClosureCtes: String =
    """e AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v,
      |    sqrt(list_sum(list_transform(list_zip(embedding::DOUBLE[], embedding::DOUBLE[]),
      |      z -> z[1] * z[2]))) AS norm
      |  FROM embeddings
      |), pairs AS (
      |  SELECT a.vec_id AS a_id, b.vec_id AS b_id
      |  FROM e a JOIN e b ON a.vec_id < b.vec_id
      |  WHERE list_sum(list_transform(list_zip(a.v, b.v), z -> z[1] * z[2]))
      |      / (a.norm * b.norm) >= 0.4
      |), edges AS (
      |  SELECT a_id AS src, b_id AS dst FROM pairs
      |  UNION ALL SELECT b_id AS src, a_id AS dst FROM pairs
      |), reach(id, r) AS (
      |  SELECT vec_id AS id, vec_id AS r FROM embeddings
      |  UNION
      |  SELECT ed.src AS id, reach.r AS r
      |  FROM reach JOIN edges ed ON ed.dst = reach.id
      |), clusters AS (
      |  SELECT id AS vec_id, min(r) AS cluster_id FROM reach GROUP BY id
      |)""".stripMargin

  def embeddingClustersSql: String =
    s"""WITH RECURSIVE $clusterClosureCtes
      |SELECT vec_id, cluster_id, (vec_id = cluster_id) AS keep
      |FROM clusters ORDER BY vec_id""".stripMargin

  /** CONTRASTIVE TRIPLET MINING over the resolved clusters — the
    * embedding-training data prep that makes a dedup artifact pay
    * twice (the SimCSE-style supervision bootstrap: near-duplicates
    * ARE labeled positives): every member of a ≥2-doc cluster anchors
    * one triplet, positive = the smallest OTHER member of its cluster
    * (deterministic, no RNG), negative = the representative of the
    * numerically-NEXT ≥2-member cluster (wrapping at the end) — a
    * different connected component by construction, so the negative
    * provably isn't a near-dup of the anchor. At production scale the
    * negative leg swaps to ANN-mined hard negatives (the
    * [[graft.operators.Similarity]] serve path) — same output
    * contract; this deterministic form is the oracle-checkable
    * baseline.
    *
    * Scale shape: everything above the cluster resolution is
    * cluster-partitioned windows; the next-cluster map is a window
    * over the distinct MULTI-MEMBER cluster ids only — the set of
    * near-dup components, NOT the corpus-scale singleton id space
    * (near-dup clusters are a vanishing fraction of docs at any real
    * dedup rate), so the unpartitioned order window and the broadcast
    * back are both genuinely small. All integer → hash-exact.
    */
  def tripletMine(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val clusters = embeddingClusters(spark, dir)
      .select("vec_id", "cluster_id")
    val wc = Window.partitionBy("cluster_id")
    // cluster_id IS each cluster's representative (label = min member)
    val wOrd = Window.orderBy("cluster_id")
    val all = Window.partitionBy()
    val sized = clusters
      .withColumn("cluster_size", count(lit(1)).over(wc))
      .filter(col("cluster_size") >= 2)
    // negative map over the ≥2-member cluster ids ONLY — the near-dup
    // component count, not the corpus-scale singleton space; small by
    // construction, so the global-order window + broadcast are safe
    val negs = sized.select("cluster_id").distinct()
      .withColumn("negative_id", coalesce(
        lead("cluster_id", 1).over(wOrd), min("cluster_id").over(all)))
    sized
      .withColumn("min1", min("vec_id").over(wc))
      .withColumn("min2", min(when(col("vec_id") =!= col("min1"),
        col("vec_id"))).over(wc))
      .withColumn("positive_id", when(col("vec_id") === col("min1"),
        col("min2")).otherwise(col("min1")))
      .join(broadcast(negs), Seq("cluster_id"))
      .filter(col("negative_id") =!= col("cluster_id"))
      .select(col("vec_id").as("anchor_id"), col("positive_id"),
        col("negative_id"), col("cluster_id"), col("cluster_size"))
  }

  /** [[tripletMine]]'s PRODUCTION dual — HARD negatives: instead of
    * the arbitrary next-cluster representative, each anchor's
    * negative is its most-similar vector from a DIFFERENT component,
    * drawn from the LSH bucket collisions (the Hamming-radius
    * candidate join with the duplicate cos-floor REMOVED — a
    * cross-component candidate necessarily sits below the 0.4 edge
    * threshold, so the floor that is correct for dedup would erase
    * exactly the hard-negative band). Hard negatives are what make a
    * contrastive embedder sweat: the easy dual's negatives are
    * trivially separable; these sit just outside the duplicate
    * boundary. Anchors with no cross-component collision drop
    * (documented — at production radius/tables the collision set
    * covers the near field by construction; the recall probes
    * quantify it).
    *
    * Scale shape: the SAME bucket-keyed equi-join as the LSH dedup
    * (no all-pairs anywhere), cluster membership attached by one
    * keyed join, then a per-anchor rank window on the candidate set.
    * LSH codes aren't SQL-expressible → rows-only + spec (the
    * reconciliation recount is exact).
    */
  def tripletMineHard(spark: SparkSession, dir: String,
      radius: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val clusters = embeddingClusters(spark, dir)
      .select("vec_id", "cluster_id")
    val wc = Window.partitionBy("cluster_id")
    val anchors = clusters
      .withColumn("cluster_size", count(lit(1)).over(wc))
      .filter(col("cluster_size") >= 2)
      .withColumn("min1", min("vec_id").over(wc))
      .withColumn("min2", min(when(col("vec_id") =!= col("min1"),
        col("vec_id"))).over(wc))
      .withColumn("positive_id", when(col("vec_id") === col("min1"),
        col("min2")).otherwise(col("min1")))
      .select(col("vec_id").as("anchor_id"), col("positive_id"),
        col("cluster_id"), col("cluster_size"))
    val pairs = embeddingPairsLshBase(spark, dir, radius, minCos = -1.0)
      .select(col("a_id"), col("b_id"), col("cos"))
    val cands = pairs.select(col("a_id").as("anchor_id"),
        col("b_id").as("cand_id"), col("cos"))
      .unionByName(pairs.select(col("b_id").as("anchor_id"),
        col("a_id").as("cand_id"), col("cos")))
      .join(clusters.select(col("vec_id").as("cand_id"),
        col("cluster_id").as("cand_cluster")), Seq("cand_id"))
    val wr = Window.partitionBy("anchor_id")
      .orderBy(col("cos").desc, col("cand_id"))
    anchors
      .join(cands, Seq("anchor_id"))
      .filter(col("cand_cluster") =!= col("cluster_id"))
      .withColumn("rk", row_number().over(wr))
      .filter(col("rk") === 1)
      .select(col("anchor_id"), col("positive_id"),
        col("cand_id").as("hard_negative_id"),
        round(col("cos"), 6).as("neg_cosine"),
        col("cluster_id"), col("cluster_size"))
  }

  /** Coverage floor for [[tripletHardGate]] — radius-3 multiprobe
    * over 8-bit codes reaches 93/256 ≈ 36% of code space per anchor,
    * so an anchor with NO out-of-cluster candidate among hundreds of
    * correlated vectors is vanishingly rare (measured coverage 1.0
    * at all three SFs); 0.8 catches a broken mask set or join, not
    * corpus shape.
    */
  private[graft] val TripletHardCoverageFloor = 0.8

  /** CROSS-CHECK GATE over the hard-negative miner (round-11
    * partial-oracle tier): [[tripletMineHard]]'s negative leg is
    * LSH-dependent (not SQL-expressible), but three facts are
    * checkable — the ANCHOR SIDE must agree row-for-row with
    * [[tripletMine]]'s (whose full output the driver already
    * hash-proves against the recursive-closure oracle): same
    * positive, cluster and size per anchor; every hard negative must
    * sit OUTSIDE its anchor's component (re-verified against the
    * resolved clusters, not the miner's own filter input); and
    * coverage — the miner may not silently drop anchors
    * ([[TripletHardCoverageFloor]]). Exact leg: the oracle recounts
    * the easy-triplet mass through the same closure SQL.
    */
  def tripletHardGate(spark: SparkSession, dir: String): DataFrame = {
    val easy = tripletMine(spark, dir)
      .select(col("anchor_id"), col("positive_id").as("ep"),
        col("cluster_id").as("ec"), col("cluster_size").as("es"))
    val clusters = embeddingClusters(spark, dir)
      .select(col("vec_id").as("hard_negative_id"),
        col("cluster_id").as("neg_cluster"))
    val joined = tripletMineHard(spark, dir)
      .select(col("anchor_id"), col("positive_id"), col("cluster_id"),
        col("cluster_size"), col("hard_negative_id"))
      .join(easy, Seq("anchor_id"))
      .join(clusters, Seq("hard_negative_id"))
    val flags = joined.agg(
      count(lit(1)).as("n_hard"),
      coalesce(expr("bool_and(positive_id = ep AND cluster_id = ec" +
        " AND cluster_size = es)"), lit(true)).as("anchor_side_ok"),
      coalesce(expr("bool_and(neg_cluster <> cluster_id)"), lit(true))
        .as("neg_outside_cluster_ok"))
    easy.agg(count(lit(1)).as("n_triplets"))
      .crossJoin(broadcast(flags))
      .select(col("n_triplets"),
        coalesce(col("n_hard").cast("double")
          / col("n_triplets").cast("double") >= TripletHardCoverageFloor,
          lit(true)).as("coverage_ok"),
        col("anchor_side_ok"), col("neg_outside_cluster_ok"))
  }

  def tripletHardGateSql: String =
    s"""SELECT count(*)::BIGINT AS n_triplets, true AS coverage_ok,
      |  true AS anchor_side_ok, true AS neg_outside_cluster_ok
      |FROM ($tripletMineSql)""".stripMargin

  def tripletMineSql: String =
    s"""WITH RECURSIVE $clusterClosureCtes
      |, m1 AS (
      |  SELECT vec_id, cluster_id,
      |    count(*) OVER (PARTITION BY cluster_id)::BIGINT AS cluster_size,
      |    min(vec_id) OVER (PARTITION BY cluster_id) AS min1
      |  FROM clusters
      |), sized AS (
      |  SELECT *, min(CASE WHEN vec_id <> min1 THEN vec_id END)
      |    OVER (PARTITION BY cluster_id) AS min2
      |  FROM m1
      |), negs AS (
      |  SELECT cluster_id,
      |    coalesce(lead(cluster_id) OVER (ORDER BY cluster_id),
      |      min(cluster_id) OVER ()) AS negative_id
      |  FROM (SELECT DISTINCT cluster_id FROM m1 WHERE cluster_size >= 2)
      |)
      |SELECT s.vec_id AS anchor_id,
      |  CASE WHEN s.vec_id = s.min1 THEN s.min2 ELSE s.min1 END AS positive_id,
      |  n.negative_id, s.cluster_id, s.cluster_size
      |FROM sized s JOIN negs n ON n.cluster_id = s.cluster_id
      |WHERE s.cluster_size >= 2 AND n.negative_id <> s.cluster_id
      |ORDER BY anchor_id""".stripMargin

  /** Cluster resolution over the MINHASH near-dup pair graph — the
    * proof that [[connectedComponents]] composes with ANY pair
    * source, not just the embedding kernel the oracled clusters use:
    * the [[minhashLsh]] candidates (band-collision → estimated
    * Jaccard ≥ 0.5) resolve to components over the full documents
    * id space, emitting each doc's cluster representative and keep
    * verdict — the TEXT-side dual of q_dedup_clusters' embedding
    * clusters. (Minhash signatures aren't SQL-expressible →
    * rows-only; the spec cross-checks a driver union-find over the
    * same pairs and pins singleton totality.)
    *
    * Scale shape: the pair graph is the LSH equi-join's output (no
    * all-pairs), the resolution is the same pointer-doubling /
    * contracted-tail solver as every other cluster surface.
    */
  def minhashClusters(spark: SparkSession, dir: String): DataFrame = {
    val pairs = minhashLsh(spark, dir)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val verts = Tables.documents(spark, dir).select(col("doc_id").as("id"))
    connectedComponents(verts, pairs)
      .select(col("id").as("doc_id"), col("label").as("cluster_id"),
        (col("id") === col("label")).as("keep"))
  }

  /** CLUSTER-SIZE DISTRIBUTION over the resolved near-dup components —
    * the report a dedup owner reads before applying the rewrite map:
    * per component size, how many clusters, how many docs they hold,
    * how many of those a canonical pass deletes (size − 1 each), and
    * both masses as ppm of the corpus. A corpus whose mass sits in
    * large clusters is template-heavy (and the LSH banding needs more
    * bands); one dominated by singletons is near-dup-clean.
    *
    * Scale shape: the component resolution dominates; above it the
    * rollup is cluster-sized → size-sized (two partial aggs), and
    * the corpus totals derive from the ~log-many-row histogram itself
    * via an empty window (the [[graft.operators.TextOps.docLengthHistDocs]]
    * idiom — a second corpus pass for a denominator is structurally
    * impossible). All integer arithmetic — but the oracle must cast
    * its ppm divisions back to BIGINT: DuckDB's `sum(...) OVER ()`
    * promotes to HUGEINT and `//` on HUGEINT loads as float64,
    * which byte-diverges from Spark's BIGINT `DIV` (802000.0 vs
    * 802000) despite equal values.
    */
  def clusterStats(spark: SparkSession, dir: String): DataFrame = {
    val hist = embeddingClusters(spark, dir)
      .groupBy("cluster_id").agg(count(lit(1)).as("size"))
      .groupBy("size").agg(count(lit(1)).as("n_clusters"))
    val all = org.apache.spark.sql.expressions.Window.partitionBy()
    hist
      .withColumn("total_docs",
        sum(col("size") * col("n_clusters")).over(all))
      .select(col("size"), col("n_clusters"),
        (col("size") * col("n_clusters")).as("n_docs"),
        ((col("size") - 1) * col("n_clusters")).as("dup_docs"),
        expr("size * n_clusters * 1000000 DIV total_docs").as("doc_ppm"),
        expr("(size - 1) * n_clusters * 1000000 DIV total_docs")
          .as("dup_ppm"))
  }

  def clusterStatsSql: String =
    s"""WITH RECURSIVE $clusterClosureCtes
      |, sizes AS (
      |  SELECT cluster_id, count(*)::BIGINT AS size FROM clusters GROUP BY 1
      |), hist AS (
      |  SELECT size, count(*)::BIGINT AS n_clusters FROM sizes GROUP BY 1
      |), t AS (
      |  SELECT *, sum(size * n_clusters) OVER () AS total_docs FROM hist
      |)
      |SELECT size, n_clusters, size * n_clusters AS n_docs,
      |  (size - 1) * n_clusters AS dup_docs,
      |  (size * n_clusters * 1000000 // total_docs)::BIGINT AS doc_ppm,
      |  ((size - 1) * n_clusters * 1000000 // total_docs)::BIGINT AS dup_ppm
      |FROM t ORDER BY size""".stripMargin

  /** Per-cluster CANONICAL-document selection joined back to the
    * corpus — the final dedup step after [[embeddingClusters]]: every
    * document maps to the surviving representative of its near-dup
    * cluster, chosen by CONTENT (most characters, ties → lowest
    * doc_id) rather than by arbitrary id, which is what a training
    * pipeline actually wants to keep. Singleton docs are their own
    * canonical. The output is the rewrite map a dedup pass applies:
    * `keep WHERE is_canonical`, or re-point references at
    * `canonical_id`.
    *
    * Scale shape: one window over `cluster_id` computes the winner
    * in-place (`first_value` over the ordered partition) — no second
    * join back, so the whole selection costs a single shuffle on the
    * cluster key after the component resolution.
    */
  def dedupCanonical(spark: SparkSession, dir: String): DataFrame =
    canonicalOf(embeddingClusters(spark, dir).select("vec_id", "cluster_id"),
      ncharsScore(spark, dir))

  /** Canonical selection weighted by the QUALITY score instead of raw
    * size — what a curation pass actually wants to keep from a
    * near-dup cluster is its best-written member, not its longest.
    * Same resolution and window; only the score signal differs.
    */
  def dedupCanonicalQuality(spark: SparkSession, dir: String): DataFrame =
    canonicalOf(embeddingClusters(spark, dir).select("vec_id", "cluster_id"),
      TextOps.qualityScore(spark, dir)
        .select(col("doc_id"), col("quality_score").as("score")))

  private def ncharsScore(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars").as("score"))

  /** The 100 TB canonical path: the SAME component resolution and
    * content selection as [[dedupCanonical]], with candidate pairs
    * from the [[embeddingDedupLsh]] buckets instead of the exact
    * all-pairs kernel — the pair-source swap the cluster scaladoc
    * promises, realized. LSH pairs ⊆ exact pairs, so LSH clusters
    * REFINE the exact clusters (each is contained in one exact
    * cluster — spec-asserted); missed pairs can split a cluster,
    * never merge two.
    */
  def dedupCanonicalLsh(spark: SparkSession, dir: String): DataFrame = {
    val pairs = embeddingPairsLshBase(spark, dir)
      .select(col("a_id").as("src"), col("b_id").as("dst"))
    val verts = Tables.embeddings(spark, dir).select(col("vec_id").as("id"))
    canonicalOf(connectedComponents(verts, pairs)
      .select(col("id").as("vec_id"), col("label").as("cluster_id")),
      ncharsScore(spark, dir))
  }

  /** Representative per cluster by a caller-chosen (doc_id, score)
    * signal (max score, ties → min id) via one first_value window —
    * shared by the exact/LSH cluster sources and the n_chars/quality
    * score signals.
    */
  private def canonicalOf(clusters: DataFrame,
      scores: DataFrame): DataFrame =
    canonicalOfBase(clusters, scores)

  /** Unordered selection kernel (the trailing ORDER BY on the driver
    * queries is output determinism only — [[updateCanonical]]'s union
    * leg would pay it for nothing). The score join is LEFT, not
    * inner: a member with no score row must stay IN the canonical
    * table (an inner join would silently drop it — in the streaming
    * fold that would let labels and canonical diverge for docs whose
    * score hasn't landed yet). Score-less members sort after scored
    * ones (`desc` is nulls-last), so they never win a mixed cluster
    * and an all-score-less cluster falls back to min id.
    */
  private def canonicalOfBase(clusters: DataFrame,
      scores: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("score").desc, col("vec_id"))
    clusters.join(scores, col("vec_id") === col("doc_id"), "left")
      .drop("doc_id")
      .withColumn("canonical_id", first("vec_id").over(w))
      .select(col("vec_id").as("doc_id"), col("cluster_id"),
        col("canonical_id"),
        (col("vec_id") === col("canonical_id")).as("is_canonical"))
  }

  /** DuckDB dual of [[dedupCanonical]]: the [[embeddingClustersSql]]
    * recursive closure, joined to `documents` for the content signal,
    * winner via the same first_value window.
    */
  /** Shared DuckDB `canon` CTE builder: the score-chosen canonical
    * per cluster over the `clusters` CTE of [[clusterClosureCtes]],
    * parameterized by the score join — ONE window definition for
    * [[dedupCanonicalSql]], [[dedupCanonicalQualitySql]], and
    * Curation's pipeline oracle so the selection cannot drift.
    */
  private[operators] def canonicalSelectionCteOn(joinTable: String,
      joinKey: String, scoreExpr: String): String =
    s"""canon AS (
      |  SELECT cl.vec_id, cl.cluster_id,
      |    first_value(cl.vec_id) OVER (PARTITION BY cl.cluster_id
      |      ORDER BY $scoreExpr DESC, cl.vec_id) AS canonical_id
      |  FROM clusters cl JOIN $joinTable ON $joinKey = cl.vec_id
      |)""".stripMargin

  private[operators] val canonicalSelectionCte: String =
    canonicalSelectionCteOn("documents dd", "dd.doc_id", "dd.n_chars")

  private val canonicalSelect: String =
    """SELECT vec_id AS doc_id, cluster_id, canonical_id,
      |  (vec_id = canonical_id) AS is_canonical
      |FROM canon ORDER BY doc_id""".stripMargin

  def dedupCanonicalSql: String =
    s"""WITH RECURSIVE $clusterClosureCtes, $canonicalSelectionCte
      |$canonicalSelect""".stripMargin

  def dedupCanonicalQualitySql: String =
    s"""WITH RECURSIVE $clusterClosureCtes, qs AS (
      |${TextOps.qualityScoreSelect}
      |), ${canonicalSelectionCteOn("qs", "qs.doc_id", "qs.quality_score")}
      |$canonicalSelect""".stripMargin

  def embeddingDedupSql: String =
    """WITH e AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v,
      |    sqrt(list_sum(list_transform(list_zip(embedding::DOUBLE[], embedding::DOUBLE[]),
      |      z -> z[1] * z[2]))) AS norm
      |  FROM embeddings
      |)
      |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
      |  round(list_sum(list_transform(list_zip(a.v, b.v), z -> z[1] * z[2]))
      |    / (a.norm * b.norm), 6) AS cosine
      |FROM e a JOIN e b ON a.vec_id < b.vec_id
      |WHERE list_sum(list_transform(list_zip(a.v, b.v), z -> z[1] * z[2]))
      |    / (a.norm * b.norm) >= 0.4
      |ORDER BY a_id, b_id""".stripMargin

  /** Cross-SOURCE near-dup overlap matrix — which feeds duplicate
    * each other. For every unordered source pair (diagonal included),
    * the number of near-dup DOC pairs whose members come from those
    * sources and the number of clusters carrying such a pair. This is
    * the observability surface a mixing stage reads before setting
    * domain weights: a source pair with heavy off-diagonal mass is
    * double-counting the same content, and a heavy diagonal means a
    * source is internally redundant beyond what its token share says.
    *
    * Pair counts are computed WITHOUT materializing pairs: cluster
    * membership aggregates to per-(cluster, source) counts first
    * (a table bounded by clusters × sources, ≪ corpus), and the pair
    * arithmetic — n·(n−1)/2 within a source, n_a·n_b across — runs on
    * those counts through one equi-join on the cluster id. At 100 TB
    * the only corpus-scale work is the component resolution this
    * composes (exact kernel here for the oracle; the LSH pair source
    * swaps in unchanged), and integer DIV keeps both engines in exact
    * BIGINT arithmetic.
    */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val pairs = embeddingPairsBase(spark, dir)
      .select(col("a_id").as("src"), col("b_id").as("dst"))
    val verts = Tables.embeddings(spark, dir).select(col("vec_id").as("id"))
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val mem = connectedComponents(verts, pairs)
      .join(docs, col("id") === col("doc_id"))
      .groupBy(col("label").as("cluster_id"), col("source"))
      .agg(count(lit(1)).as("n"))
    val a = mem.toDF("cluster_id", "source_a", "na")
    val b = mem.toDF("cluster_id", "source_b", "nb")
    a.join(b, Seq("cluster_id"))
      .filter(col("source_a") < col("source_b") ||
        (col("source_a") === col("source_b") && col("na") >= 2))
      .withColumn("pairs", when(col("source_a") === col("source_b"),
        expr("na * (na - 1) DIV 2")).otherwise(col("na") * col("nb")))
      .groupBy("source_a", "source_b")
      .agg(sum("pairs").as("n_pairs"), count(lit(1)).as("n_clusters"))
  }

  /** DuckDB dual of [[sourceOverlap]]: the shared recursive closure,
    * the same per-(cluster, source) count table and the same exact
    * integer pair arithmetic (`//` is DuckDB's integer DIV).
    */
  def sourceOverlapSql: String =
    s"""WITH RECURSIVE $clusterClosureCtes, mem AS (
      |  SELECT cl.cluster_id, d.source, count(*)::BIGINT AS n
      |  FROM clusters cl JOIN documents d ON d.doc_id = cl.vec_id
      |  GROUP BY 1, 2
      |)
      |SELECT a.source AS source_a, b.source AS source_b,
      |  sum(CASE WHEN a.source = b.source THEN (a.n * (a.n - 1)) // 2
      |      ELSE a.n * b.n END)::BIGINT AS n_pairs,
      |  count(*)::BIGINT AS n_clusters
      |FROM mem a JOIN mem b ON a.cluster_id = b.cluster_id
      | AND (a.source < b.source OR (a.source = b.source AND a.n >= 2))
      |GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin

  // ------------------------------------------------- cross-run bloom gate

  /** CROSS-RUN incremental dedup gate — how an ingest batch dedups
    * against a 100 TB STANDING corpus without joining it: the standing
    * tier's content fingerprints aggregate into a Bloom filter once
    * per compaction (mergeable, ~1.2 bytes/item at 1% fpp — a 10¹⁰-doc
    * corpus gates from ~12 GB of executor-broadcastable state), and
    * each batch row probes the broadcast filter. NO false negatives:
    * every true duplicate is flagged; false positives at rate ~fpp
    * route to the exact keyed join, which now sees only the flagged
    * sliver instead of batch × corpus. (The probe is the native
    * [[graft.functions.BloomMightContain]] expression — the gate
    * stays inside whole-stage codegen; Spark exposes no public
    * might_contain, so the engine ships its own.)
    *
    * The query slice overlaps standing (doc_id < 400) with a batch
    * (doc_id ≥ 350): docs 350-399 are true duplicates by fingerprint
    * and MUST flag; 400+ are fresh and flag only at ~fpp.
    */
  def bloomGate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), TextOps.fingerprintCol(col("text")).as("fingerprint"))
    bloomGateDocs(docs.filter(col("doc_id") < 400),
      docs.filter(col("doc_id") >= 350))
  }

  private[graft] def bloomGateDocs(standing: DataFrame, batch: DataFrame,
      fpp: Double = 0.01): DataFrame =
    batch
      .withColumn("candidate_dup",
        bloomHit(batch.sparkSession, fingerprintBloom(standing, fpp))(col("fingerprint")))
      .select("doc_id", "candidate_dup")

  /** TWO-TIER gate RESOLUTION — the query behind [[bloomGate]]'s
    * documented contract that false positives "route to the exact
    * join on the flagged sliver only": the Bloom flags candidates,
    * and ONLY flagged docs enter the exact fingerprint semi-join
    * against the standing tier; everything else short-circuits to
    * not-a-dup without touching the join. Because the Bloom has no
    * false negatives, the final `confirmed_dup` verdict equals a
    * direct exact-membership test with no Bloom at all — which is
    * exactly what the DuckDB oracle computes, so the hash-match
    * PROVES the pruning loses nothing. Scale shape: at a 10⁹-doc
    * standing tier the semi-join's probe side is |true dups| + ~fpp
    * of the fresh batch (the flagged sliver), never the whole batch;
    * the standing side shuffles once on the fingerprint key.
    */
  def gateResolve(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), TextOps.fingerprintCol(col("text")).as("fingerprint"))
    gateResolveDocs(docs.filter(col("doc_id") < 400),
      docs.filter(col("doc_id") >= 350))
  }

  private[graft] def gateResolveDocs(standing: DataFrame, batch: DataFrame,
      fpp: Double = 0.01): DataFrame = {
    val flagged = batch.withColumn("candidate_dup",
      bloomHit(batch.sparkSession, fingerprintBloom(standing, fpp))(col("fingerprint")))
    val confirmed = flagged.filter(col("candidate_dup"))
      .join(standing.select("fingerprint")
        .filter(col("fingerprint").isNotNull).distinct(),
        Seq("fingerprint"), "left_semi")
      .select(col("doc_id"), lit(true).as("hit"))
    flagged.select("doc_id")
      .join(confirmed, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("hit"), lit(false)).as("confirmed_dup"))
  }

  def gateResolveSql: String =
    """WITH fp AS (
      |  SELECT doc_id,
      |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
      |  FROM documents
      |), standing AS (
      |  SELECT DISTINCT fingerprint FROM fp
      |  WHERE doc_id < 400 AND fingerprint IS NOT NULL
      |)
      |SELECT b.doc_id,
      |  COALESCE(b.fingerprint IN (SELECT fingerprint FROM standing),
      |    FALSE) AS confirmed_dup
      |FROM fp b WHERE b.doc_id >= 350
      |ORDER BY b.doc_id""".stripMargin

  /** Build the standing tier's fingerprint Bloom filter — the
    * compaction-time artifact both the batch gate and the streaming
    * gate ([[graft.streaming.DocStream.dedupDocsStreamGated]]) probe.
    */
  private[graft] def fingerprintBloom(standing: DataFrame,
      fpp: Double = 0.01): org.apache.spark.util.sketch.BloomFilter = {
    // cached around the two actions (size count + filter aggregation)
    // so the build is one standing scan, not two; a deployment passes
    // the expected count from table stats and skips the count job.
    // Null fingerprints (null text) are excluded: stat.bloomFilter
    // NPEs on null values, and a null is never a member anyway —
    // matching the probe side, which returns false for null.
    val fps = standing.select("fingerprint")
      .filter(col("fingerprint").isNotNull).persist()
    try {
      val expected = math.max(fps.count(), 1L)
      fps.stat.bloomFilter("fingerprint", expected, fpp)
    } finally fps.unpersist(): Unit
  }

  /** The broadcast membership probe as a column function — the
    * native codegen'd [[graft.functions.BloomMightContain]]
    * expression (null fingerprint → false, never null).
    */
  private[graft] def bloomHit(spark: SparkSession,
      bloom: org.apache.spark.util.sketch.BloomFilter): Column => Column =
    graft.functions.BloomMightContain.bloom_might_contain(spark, bloom)

  // --------------------------------------------- cross-run near-dup gate

  /** CROSS-RUN NEAR-dup gate — the MinHash tier of the standing-corpus
    * story. [[bloomGate]] catches exact re-deliveries by content
    * fingerprint; an EDITED copy (boilerplate variant, near-dup) never
    * shares a fingerprint but does share LSH band buckets. At
    * compaction the standing tier's 16 band keys per doc ("band:
    * bucket" over the SAME [[bandBuckets]] the batch LSH join hashes)
    * aggregate into a Bloom; an arriving doc computes its own 16 keys
    * and probes all of them as an OR of 16 codegen'd
    * [[graft.functions.BloomMightContain]] probes (static columns, not
    * a HOF — the whole gate stays inside whole-stage codegen and
    * short-circuits on the first hit).
    *
    * NO false negatives vs the batch candidate rule, by construction:
    * any doc the LSH join would pair with the standing corpus shares a
    * band key, and Bloom membership never misses. False positives
    * compound across the 16 probes (≈ 1-(1-fpp)^16), so the default
    * fpp is 0.001 (≈ 1.6% flag rate on genuinely fresh docs); flagged
    * docs route to the exact band equi-join against the standing tier
    * — batch × corpus work shrinks to the flagged sliver, the same
    * two-tier layout as the exact gate. Sizing: 16 keys/doc ≈ 29
    * bytes/doc at 0.001 — a 10⁹-doc standing tier gates from ~29 GB,
    * shardable by band if one broadcast is too big.
    *
    * Query slice mirrors [[bloomGate]]: standing = doc_id < 400,
    * batch = doc_id ≥ 350 — 350-399 share ALL bands with themselves
    * and must flag; 400+ flag only if they genuinely near-dup the
    * standing corpus (or at ~compound-fpp).
    */
  def nearDupGate(spark: SparkSession, dir: String): DataFrame = {
    val sigs = signatures(spark, dir)
    nearDupGateDocs(sigs.filter(col("doc_id") < 400),
      sigs.filter(col("doc_id") >= 350))
  }

  /** CERTAINTY CHECK over the cross-run near-dup gate (round-11
    * partial-oracle tier): the band Bloom's ONE hard guarantee is no
    * false negatives — a batch doc whose band keys are all in the
    * standing tier MUST flag. Two certain populations, both
    * oracle-recomputable from raw documents: the overlap region
    * (350 ≤ doc_id < 400 sits in BOTH tiers, so its own keys are in
    * the Bloom) and batch docs whose text equals any standing doc's
    * (identical text → identical signature → identical band keys).
    * Exact legs: batch mass, overlap mass, text-overlap mass; the
    * two flag booleans vs TRUE. A banding, Bloom-build, or probe
    * regression that loses even one certain hit breaks the hash.
    */
  def nearDupGateCheck(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val standingText = docs.filter(col("doc_id") < 400)
      .select(col("text")).distinct().withColumn("in_standing", lit(1))
    val flagged = nearDupGate(spark, dir)
      .join(docs, Seq("doc_id"))
      .join(broadcast(standingText), Seq("text"), "left")
    flagged.agg(
      count(lit(1)).as("n_batch"),
      coalesce(sum(when(col("doc_id") < 400, 1L).otherwise(0L)), lit(0L))
        .as("n_overlap"),
      coalesce(expr(
        "bool_and(doc_id >= 400 OR candidate_near_dup)"), lit(true))
        .as("overlap_flagged_ok"),
      coalesce(sum(when(col("in_standing").isNotNull, 1L).otherwise(0L)),
        lit(0L)).as("n_standing_text"),
      coalesce(expr(
        "bool_and(in_standing IS NULL OR candidate_near_dup)"), lit(true))
        .as("standing_text_flagged_ok"))
  }

  def nearDupGateCheckSql: String =
    """SELECT
      |  (SELECT count(*) FROM documents WHERE doc_id >= 350)::BIGINT
      |    AS n_batch,
      |  (SELECT count(*) FROM documents
      |   WHERE doc_id >= 350 AND doc_id < 400)::BIGINT AS n_overlap,
      |  true AS overlap_flagged_ok,
      |  (SELECT count(*) FROM documents b WHERE b.doc_id >= 350
      |   AND EXISTS (SELECT 1 FROM documents s
      |               WHERE s.doc_id < 400 AND s.text = b.text))::BIGINT
      |    AS n_standing_text,
      |  true AS standing_text_flagged_ok""".stripMargin

  private[graft] def nearDupGateDocs(standing: DataFrame, batch: DataFrame,
      fpp: Double = 0.001): DataFrame = {
    val hit = bandKeyHit(batch.sparkSession, bandBloom(standing, fpp))
    batch
      .withColumn("candidate_near_dup", hit(col("sig")))
      .select("doc_id", "candidate_near_dup")
  }

  /** Build the standing tier's band-key Bloom — the compaction
    * artifact the batch and streaming near-dup gates probe.
    */
  private[graft] def bandBloom(standing: DataFrame,
      fpp: Double = 0.001): org.apache.spark.util.sketch.BloomFilter = {
    val keys = standing
      .select(explode(array(bandKeyCols(col("sig")): _*)).as("band_key"))
      .filter(col("band_key").isNotNull).persist()
    try {
      val expected = math.max(keys.count(), 1L)
      keys.stat.bloomFilter("band_key", expected, fpp)
    } finally keys.unpersist(): Unit
  }

  /** The 16 band keys as STRING columns ("band:bucket" — the Bloom
    * stores strings so the probe reuses the native expression
    * unchanged). Null signature (null text) → null keys, excluded on
    * build, false on probe — same null contract as the exact gate.
    */
  private def bandKeyCols(sig: Column): Seq[Column] =
    bandBuckets(sig).zipWithIndex.map { case (b, j) =>
      // xxhash64 hashes PAST nulls (returns the seed hash), so a null
      // signature must null its keys explicitly or every null-text
      // doc would share one constant key set and cross-flag
      when(sig.isNull, lit(null)).otherwise(concat_ws(":", lit(j), b))
    }

  /** The OR-of-16-probes membership test over a signature column. */
  private[graft] def bandKeyHit(spark: SparkSession,
      bloom: org.apache.spark.util.sketch.BloomFilter): Column => Column = {
    val probe = graft.functions.BloomMightContain
      .fromBroadcast(spark.sparkContext.broadcast(bloom))
    sig => bandKeyCols(sig).map(probe).reduce(_ || _)
  }

  /** Per-BAND sharded variant of [[bandBloom]] — the deployment shape
    * when one monolithic band Bloom outgrows a comfortable broadcast
    * (~29 GB at 10⁹ docs): 16 independent Blooms, one per band, each
    * 1/16th the size, built in ONE corpus pass (every partition fills
    * a 16-Bloom array, arrays tree-merge — BloomFilter is mergeable,
    * the same property compaction relies on). Beyond the smaller
    * broadcast ceiling, bands now COMPACT INDEPENDENTLY: a rolling
    * corpus rebuilds one band's Bloom at a time instead of the whole
    * sketch, and executors under memory pressure evict per band.
    * Probe side is the same OR of 16 native probes, each against its
    * own band's filter; per-band fpp and the compound flag rate are
    * unchanged, so the gate's contract (no false negatives, ~1.6%
    * compound fp) carries over verbatim — spec asserts the sharded
    * gate flags every band-collision doc exactly like the monolith.
    */
  private[graft] def bandBloomsSharded(standing: DataFrame,
      fpp: Double = 0.001, capacity: Long = 0L): Array[org.apache.spark.util.sketch.BloomFilter] = {
    import org.apache.spark.util.sketch.BloomFilter
    val keys = standing.filter(col("sig").isNotNull)
      .select(array(bandKeyCols(col("sig")): _*).as("ks")).persist()
    try {
      // a caller-fixed capacity keeps every build's bit size identical
      // (mergeInPlace requires it — the rolling gate unions epochs)
      val expected =
        if (capacity > 0L) capacity else math.max(keys.count(), 1L) // one key per doc per band
      keys.rdd.mapPartitions { iter =>
        val bs = Array.fill(NumBands)(BloomFilter.create(expected, fpp))
        iter.foreach { row =>
          val ks = row.getSeq[String](0)
          var j = 0
          while (j < NumBands) { bs(j).putString(ks(j)); j += 1 }
        }
        Iterator.single(bs)
      }.treeReduce { (a, b) =>
        var j = 0
        while (j < NumBands) { a(j).mergeInPlace(b(j)); j += 1 }
        a
      }
    } finally keys.unpersist(): Unit
  }

  /** The sharded-gate probe: band j's key checks band j's Bloom.
    * Broadcasts every filter ONCE PER CALL — one-shot batch use; a
    * loop that probes a long-lived gate should hold the handles and
    * use [[bandKeyHitBroadcast]] (see
    * [[graft.functions.BloomMightContain.fromBroadcast]]'s contract).
    */
  private[graft] def bandKeyHitSharded(spark: SparkSession,
      blooms: Array[org.apache.spark.util.sketch.BloomFilter]): Column => Column =
    bandKeyHitBroadcast(blooms.map(spark.sparkContext.broadcast(_)))

  /** The sharded-gate probe over CALLER-OWNED broadcast handles — the
    * reuse path for long-lived gates: broadcast each serving array
    * once per rotation, probe any number of batches, `destroy()` the
    * previous handles on swap so evicted multi-GB sketches leave the
    * executors (the rolling probe streams do exactly this).
    */
  private[graft] def bandKeyHitBroadcast(
      bcs: Array[org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter]]): Column => Column = {
    require(bcs.length == NumBands, s"expected $NumBands band blooms")
    val probes = bcs.map(graft.functions.BloomMightContain.fromBroadcast)
    sig => bandKeyCols(sig).zip(probes).map { case (k, p) => p(k) }
      .reduce(_ || _)
  }

  /** TTL'd ROLLING band gate — the eviction story a WINDOWED standing
    * corpus needs (dedup against "the last K days", not all history):
    * a monolithic Bloom can only grow, so expiry is impossible once
    * keys are folded in. The rolling gate keeps one per-epoch array
    * of sharded band Blooms (all built at the SAME fixed capacity so
    * their bit layouts merge) and derives the SERVING array — the
    * band-wise union of the retained epochs — whenever an epoch
    * rotates in: appending epoch N evicts epochs ≤ N − window in O(1)
    * (drop the array — nothing is rebuilt) and re-unions K small
    * filters (a bitwise OR, corpus never rescanned). Probing is the
    * unchanged [[bandKeyHitSharded]] against `serving`: ONE probe per
    * band regardless of window size, same no-false-negative contract
    * within the window; docs only seen in evicted epochs stop
    * flagging (down to the compound fpp). Per-epoch filters are
    * cloned before the union so rotation never corrupts them
    * (mergeInPlace mutates its receiver) — spec-asserted by rotating
    * twice and re-probing.
    */
  case class RollingBandGate(windowEpochs: Int, capacity: Long,
      fpp: Double, epochs: Vector[(Long, Array[org.apache.spark.util.sketch.BloomFilter])],
      serving: Array[org.apache.spark.util.sketch.BloomFilter])

  private[graft] def emptyRollingGate(windowEpochs: Int, capacity: Long,
      fpp: Double = 0.001): RollingBandGate = {
    require(windowEpochs >= 1 && capacity > 0L,
      "rolling gate needs a window and a fixed per-epoch capacity")
    RollingBandGate(windowEpochs, capacity, fpp, Vector.empty,
      Array.fill(NumBands)(
        org.apache.spark.util.sketch.BloomFilter.create(capacity, fpp)))
  }

  private def cloneBloom(b: org.apache.spark.util.sketch.BloomFilter): org.apache.spark.util.sketch.BloomFilter = {
    val bos = new java.io.ByteArrayOutputStream()
    b.writeTo(bos)
    org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(bos.toByteArray))
  }

  /** Band-wise union of the retained epochs, from CLONES (mergeInPlace
    * mutates its receiver — sharing bits with a stored epoch would
    * corrupt it on the next rotation). The one derivation rule for the
    * serving array, shared by rotation and [[loadRollingGate]] so a
    * loaded gate cannot serve differently than the gate that was
    * saved.
    */
  private def servingUnion(
      epochs: Vector[(Long, Array[org.apache.spark.util.sketch.BloomFilter])],
      capacity: Long, fpp: Double): Array[org.apache.spark.util.sketch.BloomFilter] =
    if (epochs.isEmpty)
      Array.fill(NumBands)(
        org.apache.spark.util.sketch.BloomFilter.create(capacity, fpp))
    else {
      val s = epochs.head._2.map(cloneBloom)
      epochs.tail.foreach { case (_, bs) =>
        var j = 0
        while (j < NumBands) { s(j).mergeInPlace(bs(j)); j += 1 }
      }
      s
    }

  /** Rotate `epochId`'s corpus slice into the gate: build its sharded
    * band Blooms (one corpus pass), evict epochs that fall out of the
    * window, re-derive the serving union from clones.
    */
  private[graft] def rollingGateAppend(gate: RollingBandGate,
      standingSlice: DataFrame, epochId: Long): RollingBandGate = {
    require(gate.epochs.forall(_._1 < epochId),
      s"epoch ids must be appended in increasing order (got $epochId)")
    val fresh = bandBloomsSharded(standingSlice, gate.fpp, gate.capacity)
    val retained = (gate.epochs :+ (epochId -> fresh))
      .takeRight(gate.windowEpochs)
    gate.copy(epochs = retained,
      serving = servingUnion(retained, gate.capacity, gate.fpp))
  }

  /** The EXACT-dedup dual of [[RollingBandGate]] — the [[bloomGate]]
    * fingerprint tier against a SLIDING standing window: one
    * fingerprint key per doc instead of 16 band keys, same
    * fixed-capacity per-epoch filters (bit layouts must merge), same
    * O(1) eviction + clone-union rotation. Probe with the unchanged
    * [[bloomHit]] on `serving`; an exact re-delivery flags while its
    * epoch is retained and decays to the single-probe fpp once
    * evicted. Together with [[RollingBandGate]] the two-tier
    * standing-corpus story (exact + near-dup) rolls as a pair.
    */
  case class RollingExactGate(windowEpochs: Int, capacity: Long,
      fpp: Double,
      epochs: Vector[(Long, org.apache.spark.util.sketch.BloomFilter)],
      serving: org.apache.spark.util.sketch.BloomFilter)

  private[graft] def emptyRollingExactGate(windowEpochs: Int,
      capacity: Long, fpp: Double = 0.01): RollingExactGate = {
    require(windowEpochs >= 1 && capacity > 0L,
      "rolling gate needs a window and a fixed per-epoch capacity")
    RollingExactGate(windowEpochs, capacity, fpp, Vector.empty,
      org.apache.spark.util.sketch.BloomFilter.create(capacity, fpp))
  }

  /** Rotate `epochId`'s fingerprinted slice (a `fingerprint` column,
    * nulls excluded like [[fingerprintBloom]]) into the exact gate.
    */
  private[graft] def rollingExactGateAppend(gate: RollingExactGate,
      standingSlice: DataFrame, epochId: Long): RollingExactGate = {
    require(gate.epochs.forall(_._1 < epochId),
      s"epoch ids must be appended in increasing order (got $epochId)")
    val fresh = standingSlice.select("fingerprint")
      .filter(col("fingerprint").isNotNull)
      .stat.bloomFilter("fingerprint", gate.capacity, gate.fpp)
    val retained = (gate.epochs :+ (epochId -> fresh))
      .takeRight(gate.windowEpochs)
    gate.copy(epochs = retained,
      serving = exactServingUnion(retained, gate.capacity, gate.fpp))
  }

  /** [[servingUnion]]'s single-filter dual for the exact gate. */
  private def exactServingUnion(
      epochs: Vector[(Long, org.apache.spark.util.sketch.BloomFilter)],
      capacity: Long, fpp: Double): org.apache.spark.util.sketch.BloomFilter =
    if (epochs.isEmpty)
      org.apache.spark.util.sketch.BloomFilter.create(capacity, fpp)
    else {
      val s = cloneBloom(epochs.head._2)
      epochs.tail.foreach { case (_, b) => s.mergeInPlace(b): Unit }
      s
    }

  // ---------------------------------------------- rolling gate durability

  private def bloomBytes(
      b: org.apache.spark.util.sketch.BloomFilter): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    b.writeTo(bos)
    bos.toByteArray
  }

  private def bloomFrom(bytes: Array[Byte]): org.apache.spark.util.sketch.BloomFilter =
    org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(bytes))

  /** Persist the rolling band gate under the unified
    * [[IndexManifest]] — the durability leg the gate tier was missing:
    * every other standing artifact (ANN indexes, model registries,
    * classifier, cluster state) survives a session restart via
    * save/load + `initial`, while a gate died with the driver and a
    * restarted maintenance loop had to rebuild every retained epoch
    * from its lake slice (a window-wide rescan) before it could serve.
    *
    * Layout: one `epochs` parquet part of (epoch_id, band,
    * bits BINARY) rows — one row per band per retained epoch, so a
    * cell holds one per-band filter (1/16 of an epoch's state), not
    * the whole gate. The SERVING array is deliberately NOT persisted:
    * it is derived state, rebuilt at load through the same
    * [[servingUnion]] rotation uses — persisting it would admit a
    * save that serves differently than its epochs say. Gate params
    * ride in the manifest; fixed capacity is what makes the reloaded
    * bit layouts merge with future epochs' filters.
    *
    * Driver-memory shape: the row set is exactly the gate state the
    * driver already holds (window × 16 filters), the same order as
    * the broadcast every probe pays — no new scale ceiling.
    */
  def saveRollingGate(spark: SparkSession, gate: RollingBandGate,
      path: String): Unit = {
    import spark.implicits._
    gate.epochs.flatMap { case (eid, bs) =>
      bs.zipWithIndex.map { case (b, j) => (eid, j, bloomBytes(b)) }
    }.toDF("epoch_id", "band", "bits")
      .repartition(1).write.mode("overwrite").parquet(s"$path/epochs")
    IndexManifest.write(spark, path, "rolling_band_gate", Seq("epochs"),
      Map("window_epochs" -> gate.windowEpochs.toString,
        "capacity" -> gate.capacity.toString,
        "fpp" -> gate.fpp.toString,
        "num_bands" -> NumBands.toString))
  }

  /** Load a [[saveRollingGate]] artifact: manifest-validated (family,
    * parts, schema hashes, band-count param), epochs reassembled in
    * id order with every band present, serving re-derived. The gate
    * family postdates the manifest, so unlike the legacy-readable
    * index loaders a missing manifest here is always corruption.
    */
  def loadRollingGate(spark: SparkSession, path: String): RollingBandGate = {
    val params = IndexManifest
      .validate(spark, path, "rolling_band_gate", Seq("epochs"))
      .getOrElse(throw new IllegalArgumentException(
        s"no gate manifest at $path"))
    require(params.get("num_bands").contains(NumBands.toString),
      s"gate at $path was sharded into ${params.get("num_bands")} bands, " +
        s"this build probes $NumBands")
    val rows = spark.read.parquet(s"$path/epochs").collect()
    val epochs = rows.groupBy(_.getLong(0)).toVector.sortBy(_._1)
      .map { case (eid, rs) =>
        val byBand = rs.map(r => r.getInt(1) -> bloomFrom(r.getAs[Array[Byte]](2))).toMap
        require(byBand.keySet == (0 until NumBands).toSet,
          s"gate at $path: epoch $eid is missing bands")
        eid -> Array.tabulate(NumBands)(byBand)
      }
    val windowEpochs = params("window_epochs").toInt
    val capacity = params("capacity").toLong
    val fpp = params("fpp").toDouble
    require(epochs.size <= windowEpochs,
      s"gate at $path retains ${epochs.size} epochs > window $windowEpochs")
    RollingBandGate(windowEpochs, capacity, fpp, epochs,
      servingUnion(epochs, capacity, fpp))
  }

  /** [[saveRollingGate]]'s exact-fingerprint dual: one filter per
    * epoch (band fixed at 0 in the shared layout), same manifest
    * discipline, serving re-derived at load.
    */
  def saveRollingExactGate(spark: SparkSession, gate: RollingExactGate,
      path: String): Unit = {
    import spark.implicits._
    gate.epochs.map { case (eid, b) => (eid, 0, bloomBytes(b)) }
      .toDF("epoch_id", "band", "bits")
      .repartition(1).write.mode("overwrite").parquet(s"$path/epochs")
    IndexManifest.write(spark, path, "rolling_exact_gate", Seq("epochs"),
      Map("window_epochs" -> gate.windowEpochs.toString,
        "capacity" -> gate.capacity.toString,
        "fpp" -> gate.fpp.toString))
  }

  def loadRollingExactGate(spark: SparkSession,
      path: String): RollingExactGate = {
    val params = IndexManifest
      .validate(spark, path, "rolling_exact_gate", Seq("epochs"))
      .getOrElse(throw new IllegalArgumentException(
        s"no gate manifest at $path"))
    val epochs = spark.read.parquet(s"$path/epochs").collect()
      .map(r => r.getLong(0) -> bloomFrom(r.getAs[Array[Byte]](2)))
      .toVector.sortBy(_._1)
    val windowEpochs = params("window_epochs").toInt
    val capacity = params("capacity").toLong
    val fpp = params("fpp").toDouble
    require(epochs.size <= windowEpochs,
      s"gate at $path retains ${epochs.size} epochs > window $windowEpochs")
    RollingExactGate(windowEpochs, capacity, fpp, epochs,
      exactServingUnion(epochs, capacity, fpp))
  }
}
