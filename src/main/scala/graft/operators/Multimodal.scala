package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: treat image/audio/video payloads as
  * opaque `binary` columns with typed metadata, decoded per partition
  * in batches.
  *
  * The decode step is a clearly-marked deterministic STUB (no image/
  * audio codecs exist in this environment); everything around it —
  * binary column construction, schema, partition-batch iteration, the
  * metadata contract — is real and is exactly what a decoder UDF
  * would plug into. At scale this is the `mapPartitions` shape that
  * amortizes model/codec init per partition rather than per row.
  */
object Multimodal {

  private val metaSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("modality", StringType),
    StructField("n_bytes", LongType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("n_frames", IntegerType)))

  /** The stub's modality assignment as a Column — the ONE definition
    * [[graft.operators.Curation.modalBatches]] shares with
    * [[decodeStub]] and [[multimodalMetaSql]], so a batching plan can
    * never label payloads under a stale modality rule.
    */
  private[graft] def modalityOf(docId: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    element_at(array(lit("image"), lit("audio"), lit("video")),
      (docId % 3 + 1).cast("int"))

  /** STUB decoder: derives deterministic metadata from the payload
    * bytes. A real implementation would parse the container header
    * (JPEG SOF / WAV fmt / MP4 moov) right here — per-partition, so
    * codec state is initialized once per task, not per row.
    */
  private def decodeStub(docId: Long, payload: Array[Byte]): (String, Int, Int, Int) = {
    val n = payload.length
    val modality = (docId % 3) match {
      case 0 => "image"
      case 1 => "audio"
      case _ => "video"
    }
    (modality, 64 + n % 640, 64 + (n * 7) % 480, 1 + (docId % 24).toInt)
  }

  /** Binary payload column + per-partition stub decode → typed
    * metadata rows.
    */
  def multimodalMeta(spark: SparkSession, dir: String): DataFrame = {
    val withBlob = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    val rdd = withBlob.rdd.mapPartitions { it =>
      // per-partition init happens here (codec/model handles)
      it.map { r =>
        val docId = r.getLong(0)
        val payload = r.getAs[Array[Byte]](1)
        val (modality, w, h, frames) = decodeStub(docId, payload)
        Row(docId, modality, payload.length.toLong, w, h, frames)
      }
    }
    spark.createDataFrame(rdd, metaSchema)
  }

  /** The stub derives metadata deterministically from byte length and
    * doc_id, so the plumbing is oracle-checkable end-to-end.
    */
  def multimodalMetaSql: String =
    """SELECT doc_id,
      |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
      |    ELSE 'video' END AS modality,
      |  octet_length(encode(text))::BIGINT AS n_bytes,
      |  (64 + octet_length(encode(text)) % 640)::INT AS width,
      |  (64 + (octet_length(encode(text)) * 7) % 480)::INT AS height,
      |  (1 + doc_id % 24)::INT AS n_frames
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Frame sampling + resize planning for video payloads: every 4th
    * frame index, with output dimensions fitted into a 224-box
    * preserving aspect ratio (integer arithmetic — identical on both
    * engines). The explode is narrow (no shuffle); at 100 TB each
    * video row fans out to its sampled frames in place and the actual
    * pixel resample would plug into the per-partition decode stage.
    */
  def frameSample(spark: SparkSession, dir: String): DataFrame =
    multimodalMeta(spark, dir)
      .filter(col("modality") === "video")
      .withColumn("frame_idx",
        explode(sequence(lit(0), col("n_frames") - 1, lit(4))))
      .select(col("doc_id"), col("frame_idx"), col("width"), col("height"),
        expr("width * 224 div greatest(width, height)").as("out_w"),
        expr("height * 224 div greatest(width, height)").as("out_h"))

  def frameSampleSql: String =
    """WITH m AS (
      |  SELECT doc_id,
      |    (64 + octet_length(encode(text)) % 640)::INT AS width,
      |    (64 + (octet_length(encode(text)) * 7) % 480)::INT AS height,
      |    (1 + doc_id % 24)::INT AS n_frames
      |  FROM documents
      |  WHERE doc_id % 3 = 2)
      |SELECT doc_id, unnest(range(0, n_frames, 4)) AS frame_idx,
      |  width, height,
      |  (width * 224 // greatest(width, height))::BIGINT AS out_w,
      |  (height * 224 // greatest(width, height))::BIGINT AS out_h
      |FROM m ORDER BY doc_id, frame_idx""".stripMargin

  /** PAYLOAD DEDUP REPORT — exact binary dedup over the opaque
    * payload column, per modality: payloads fingerprint by md5 of
    * their BYTES (content-addressed, the blob-store key — identical
    * hex on both engines over the UTF-8 stub payloads), and the
    * report shows what a dedup pass would reclaim: distinct
    * payloads, duplicate count, total vs duplicated bytes. Exact
    * integer arithmetic end to end — no float anywhere.
    *
    * Scale shape: fingerprints collapse map-side into a
    * (modality, fp)-keyed aggregate (shuffle = distinct payloads,
    * never bytes — the payload column itself stays in the scan),
    * then 3 modality rows.
    */
  def modalDedup(spark: SparkSession, dir: String): DataFrame =
    modalDedupDocs(Tables.documents(spark, dir))

  private[graft] def modalDedupDocs(docs: DataFrame): DataFrame =
    docs
      .select(modalityOf(col("doc_id")).as("modality"),
        md5(col("text").cast("binary")).as("fp"),
        length(col("text").cast("binary")).cast("long").as("n_bytes"))
      .groupBy("modality", "fp")
      .agg(count(lit(1)).as("cnt"), min("n_bytes").as("bytes"))
      .groupBy("modality")
      .agg(sum("cnt").as("n_payloads"),
        count(lit(1)).as("n_distinct"),
        sum(col("cnt") - 1).as("n_dupes"),
        sum(col("cnt") * col("bytes")).as("bytes_total"),
        sum((col("cnt") - 1) * col("bytes")).as("bytes_dupe"))

  def modalDedupSql: String =
    """WITH f AS (
      |  SELECT CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
      |    ELSE 'video' END AS modality,
      |    md5(text) AS fp,
      |    octet_length(encode(text))::BIGINT AS n_bytes
      |  FROM documents
      |), g AS (
      |  SELECT modality, fp, count(*) AS cnt, min(n_bytes) AS bytes
      |  FROM f GROUP BY 1, 2
      |)
      |SELECT modality, sum(cnt)::BIGINT AS n_payloads,
      |  count(*)::BIGINT AS n_distinct,
      |  sum(cnt - 1)::BIGINT AS n_dupes,
      |  sum(cnt * bytes)::BIGINT AS bytes_total,
      |  sum((cnt - 1) * bytes)::BIGINT AS bytes_dupe
      |FROM g GROUP BY 1 ORDER BY modality""".stripMargin

  /** Byte-shingle width for the perceptual fingerprint: 8-byte
    * sliding windows over the payload — long enough that a shingle
    * carries local structure, short enough that a small re-encode
    * perturbs only the shingles it touches.
    */
  private[graft] val ModalShingle = 8

  /** Verified-pair Hamming ceiling for [[modalDedupNear]] — the
    * [[graft.operators.Dedup.simhashDedup]] threshold: 16-bit-chunk
    * banding guarantees recall through hamming 3, verification keeps
    * pairs through 8.
    */
  private[graft] val ModalHammingMax = 8

  /** Per-payload PERCEPTUAL fingerprint: 64-bit SimHash over the
    * payload's byte [[ModalShingle]]-grams, composed entirely from
    * the existing native kernels ([[graft.functions.CharNgrams]] →
    * [[graft.functions.SimHash64]] — zero new expressions). The stub
    * payload is the UTF-8 text, so char n-grams ARE its byte
    * shingles; a real decoder would feed the same two kernels the
    * canonicalized media bytes (luminance plane / PCM samples) from
    * the per-partition decode stage, which is exactly what makes the
    * fingerprint survive a re-encode: most byte windows are
    * unchanged, so most bit votes agree and the Hamming distance
    * stays small where exact md5 ([[modalDedup]]) sees a brand-new
    * payload.
    */
  private[graft] def modalFingerprints(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      modalityOf(col("doc_id")).as("modality"),
      pfpCol(col("text")).as("pfp"))

  /** PERCEPTUAL NEAR-DUP pairs per modality — the family
    * [[modalDedup]]'s exact content-address cannot see: a re-encoded,
    * resized, or re-muxed payload changes every byte of the container
    * (new md5) while leaving most local byte structure intact (small
    * SimHash Hamming distance). Candidates collide on ≥1 of four
    * 16-bit fingerprint chunks WITHIN a modality (the
    * [[graft.operators.Dedup.simhashDedup]] banded-Hamming idiom —
    * never an all-pairs compare; cross-modality pairs are
    * meaningless and never generated), then verify by exact
    * bit_count(xor) ≤ [[ModalHammingMax]].
    *
    * Scale shape: one narrow fingerprint projection (native
    * single-pass expressions, payload bytes never shuffle), a
    * (modality, chunk_idx, chunk)-keyed equi-join on 64-bit codes,
    * pair dedup, one integer xor/bit_count per surviving candidate.
    * Certainty half hash-graded by [[modalDedupNearGate]]; the
    * near-dup half is corpus-shaped by design (same grading tier as
    * q_dedup_simhash).
    */
  def modalDedupNear(spark: SparkSession, dir: String): DataFrame =
    modalDedupNearDocs(Curation.fanDocs(Tables.documents(spark, dir)))

  private[graft] def modalDedupNearDocs(docs: DataFrame): DataFrame =
    modalNearPairsBase(docs)

  /** Unordered pair kernel for internal composition — the trailing
    * ORDER BY on [[modalDedupNearDocs]] is driver determinism only
    * and would cost a useless global sort under the cluster
    * resolution (the [[graft.operators.Dedup.embeddingPairsBase]]
    * idiom).
    */
  private[graft] def modalNearPairsBase(docs: DataFrame): DataFrame = {
    val fp = modalFingerprints(docs)
    val chunked = fp.select(col("modality"), col("doc_id"), col("pfp"),
      posexplode(array((0 until 4).map { j =>
        shiftrightunsigned(col("pfp"), 16 * j).bitwiseAND(lit(0xFFFFL))
      }: _*)).as(Seq("chunk_idx", "chunk")))
    chunked.as("a")
      .join(chunked.toDF("b_modality", "b_doc_id", "b_pfp", "b_chunk_idx",
          "b_chunk").as("b"),
        col("modality") === col("b_modality")
          && col("chunk_idx") === col("b_chunk_idx")
          && col("chunk") === col("b_chunk")
          && col("doc_id") < col("b_doc_id"))
      .select(col("modality"), col("doc_id").as("doc_a"),
        col("b_doc_id").as("doc_b"),
        bit_count(col("pfp").bitwiseXOR(col("b_pfp"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= ModalHammingMax)
  }

  /** GUARANTEED-RECALL gate over [[modalDedupNear]] (the
    * [[graft.operators.Dedup.simhashRecount]] pattern applied per
    * modality): perceptual recall on near-dups is corpus-shaped, but
    * on IDENTICAL payloads it is certain — identical bytes give
    * identical shingles, identical SimHash, hamming 0, and a
    * guaranteed collision in all four chunks. The oracle recomputes
    * the per-modality identical-payload pair mass (Σ k(k−1)/2 over
    * (modality, payload) groups) from the raw corpus; the boolean
    * columns carry the Spark-side certainty properties against TRUE
    * literals, so a banding/fingerprint regression that loses even
    * one exact duplicate breaks the driver hash. All three modality
    * rows always emit (zero masses where a modality has no dups), so
    * the gate is schema-stable on any corpus.
    */
  def modalDedupNearGate(spark: SparkSession, dir: String): DataFrame =
    modalDedupNearGateDocs(spark, Curation.fanDocs(Tables.documents(spark, dir)))

  private[graft] def modalDedupNearGateDocs(spark: SparkSession,
      docs: DataFrame): DataFrame = {
    import spark.implicits._
    val t = docs
      .select(modalityOf(col("doc_id")).as("modality"), col("doc_id"),
        col("text"))
    val exact = t.as("a")
      .join(t.toDF("b_modality", "b_id", "b_text").as("b"),
        col("modality") === col("b_modality")
          && col("text") === col("b_text") && col("doc_id") < col("b_id"))
      .select(col("modality"), col("doc_id").as("doc_a"),
        col("b_id").as("doc_b"))
    val per = exact
      .join(modalNearPairsBase(docs), Seq("modality", "doc_a", "doc_b"),
        "left")
      .groupBy("modality")
      .agg(count(lit(1)).as("n"),
        expr("bool_and(hamming IS NOT NULL)").as("f"),
        expr("bool_and(hamming = 0)").as("z"))
    Seq("audio", "image", "video").toDF("modality")
      .join(per, Seq("modality"), "left")
      .select(col("modality"),
        coalesce(col("n"), lit(0L)).as("n_exact_dup_pairs"),
        coalesce(col("f"), lit(true)).as("all_exact_dups_flagged"),
        coalesce(col("z"), lit(true)).as("exact_dups_hamming_zero"))
  }

  /** NEAR-DUP CLUSTER RESOLUTION + canonical selection for the
    * perceptual family — pairs alone don't dedup a corpus (similarity
    * is not transitive at the candidate level: A~B and B~C must
    * collapse into ONE cluster even when (A, C) never surfaced), so
    * this resolves the [[modalDedupNear]] pair graph to connected
    * components (pairs are within-modality by construction, so
    * components can never span modalities) and picks each cluster's
    * canonical by LARGEST payload (bytes desc, doc_id ties) — a
    * re-encode almost always shrinks, so max-bytes keeps the
    * highest-fidelity original where the text tier's quality score
    * has no analog. Output: one row per document with its cluster,
    * canonical, and the keep bit — the `keep WHERE is_canonical`
    * surface a multimodal corpus build filters on.
    *
    * Scale shape: the component resolution is the shared
    * [[graft.operators.Dedup.connectedComponents]] engine (driver
    * union-find under the edge cap, O(log n) distributed rounds
    * above it) over the near-dup pair graph — a vanishing fraction
    * of the corpus at any real dup rate — then ONE window on the
    * cluster key. Certainty half hash-graded by
    * [[modalNearClustersGate]].
    */
  def modalNearClusters(spark: SparkSession, dir: String): DataFrame =
    modalNearClustersDocs(Curation.fanDocs(Tables.documents(spark, dir)))

  private[graft] def modalNearClustersDocs(docs: DataFrame): DataFrame =
    modalNearClustersBase(docs)

  /** Unordered cluster resolution — the composition surface
    * ([[modalScorecardDocs]] joins it three ways; a global sort
    * under those joins would be planned work thrown away, the same
    * split [[modalNearPairsBase]] documents for the pair frame).
    */
  private[graft] def modalNearClustersBase(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = modalNearPairsBase(docs)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val verts = docs.select(col("doc_id").as("id"))
    val labels = Dedup.connectedComponents(verts, pairs)
      .select(col("id").as("doc_id"), col("label").as("cluster_id"))
    val scored = docs.select(col("doc_id"),
      length(col("text").cast("binary")).cast("long").as("n_bytes"))
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("n_bytes").desc, col("doc_id"))
    labels.join(scored, "doc_id")
      .withColumn("canonical_id", first("doc_id").over(w))
      .select(modalityOf(col("doc_id")).as("modality"), col("doc_id"),
        col("cluster_id"), col("canonical_id"), col("n_bytes"),
        (col("doc_id") === col("canonical_id")).as("is_canonical"))
  }

  /** [[modalNearClusters]] computed INCREMENTALLY — the ingestion
    * path: the standing half's labels are the prior run's artifact
    * and the arriving half folds in as one maintenance batch through
    * the SHARED [[graft.operators.Dedup.updateComponents]] engine
    * (one standing lookup, batch-sized label-graph solve, broadcast
    * relabel — the standing table is never reshuffled), then the same
    * largest-payload canonical window. Labels are min-id in both
    * paths and the fold's merge mapping takes the min across merged
    * labels, so the incremental result is ROW-IDENTICAL to the
    * from-scratch resolution — hash-graded by [[modalIncrGate]]
    * (the oracle cannot see simhash, but it CAN pin the equality
    * masses). The registered split (doc_id < 250 standing, rest
    * arriving) is the demo harness; production feeds real batches
    * and sources candidate pairs from the standing chunk-key gate
    * ([[modalChunkBloom]]) instead of the full pair kernel.
    */
  def modalNearClustersIncremental(spark: SparkSession, dir: String,
      split: Long = 250L): DataFrame =
    modalNearClustersIncrementalDocs(Curation.fanDocs(Tables.documents(spark, dir)), split)

  private[graft] def modalNearClustersIncrementalDocs(docs: DataFrame,
      split: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = modalNearPairsBase(docs)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val standingPairs =
      pairs.filter(col("src") < split && col("dst") < split)
    val newPairs = pairs.filter(col("src") >= split || col("dst") >= split)
    val ids = docs.select(col("doc_id").as("id"))
    val standing = Dedup.connectedComponents(
      ids.filter(col("id") < split), standingPairs)
    val labels = Dedup.updateComponents(standing,
        ids.filter(col("id") >= split), newPairs)
      .select(col("id").as("doc_id"), col("label").as("cluster_id"))
    val scored = docs.select(col("doc_id"),
      length(col("text").cast("binary")).cast("long").as("n_bytes"))
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("n_bytes").desc, col("doc_id"))
    labels.join(scored, "doc_id")
      .withColumn("canonical_id", first("doc_id").over(w))
      .select(modalityOf(col("doc_id")).as("modality"), col("doc_id"),
        col("cluster_id"), col("canonical_id"), col("n_bytes"),
        (col("doc_id") === col("canonical_id")).as("is_canonical"))
  }

  /** INCREMENTAL-EQUALS-BATCH gate over
    * [[modalNearClustersIncremental]] (the q_gate_resolve
    * dual-proving pattern): the fold's claim — carried rows verbatim,
    * touched clusters recomputed, nothing lost — is row-set equality
    * with the from-scratch resolution, so the gate computes BOTH
    * surfaces and emits the two exceptAll masses (must be zero) plus
    * the corpus count the oracle recomputes from the raw table. A
    * fold regression that drops, duplicates, or mislabels even one
    * document breaks the driver hash.
    */
  def modalIncrGate(spark: SparkSession, dir: String): DataFrame =
    modalIncrGateDocs(Curation.fanDocs(Tables.documents(spark, dir)))

  private[graft] def modalIncrGateDocs(docs: DataFrame,
      split: Long = 250L): DataFrame = {
    val incr = modalNearClustersIncrementalDocs(docs, split)
    val full = modalNearClustersDocs(docs)
    val a = incr.exceptAll(full)
      .agg(count(lit(1)).as("n_incr_minus_full"))
    val b = full.exceptAll(incr)
      .agg(count(lit(1)).as("n_full_minus_incr"))
    full.agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(a))
      .crossJoin(broadcast(b))
      .select(col("n_docs"),
        col("n_incr_minus_full"), col("n_full_minus_incr"),
        (col("n_incr_minus_full") === 0L && col("n_full_minus_incr") === 0L)
          .as("incr_equals_batch"))
  }

  def modalIncrGateSql: String =
    """SELECT (SELECT count(*) FROM documents)::BIGINT AS n_docs,
      |  0::BIGINT AS n_incr_minus_full, 0::BIGINT AS n_full_minus_incr,
      |  true AS incr_equals_batch""".stripMargin

  /** The per-payload chunk keys ("modality:idx:chunk") of the
    * perceptual fingerprint — the standing-tier membership unit for
    * the streaming gate: two payloads within Hamming ≤ 3 of each
    * other share at least one 16-bit chunk, so any near-dup of a
    * standing payload hits the standing key set through the chunk it
    * shares (and an IDENTICAL payload hits all four with certainty).
    * Keys are modality-prefixed, so a payload identical to a
    * standing one of ANOTHER modality never collides by construction.
    */
  private[graft] def modalChunkKeys(docs: DataFrame): DataFrame =
    modalFingerprints(docs).select(explode(array((0 until 4).map { j =>
      concat_ws(":", col("modality"), lit(j),
        shiftrightunsigned(col("pfp"), 16 * j).bitwiseAND(lit(0xFFFFL)))
    }: _*)).as("chunk_key"))

  /** Build the standing tier's chunk-key Bloom — the compaction
    * artifact [[graft.streaming.DocStream.modalNearDupDocsStream]]
    * probes (the [[graft.operators.Dedup.bandBloom]] idiom for the
    * perceptual family). One corpus pass; the sketch holds 4 keys per
    * standing payload at `fpp` per probe.
    */
  private[graft] def modalChunkBloom(standing: DataFrame,
      fpp: Double = 0.001): org.apache.spark.util.sketch.BloomFilter = {
    val keys = modalChunkKeys(standing).persist()
    try {
      val expected = math.max(keys.count(), 1L)
      keys.stat.bloomFilter("chunk_key", expected, fpp)
    } finally keys.unpersist(): Unit
  }

  /** The OR-of-4-probes membership test over (doc_id, text) against a
    * caller-owned broadcast of the standing chunk Bloom — `pfpCol`
    * must be the [[modalFingerprints]] fingerprint column so the
    * probe and the build share one definition of the keys.
    */
  private[graft] def modalChunkHit(
      bc: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter],
      modality: org.apache.spark.sql.Column,
      pfp: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val probe = graft.functions.BloomMightContain.fromBroadcast(bc)
    (0 until 4).map { j =>
      probe(concat_ws(":", modality, lit(j),
        shiftrightunsigned(pfp, 16 * j).bitwiseAND(lit(0xFFFFL))))
    }.reduce(_ || _)
  }

  /** The fingerprint as a column expression (shared by the batch
    * [[modalFingerprints]] frame and the streaming probe — one
    * definition, no drift).
    */
  private[graft] def pfpCol(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.functions.SimHash64.simhash64(
      graft.functions.CharNgrams.char_ngrams(text, ModalShingle))

  /** TOTALITY + certainty gate over [[modalNearClusters]] (the
    * q_minhash_cluster_gate pattern per modality): (a) totality —
    * n_docs counts the CLUSTER OUTPUT's rows per modality while the
    * oracle recomputes the raw corpus count, so a dropped or
    * duplicated label breaks the hash; (b) identical-payload
    * certainty carried one stage past [[modalDedupNearGate]] —
    * identical payload ⇒ hamming-0 pair ⇒ SAME component, so a split
    * identical-payload group is impossible unless banding or
    * resolution regressed (boolean vs a TRUE literal); (c) the
    * dup-group masses as exact integer legs. All three modality rows
    * always emit.
    */
  def modalNearClustersGate(spark: SparkSession, dir: String): DataFrame =
    modalNearClustersGateDocs(spark, Curation.fanDocs(Tables.documents(spark, dir)))

  private[graft] def modalNearClustersGateDocs(spark: SparkSession,
      docs: DataFrame): DataFrame = {
    import spark.implicits._
    val clusters = modalNearClustersDocs(docs)
    val nDocs = clusters.groupBy("modality").agg(count(lit(1)).as("n_docs"))
    val t = docs.select(modalityOf(col("doc_id")).as("modality"),
      col("doc_id"), col("text"))
    val dupStats = t.groupBy("modality", "text").agg(count(lit(1)).as("k"))
      .filter(col("k") >= 2)
      .groupBy("modality")
      .agg(count(lit(1)).as("n_dup_groups"), sum("k").as("n_dup_docs"))
    val exact = t.as("a")
      .join(t.toDF("b_modality", "b_id", "b_text").as("b"),
        col("modality") === col("b_modality")
          && col("text") === col("b_text") && col("doc_id") < col("b_id"))
      .select(col("modality"), col("doc_id").as("a_id"), col("b_id"))
    val la = clusters.select(col("doc_id").as("a_id"),
      col("cluster_id").as("ca"))
    val lb = clusters.select(col("doc_id").as("b_id"),
      col("cluster_id").as("cb"))
    val same = exact.join(la, "a_id").join(lb, "b_id")
      .groupBy("modality")
      .agg(expr("bool_and(ca = cb)").as("clustered"))
    Seq("audio", "image", "video").toDF("modality")
      .join(nDocs, Seq("modality"), "left")
      .join(dupStats, Seq("modality"), "left")
      .join(same, Seq("modality"), "left")
      .select(col("modality"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("n_dup_groups"), lit(0L)).as("n_dup_groups"),
        coalesce(col("n_dup_docs"), lit(0L)).as("n_dup_docs"),
        coalesce(col("clustered"), lit(true)).as("dup_pairs_clustered"))
  }

  def modalNearClustersGateSql: String =
    """WITH m AS (
      |  SELECT unnest(['audio', 'image', 'video']) AS modality
      |), t AS (
      |  SELECT CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
      |    ELSE 'video' END AS modality, doc_id, text
      |  FROM documents
      |), c AS (
      |  SELECT modality, count(*)::BIGINT AS n_docs FROM t GROUP BY modality
      |), g AS (
      |  SELECT modality, text, count(*)::BIGINT AS k
      |  FROM t GROUP BY 1, 2
      |), d AS (
      |  SELECT modality, count(*)::BIGINT AS n_dup_groups,
      |    sum(k)::BIGINT AS n_dup_docs
      |  FROM g WHERE k >= 2 GROUP BY modality
      |)
      |SELECT m.modality, coalesce(c.n_docs, 0)::BIGINT AS n_docs,
      |  coalesce(d.n_dup_groups, 0)::BIGINT AS n_dup_groups,
      |  coalesce(d.n_dup_docs, 0)::BIGINT AS n_dup_docs,
      |  true AS dup_pairs_clustered
      |FROM m LEFT JOIN c USING (modality) LEFT JOIN d USING (modality)
      |ORDER BY modality""".stripMargin

  def modalDedupNearGateSql: String =
    """WITH m AS (
      |  SELECT unnest(['audio', 'image', 'video']) AS modality
      |), g AS (
      |  SELECT CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
      |    ELSE 'video' END AS modality, text, count(*)::BIGINT AS k
      |  FROM documents GROUP BY 1, 2
      |), d AS (
      |  SELECT modality, sum(k * (k - 1) // 2)::BIGINT AS n
      |  FROM g WHERE k >= 2 GROUP BY modality
      |)
      |SELECT m.modality, coalesce(d.n, 0)::BIGINT AS n_exact_dup_pairs,
      |  true AS all_exact_dups_flagged, true AS exact_dups_hamming_zero
      |FROM m LEFT JOIN d USING (modality) ORDER BY modality""".stripMargin

  /** PER-MODALITY DEDUP SCORECARD (round 13 tail — the
    * [[graft.operators.Dedup.dedupScorecard]] capstone discipline
    * applied to the multimodal tier): one row per modality composing
    * the full dedup stack — exact accounting plus
    * consistency-certainty booleans over the perceptual frames.
    * Every column is either recomputable by the oracle from the raw
    * table (items, distinct payloads, exact-dup mass and ppm — the
    * md5 tier is SQL-expressible) or a certainty the oracle grades
    * as a TRUE literal:
    *
    *  - `near_covers_exact_ok`: every identical-payload group sits
    *    in ONE near-dup cluster (identical bytes ⇒ identical
    *    fingerprint ⇒ certain chunk collision ⇒ one component) —
    *    the modalDedupNearGate certainty re-asserted at the
    *    composed-frame level, so a drift between the pair kernel
    *    and the cluster resolution breaks the hash.
    *  - `canonical_totality_ok`: the cluster frame covers every doc
    *    exactly once and elects exactly one canonical per cluster.
    *  - `pairs_in_clusters_ok`: every surviving near-dup pair's
    *    endpoints share a cluster label (pair frame ⊆ the closure
    *    that consumed it).
    *
    * The perceptual pair/cluster MASSES stay on their own rows-only
    * surfaces (q_modal_dedup_near / q_modal_near_clusters) — this
    * scorecard grades the accounting and the cross-frame contracts.
    * Scale shape: the md5 aggregate is map-side combined; the
    * boolean legs reuse the bounded pair kernel and the shared
    * components engine at the same price as the standalone queries.
    */
  def modalScorecard(spark: SparkSession, dir: String): DataFrame =
    modalScorecardDocs(Curation.fanDocs(Tables.documents(spark, dir)))

  private[graft] def modalScorecardDocs(docs: DataFrame): DataFrame = {
    val exact = docs.select(modalityOf(col("doc_id")).as("modality"),
      md5(col("text").cast("binary")).as("fp"), col("doc_id"))
    val clusters = modalNearClustersBase(docs)
      .select(col("doc_id"), col("cluster_id"), col("is_canonical"))
    val acct = exact.groupBy("modality")
      .agg(count(lit(1)).as("n_items"),
        countDistinct(col("fp")).as("n_distinct"))
      .withColumn("n_exact_dup", col("n_items") - col("n_distinct"))
      .withColumn("exact_dup_ppm",
        expr("n_exact_dup * 1000000L DIV n_items"))
    val fpOk = exact.join(clusters.select("doc_id", "cluster_id"), "doc_id")
      .groupBy("modality", "fp")
      .agg(countDistinct(col("cluster_id")).as("ncl"))
      .groupBy("modality")
      .agg((max(col("ncl")) === 1).as("near_covers_exact_ok"))
    val tot = exact.select(col("modality"), col("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .groupBy("modality")
      .agg((count(col("cluster_id")) === count(lit(1)) &&
        sum(when(col("is_canonical"), 1L).otherwise(0L)) ===
          countDistinct(col("cluster_id"))).as("canonical_totality_ok"))
    val pc = modalNearPairsBase(docs)
      .select(col("modality"), col("doc_a"), col("doc_b"))
      .join(clusters.select(col("doc_id").as("doc_a"),
        col("cluster_id").as("ca")), "doc_a")
      .join(clusters.select(col("doc_id").as("doc_b"),
        col("cluster_id").as("cb")), "doc_b")
      .groupBy("modality")
      .agg((sum(when(col("ca") =!= col("cb"), 1L).otherwise(0L)) === 0)
        .as("pairs_in_clusters_ok"))
    acct.join(fpOk, "modality")
      .join(tot, "modality")
      .join(pc, Seq("modality"), "left")
      .select(col("modality"), col("n_items"), col("n_distinct"),
        col("n_exact_dup"), col("exact_dup_ppm"),
        col("near_covers_exact_ok"), col("canonical_totality_ok"),
        coalesce(col("pairs_in_clusters_ok"), lit(true))
          .as("pairs_in_clusters_ok"))
  }

  def modalScorecardSql: String =
    """WITH f AS (
      |  SELECT CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
      |    ELSE 'video' END AS modality, md5(text) AS fp
      |  FROM documents
      |)
      |SELECT modality, count(*)::BIGINT AS n_items,
      |  count(DISTINCT fp)::BIGINT AS n_distinct,
      |  (count(*) - count(DISTINCT fp))::BIGINT AS n_exact_dup,
      |  ((count(*) - count(DISTINCT fp)) * 1000000 // count(*))::BIGINT
      |    AS exact_dup_ppm,
      |  true AS near_covers_exact_ok, true AS canonical_totality_ok,
      |  true AS pairs_in_clusters_ok
      |FROM f GROUP BY 1 ORDER BY modality""".stripMargin

  /** Batched feature-extraction stub: the `mapInPandas` shape in
    * Scala — payloads iterate in fixed-size batches per partition so
    * a real encoder would run vectorized inference per batch with the
    * model handle initialized once per task. The embedding itself is
    * a deterministic stub (byte-histogram over the low 3 bits), the
    * batching, schema, and partition shape are real.
    *
    * The 8 embedding dims are emitted as scalar emb_0..emb_7 columns
    * (count_b / n_bytes, unrounded — integer÷integer IEEE division is
    * bit-identical across engines) so the result is flat-hashable and
    * DuckDB-oracled end-to-end.
    */
  def featureExtract(spark: SparkSession, dir: String, batchSize: Int = 64): DataFrame = {
    val outSchema = StructType(
      StructField("doc_id", LongType) +:
        (0 until 8).map(b => StructField(s"emb_$b", DoubleType)))
    val withBlob = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    val rdd = withBlob.rdd.mapPartitions { it =>
      // model/codec handle init would happen once here, then serve
      // every batch below
      it.grouped(batchSize).flatMap { batch =>
        batch.map { r =>
          val payload = r.getAs[Array[Byte]](1)
          val emb = new Array[Double](8)
          var i = 0
          while (i < payload.length) {
            emb(payload(i) & 0x7) += 1.0
            i += 1
          }
          val n = math.max(payload.length, 1).toDouble
          Row.fromSeq(r.getLong(0) +: emb.map(_ / n).toIndexedSeq)
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** The byte-histogram stub in SQL: bucket b's count is the number of
    * UTF-8 payload bytes whose low 3 bits equal b, read off the low
    * hex nibble of each byte (works for any charset — it operates on
    * the raw encoded bytes, exactly like the Scala stub's `& 0x7`).
    */
  def featureExtractSql: String = {
    val dims = (0 until 8).map(b =>
      s"  len(list_filter(bs, x -> x = $b))::DOUBLE / n AS emb_$b").mkString(",\n")
    s"""WITH h AS (
       |  SELECT doc_id, lower(hex(encode(text))) AS hx,
       |    greatest(octet_length(encode(text)), 1) AS n,
       |    octet_length(encode(text)) AS nb
       |  FROM documents
       |), b AS (
       |  SELECT doc_id, n,
       |    list_transform(range(0, nb),
       |      i -> (strpos('0123456789abcdef', hx[2*i+2]) - 1) % 8) AS bs
       |  FROM h)
       |SELECT doc_id,
       |$dims
       |FROM b ORDER BY doc_id""".stripMargin
  }
}
