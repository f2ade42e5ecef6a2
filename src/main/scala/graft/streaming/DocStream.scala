package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** The document and vector tier of the streaming engine: dedup gates,
  * scorers, best-of-n and preference-pair mining, ANN serve and index
  * maintenance. A stateless document verdict is its batch function
  * applied to [[docsStream]]. A checkpoint written when these streams
  * lived in [[TickStream]] resumes: their state classes kept their
  * names and fields, and Spark matches state by schema, not by class
  * (checked on a best-of-n checkpoint). Changing a state class's
  * fields needs a fresh checkpoint, as [[TickStream.IndicatorState]]
  * states.
  */
object DocStream extends Serializable {

  import TickStream.{maintainStream, stageFile}

  /** Streaming source over the documents table — the ingestion leg of
    * a streaming curation pipeline (file source standing in for the
    * document bus).
    */
  def docsStream(spark: SparkSession, dir: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    spark.readStream.schema(schema)
      .parquet(stageFile(dir, "documents.parquet").toString)
  }

  /** Streaming exact dedup over a document stream by content
    * fingerprint (the SAME md5-of-normalized-text key as the batch
    * [[graft.operators.TextOps.fingerprint]] query): the first
    * arrival per fingerprint survives. Documents carry no event time,
    * so the state is bounded by an INGEST-time watermark — the
    * streaming pass collapses duplicates inside the ingestion window,
    * and cross-window duplicates fall to the batch exact-dedup
    * compaction (the standard two-tier layout).
    *
    * Because the watermark key is PROCESSING time, the within-window
    * guarantee holds per checkpoint lineage only: a crash-replayed
    * microbatch re-stamps a fresh ingest_ts, so duplicates straddling
    * a restart boundary can both survive the streaming tier (at-least-
    * once replay). The batch compaction is the cross-restart backstop.
    */
  def dedupDocsStream(docs: DataFrame,
      watermarkDelay: String = "10 minutes"): DataFrame =
    dedupFingerprinted(docs.withColumn("fingerprint",
      graft.operators.TextOps.fingerprintCol(col("text"))), watermarkDelay)

  private def dedupFingerprinted(withFp: DataFrame,
      watermarkDelay: String): DataFrame =
    withFp
      .withColumn("ingest_ts", current_timestamp())
      .withWatermark("ingest_ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("fingerprint")
      // keep every input column (incl. text): the survivors feed
      // downstream stages — gopherNarrowDocs(dedupDocsStream(...))
      // is the natural composition
      .drop("ingest_ts")

  /** [[dedupDocsStream]] gated by a STANDING-corpus Bloom filter (the
    * compaction-time artifact of
    * [[graft.operators.Dedup.fingerprintBloom]]): rows whose
    * fingerprint hits the broadcast filter drop BEFORE touching
    * streaming state, so cross-run duplicates never key the state
    * store and within-stream dedup state stays bounded by genuinely
    * new content. No false negatives means no standing duplicate ever
    * passes; the ~fpp false positives are the documented trade — a
    * bounded sliver of fresh rows drops with them, and a deployment
    * that can't tolerate it routes flagged rows to the exact batch
    * join instead of dropping (the [[graft.operators.Dedup.bloomGate]]
    * shape).
    */
  def dedupDocsStreamGated(docs: DataFrame,
      bloom: org.apache.spark.util.sketch.BloomFilter,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val hit = graft.operators.Dedup.bloomHit(docs.sparkSession, bloom)
    dedupFingerprinted(
      docs.withColumn("fingerprint",
        graft.operators.TextOps.fingerprintCol(col("text")))
        .filter(!hit(col("fingerprint"))), watermarkDelay)
  }

  /** The NEAR-dup flavor of the gated ingest: arriving docs compute
    * their MinHash band keys and probe the standing corpus's band
    * Bloom ([[graft.operators.Dedup.bandBloom]], built at compaction)
    * — a STATELESS projection (16 codegen'd probes ORed), so it runs
    * identically in batch and here, no watermark, no state. The flag
    * is a ROUTING decision: flagged docs detour to the exact band
    * equi-join against the standing tier, clean docs proceed (e.g.
    * into [[dedupDocsStreamGated]]'s exact-dedup leg) — edited
    * re-deliveries that the fingerprint gate cannot see get caught
    * here before they pollute the corpus.
    */
  def nearDupDocsStream(docs: DataFrame,
      bloom: org.apache.spark.util.sketch.BloomFilter): DataFrame = {
    val hit = graft.operators.Dedup.bandKeyHit(docs.sparkSession, bloom)
    docs
      .withColumn("sig", graft.operators.Dedup.sigCol(col("text")))
      .withColumn("candidate_near_dup", hit(col("sig")))
      .drop("sig")
  }

  /** [[nearDupDocsStream]] against a ROLLING standing window: each
    * microbatch probes the gate's CURRENT serving Blooms, late-bound
    * through `gate` — so an epoch rotation
    * ([[graft.operators.Dedup.rollingGateAppend]], run by whatever
    * maintains the standing corpus) swaps the probed union between
    * batches without restarting the query. The static variant binds
    * one Bloom for the query's lifetime; a windowed corpus needs the
    * probe to follow the window. Flags keep the rolling gate's
    * contract: no false negatives within the retained window, evicted
    * epochs decay to the compound fpp (spec rotates mid-stream and
    * asserts both sides).
    */
  def nearDupDocsStreamRolling(docs: DataFrame,
      gate: () => graft.operators.Dedup.RollingBandGate)(
      writeBatch: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    // broadcast the serving array once per ROTATION, not per batch:
    // rotation replaces the serving array wholesale, so reference
    // identity is the swap signal; superseded handles destroy() so
    // evicted multi-GB sketches leave the executors instead of
    // accumulating one stale broadcast set per microbatch
    var heldServing: Array[org.apache.spark.util.sketch.BloomFilter] = null
    var heldBcs: Array[org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter]] = null
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val serving = gate().serving
      if (heldBcs == null || (heldServing ne serving)) {
        if (heldBcs != null) heldBcs.foreach(_.destroy())
        heldServing = serving
        heldBcs = serving.map(batch.sparkSession.sparkContext.broadcast(_))
      }
      val hit = graft.operators.Dedup.bandKeyHitBroadcast(heldBcs)
      writeBatch(batch
        .withColumn("sig", graft.operators.Dedup.sigCol(col("text")))
        .withColumn("candidate_near_dup", hit(col("sig")))
        .drop("sig"), batchId)
    }
  }

  /** The EXACT-gate twin of [[nearDupDocsStreamRolling]]: flag each
    * microbatch's fingerprints against the CURRENT serving filter of
    * a [[graft.operators.Dedup.RollingExactGate]], late-bound through
    * `gate` — epoch rotation swaps the probed window mid-query.
    * (The continuous [[dedupDocsStreamGated]] cannot late-bind: its
    * Bloom rides the physical plan for the query's lifetime, the
    * right shape for an all-history standing corpus; a WINDOWED
    * corpus flags per batch here and routes flagged rows to the exact
    * batch join, keeping streaming state clear of the standing tier
    * either way.)
    */
  def dedupDocsStreamRolling(docs: DataFrame,
      gate: () => graft.operators.Dedup.RollingExactGate)(
      writeBatch: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    // same per-rotation broadcast reuse + destroy discipline as
    // [[nearDupDocsStreamRolling]], for the single exact filter
    var heldServing: org.apache.spark.util.sketch.BloomFilter = null
    var heldBc: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter] = null
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val serving = gate().serving
      if (heldBc == null || (heldServing ne serving)) {
        if (heldBc != null) heldBc.destroy()
        heldServing = serving
        heldBc = batch.sparkSession.sparkContext.broadcast(serving)
      }
      val hit = graft.functions.BloomMightContain.fromBroadcast(heldBc)
      writeBatch(batch
        .withColumn("fingerprint",
          graft.operators.TextOps.fingerprintCol(col("text")))
        .withColumn("candidate_dup", hit(col("fingerprint")))
        .drop("fingerprint"), batchId)
    }
  }

  /** Rotate the rolling near-dup gate off the STREAM'S OWN clock —
    * the maintenance dual of [[nearDupDocsStreamRolling]]: each
    * microbatch advances a driver-held epoch high-water mark from its
    * max `tsCol`; once the clock moves INTO epoch N+1, epoch N is
    * complete (no more docs can land in it, same day-completion logic
    * as [[TickStream.priceFfillStream]]) and its standing slice — `epochSlice`,
    * in production the lake partition the ingest sink just sealed —
    * rotates into the gate via
    * [[graft.operators.Dedup.rollingGateAppend]]: beyond-window
    * epochs evict, the serving union re-derives, and the swapped gate
    * publishes through `onRotate` for the probe stream to late-bind.
    * Epochs the stream never reaches stay unsealed (a probe never
    * flags against a half-built epoch). The first batch only sets the
    * baseline — epochs before the stream started are the initial
    * gate's business.
    */
  def rollingGateMaintainStream(docs: DataFrame,
      initial: graft.operators.Dedup.RollingBandGate, epochMs: Long,
      tsCol: String, epochSlice: Long => DataFrame)(
      onRotate: (graft.operators.Dedup.RollingBandGate, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    // maintenance state = (standing gate, epoch high-water mark);
    // each sealed epoch publishes its own rotation, so one batch that
    // jumps the clock several epochs emits one gate per seal
    maintainStream(docs,
        (initial, initial.epochs.lastOption.map(_._1))) {
      case ((gate0, lastSealed), batch, _) =>
        val mx = batch.agg(max(col(tsCol))).head
        if (mx.isNullAt(0)) ((gate0, lastSealed), Nil)
        else {
          val nowEpoch = Math.floorDiv(mx.getTimestamp(0).getTime, epochMs)
          // clamp catch-up to the retention window: after a long gap
          // every epoch below nowEpoch − window would be built only
          // to evict immediately (a full slice scan + Bloom build per
          // epoch, serially, inside one microbatch) — it can never
          // reach the serving union, so seal only the reachable tail
          val from = math.max(
            lastSealed.map(_ + 1).getOrElse(nowEpoch),
            nowEpoch - gate0.windowEpochs)
          val (gate, rotations) = (from until nowEpoch).foldLeft(
              (gate0, Vector.empty[(graft.operators.Dedup.RollingBandGate, Long)])) {
            case ((g, acc), e) =>
              val rotated = graft.operators.Dedup.rollingGateAppend(g,
                epochSlice(e), e)
              (rotated, acc :+ (rotated -> e))
          }
          ((gate, Some(math.max(lastSealed.getOrElse(nowEpoch - 1),
            nowEpoch - 1))), rotations)
        }
    } { case ((gate, epoch), _) => onRotate(gate, epoch) }

  case class DocLine(doc_id: Long, pos: Int, line: String,
      ingest_ts: java.sql.Timestamp)

  case class LineVerdict(doc_id: Long, pos: Int, line: String, kept: Boolean)

  /** Streaming dual of the C4-style corpus-level LINE dedup
    * ([[graft.operators.Curation.lineDedupDocs]]): documents explode
    * into non-blank (doc_id, pos, line) rows, and a STATEFUL per-line
    * key store keeps each line's first occurrence — within a
    * microbatch "first" is min (doc_id, pos), matching the batch
    * dual's deterministic order; across microbatches the earlier
    * batch wins. Every line row is emitted with its keep verdict so
    * downstream reassembly (or drop-attribution) composes.
    *
    * State is one boolean per distinct line seen, keyed by the line
    * text, evicted by an event-time timeout driven off an INGEST-time
    * watermark (documents carry no event time; an eviction fires only
    * as later arrivals advance the watermark — no empty-batch churn).
    * Same two-tier contract as [[dedupDocsStream]], including its
    * restart caveat: the streaming tier collapses duplicates inside
    * the TTL window per checkpoint lineage, and cross-window (or
    * cross-restart) duplicates fall to the batch compaction. A
    * production deployment keys state on a 128-bit line fingerprint
    * instead of the text (same shuffle, ~16 bytes of key per entry
    * regardless of line length).
    */
  def lineDedupDocsStream(spark: SparkSession, docs: DataFrame,
      stateTtlMinutes: Int = 30): Dataset[LineVerdict] = {
    import spark.implicits._
    val ttlMs = stateTtlMinutes * 60000L
    def update(line: String, rows: Iterator[DocLine],
        state: GroupState[Boolean]): Iterator[LineVerdict] = {
      if (state.hasTimedOut) {
        state.remove()
        Iterator.empty
      } else {
        val sorted = rows.toSeq.sortBy(r => (r.doc_id, r.pos))
        val alreadySeen = state.exists
        if (!alreadySeen) state.update(true)
        // TTL extends from the newest arrival of this line
        state.setTimeoutTimestamp(sorted.map(_.ingest_ts.getTime).max + ttlMs)
        sorted.iterator.zipWithIndex.map { case (r, i) =>
          LineVerdict(r.doc_id, r.pos, r.line, kept = !alreadySeen && i == 0)
        }
      }
    }
    docs
      .select(col("doc_id"),
        posexplode(split(col("text"), "\n")).as(Seq("pos", "line")))
      .filter(trim(col("line")) =!= "")
      .withColumn("ingest_ts", current_timestamp())
      .withWatermark("ingest_ts", s"$stateTtlMinutes minutes")
      .as[DocLine]
      .groupByKey(_.line)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** Streaming CURRICULUM SCORER — arriving documents get their
    * difficulty (mean token surprisal in nats) against the STANDING
    * vocabulary the batch [[graft.operators.Curation.curriculum]]
    * run published ([[graft.operators.Curation.curriculumVocab]]):
    * the incremental half of curriculum maintenance — new data is
    * scored online and slots into the existing schedule; global
    * positions/phases are the batch re-rank's job (a total order
    * over a stream is not a streaming quantity). Stateless per-row
    * projection: tokenize, look each token up in the PLAN-EMBEDDED
    * vocab map (model-sized, the classifier-weights contract), fold
    * the same 12-decimal DECIMAL(28,14) surprisal terms as the
    * batch query — exact decimal addition is order-independent, so
    * stream scores equal batch difficulty BIT-FOR-BIT wherever the
    * vocab covers the doc (spec-asserted). Out-of-vocabulary tokens
    * fall back to count 1 (the max-surprisal ceiling — the standing
    * vocab cannot see new words; the next batch re-rank absorbs
    * them). Zero-token docs pass through with NULL difficulty
    * (the batch query drops them; a stream stage must not silently
    * swallow rows).
    */
  def curriculumScoreStream(docs: DataFrame,
      vocab: Map[String, Long], total: Long): DataFrame = {
    val ws = filter(split(trim(col("text")),
      s"[${graft.operators.TextOps.Ws}]+"), w => w =!= lit(""))
    val vmap = typedLit(vocab)
    docs
      .select(col("doc_id"), ws.as("ws"))
      .select(col("doc_id"), size(col("ws")).cast("long").as("n_tokens"),
        aggregate(
          transform(col("ws"), w =>
            round(log(lit(total.toDouble) /
              coalesce(element_at(vmap, w), lit(1L)).cast("double")), 12)
              .cast("decimal(28,14)")),
          lit(BigDecimal(0)).cast("decimal(38,14)"),
          // decimal addition at max precision narrows to scale 13;
          // the cast back is EXACT (terms carry only 12 decimals)
          (acc, x) => (acc + x).cast("decimal(38,14)")).as("s_dec"))
      .select(col("doc_id"), col("n_tokens"),
        when(col("n_tokens") > 0,
          round(col("s_dec").cast("double") / col("n_tokens").cast("double"),
            8)).as("difficulty"))
  }

  /** Streaming BOILERPLATE SCORER — arriving documents report their
    * template-gram fraction against the STANDING per-source template
    * set the batch [[graft.operators.Curation.boilerplate]] run
    * published ([[graft.operators.Curation.boilerplateTemplates]] —
    * model-sized: template variety, not corpus size, bounds it).
    * Stateless per-row projection, zero shuffle: bigrams from the
    * same tokenize, distinct in-row, intersected with the
    * plan-embedded source→templates map. Scores equal the batch
    * query exactly on covered sources (spec, both directions); docs
    * from sources the standing set has never seen score zero
    * template grams (nothing is known to be boilerplate yet — the
    * next batch refit absorbs them).
    */
  def boilerplateDocsStream(docs: DataFrame,
      templates: Map[String, Seq[String]]): DataFrame = {
    val ws = filter(split(trim(col("text")),
      s"[${graft.operators.TextOps.Ws}]+"), w => w =!= lit(""))
    val tmap = typedLit(templates)
    docs
      .select(col("doc_id"), col("source"), ws.as("ws"))
      .select(col("doc_id"), col("source"),
        array_distinct(zip_with(
          slice(col("ws"), lit(1), greatest(size(col("ws")) - 1, lit(0))),
          slice(col("ws"), lit(2), greatest(size(col("ws")) - 1, lit(0))),
          (a, b) => concat(a, lit(" "), b))).as("grams"))
      .select(col("doc_id"), col("source"),
        size(col("grams")).cast("long").as("n_grams"),
        size(array_intersect(col("grams"),
          coalesce(element_at(tmap, col("source")),
            array().cast("array<string>")))).cast("long").as("n_template"))
      .withColumn("boiler_ppm", when(col("n_grams") > 0,
        expr("n_template * 1000000 DIV n_grams")))
  }

  /** Classifier MAINTENANCE — the fifth [[TickStream.maintainStream]] flavor,
    * and the measure of what the generic loop buys: a new standing
    * artifact (the classifier weight vector) costs exactly one step
    * function. Same arrival-counter cadence as
    * [[TickStream.registryMaintainStream]] — the counter only TRIGGERS (a refit
    * always reads the full `history()`, so a delayed trigger can
    * never mis-fit), quiet batches publish nothing and serve keeps
    * the previous model ([[graft.operators.Classifier.classifierScore]]
    * over the stream probes whatever was last published).
    */
  def classifierMaintainStream(docs: DataFrame, initial: Array[Double],
      history: () => DataFrame, minNewDocs: Long = 100)(
      onUpdate: (Array[Double], Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    maintainStream(docs, (initial, 0L)) { case ((model, seen), batch, _) =>
      val arrived = seen + batch.count()
      if (arrived >= minNewDocs) {
        val refit = graft.operators.Classifier.fit(
          graft.operators.Classifier.featurize(history()))._1
        ((refit, 0L), Seq(refit))
      } else ((model, arrived), Nil)
    }(onUpdate)

  case class BonCand(group_id: Long, doc_id: Long, q: Double)
  case class BonState(n: Long, s8: Long, bestId: Long, bestQ: Double,
      secondQ: Option[Double])
  case class BonRow(group_id: Long, n_cands: Long, best_id: Long,
      best_q: Double, second_q: Option[Double], sel_margin: Option[Double],
      mean_q: Double)

  /** Streaming BEST-OF-N selection — the live leg of
    * [[graft.operators.Preference.bestOfN]]: candidates arrive as
    * they are sampled and each prompt group's leaderboard updates in
    * place (mapGroupsWithState keyed on the group), emitting the
    * refreshed snapshot row per touched group per microbatch (Update
    * mode) — the online view an RFT sampler reads to stop sampling a
    * group once its selection margin clears the bar. Scoring is the
    * SAME [[graft.operators.TextOps]] quality column (stateless
    * projection, bit-identical to batch); top-2 maintenance under
    * insert-only arrivals is exact (a new candidate displaces best →
    * old best becomes runner-up; else it contends for runner-up
    * directly), ties break (q desc, doc_id asc) exactly as the batch
    * rank; the group mean carries (n, Σ round(q·10⁸)) and divides
    * with the batch's scaled-integer HALF_UP formula; sel_margin
    * takes the [[FastRound]] display round — so after a full replay
    * the final snapshot per group is ROW-IDENTICAL to the batch
    * surface (spec-asserted). State per group is five scalars —
    * O(groups), not O(candidates).
    */
  def bestOfNDocsStream(spark: SparkSession, docs: DataFrame):
      Dataset[BonRow] = {
    import spark.implicits._
    val g = graft.operators.Preference.BestOfNGroup
    def better(q: Double, id: Long, bq: Double, bid: Long): Boolean =
      q > bq || (q == bq && id < bid)
    def update(group: Long, rows: Iterator[BonCand],
        state: GroupState[BonState]): BonRow = {
      // microbatch arrivals fold in (doc_id) order so same-batch ties
      // resolve identically to a one-row-per-batch replay
      val sorted = rows.toSeq.sortBy(_.doc_id)
      var st = state.getOption.getOrElse(
        BonState(0L, 0L, Long.MaxValue, Double.NegativeInfinity, None))
      sorted.foreach { c =>
        val s8 = st.s8 + math.round(c.q * 1e8)
        st =
          if (better(c.q, c.doc_id, st.bestQ, st.bestId))
            BonState(st.n + 1, s8, c.doc_id, c.q,
              if (st.n == 0) None else Some(st.bestQ))
          else
            // not displacing best → contend for runner-up by VALUE
            // (equal-q ties change rank ids, never the second_q value)
            BonState(st.n + 1, s8, st.bestId, st.bestQ,
              Some(st.secondQ.fold(c.q)(math.max(_, c.q))))
      }
      state.update(st)
      val mean = ((2 * st.s8 + st.n) / (2 * st.n)).toDouble / 1e8
      BonRow(group, st.n, st.bestId, st.bestQ, st.secondQ,
        st.secondQ.map(sq => FastRound.scale(st.bestQ - sq, 1e8, 8)), mean)
    }
    docs
      .select(floor(col("doc_id") / lit(g)).as("group_id"),
        col("doc_id"),
        graft.operators.TextOps.qualityScoreCol(col("text"), col("n_chars"))
          .as("q"))
      .as[BonCand]
      .groupByKey(_.group_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(update)
  }

  /** Streaming MULTIMODAL near-dup gate — the perceptual family's
    * live leg (round 13; the [[dedupDocsStreamGated]] idiom over
    * [[graft.operators.Multimodal.modalChunkBloom]]): each arriving
    * payload fingerprints statelessly (the SAME char_ngrams→simhash64
    * column as the batch [[graft.operators.Multimodal.modalDedupNear]])
    * and probes the standing corpus' chunk-key Bloom — flagged rows
    * route to the exact batch pairing, everything else ingests
    * without keying any streaming state. Certainty contract: a
    * payload IDENTICAL to a standing payload of the same modality
    * shares all four chunk keys and must flag; a near-dup within
    * Hamming ≤ 3 shares ≥1 chunk and must flag; modality-prefixed
    * keys mean a byte-identical payload under a DIFFERENT modality
    * does not collide by construction (down to the Bloom fpp).
    * Stateless projection — no shuffle, no state, 100 TB-stream-safe;
    * the Bloom broadcasts once per query (for a ROLLING windowed
    * corpus, wrap in the [[nearDupDocsStreamRolling]] foreachBatch
    * late-binding pattern instead).
    */
  def modalNearDupDocsStream(docs: DataFrame,
      bloom: org.apache.spark.util.sketch.BloomFilter): DataFrame = {
    val bc = docs.sparkSession.sparkContext.broadcast(bloom)
    docs
      .withColumn("modality",
        graft.operators.Multimodal.modalityOf(col("doc_id")))
      .withColumn("pfp",
        graft.operators.Multimodal.pfpCol(col("text")))
      .withColumn("candidate_near_dup",
        graft.operators.Multimodal.modalChunkHit(bc, col("modality"),
          col("pfp")))
      .drop("pfp")
  }

  case class PrefCand(source: String, doc_id: Long, n_chars: Long, q: Double)
  case class PrefEntry(doc_id: Long, n_chars: Long, q: Double)
  /** Per-group state of [[prefPairsStream]], kryo-encoded for the
    * reason [[TickStream.FfillState]] gives; a checkpoint written with
    * the product encoding needs a fresh one. */
  case class PrefPairState(cands: List[PrefEntry])
  case class PrefPairRow(source: String, chosen_id: Long, rejected_id: Long,
      chosen_q: Double, rejected_q: Double, margin: Double,
      chosen_chars: Long, rejected_chars: Long, accepted: Boolean,
      n_group: Long)

  /** Streaming PREFERENCE-PAIR mining — the live leg of
    * [[graft.operators.Preference.prefPairs]]: candidates arrive as
    * they are scored and each prompt group's quality-ranked
    * median-offset pair set refreshes in place, so the DPO miner runs
    * on a live corpus instead of waiting for a batch compaction.
    * Rolling-RANK state (flatMapGroupsWithState keyed on the group):
    * unlike [[bestOfNDocsStream]]'s top-2 leaderboard, median-offset
    * pairing is a GLOBAL-rank function of the whole group — rank i
    * pairs with rank i+⌊n/2⌋, and one arrival can shift every pair —
    * so the state is the group's full sorted candidate list
    * ((q desc, doc_id), three scalars per candidate) and each touched
    * group re-emits its complete refreshed pair set per microbatch
    * (Update mode — latest snapshot per group wins, `n_group` is the
    * monotone snapshot version a reader keeps the max of). State is
    * O(group size): the honest cost of exact global-rank maintenance;
    * the production corpus keys on the prompt id — thousands of
    * candidates at most per prompt — while few-fat-source corpora
    * (this synthetic) belong to the batch leg, exactly the split the
    * batch scaladoc's window-shuffle argument makes.
    *
    * Exactness: the final merged list is a pure sort of all arrivals
    * (arrival order cannot matter), scoring is the same stateless
    * [[graft.operators.TextOps.qualityScoreCol]] projection as batch,
    * and the margin takes [[FastRound]]'s bit-identical HALF_UP
    * display round — so after a full replay the last snapshot per
    * group is ROW-IDENTICAL to the batch pair set (spec-asserted).
    */
  def prefPairsStream(spark: SparkSession, docs: DataFrame):
      Dataset[PrefPairRow] = {
    import spark.implicits._
    def update(source: String, rows: Iterator[PrefCand],
        state: GroupState[PrefPairState]): Iterator[PrefPairRow] = {
      val merged = (state.getOption.map(_.cands).getOrElse(Nil) ++
        rows.map(c => PrefEntry(c.doc_id, c.n_chars, c.q)))
        .sortBy(e => (-e.q, e.doc_id))
      state.update(PrefPairState(merged))
      val n = merged.length
      val half = n / 2
      if (n < 2) Iterator.empty
      else {
        val arr = merged.toIndexedSeq
        (0 until (n - half)).iterator.map { i =>
          val c = arr(i)
          val r = arr(i + half)
          val margin = FastRound.scale(c.q - r.q, 1e8, 8)
          PrefPairRow(source, c.doc_id, r.doc_id, c.q, r.q, margin,
            c.n_chars, r.n_chars,
            margin >= graft.operators.Preference.PrefMinMargin, n.toLong)
        }
      }
    }
    docs
      .select(col("source"), col("doc_id"), col("n_chars"),
        graft.operators.TextOps.qualityScoreCol(col("text"), col("n_chars"))
          .as("q"))
      .as[PrefCand]
      .groupByKey(_.source)
      .flatMapGroupsWithState(OutputMode.Update(),
        GroupStateTimeout.NoTimeout)(update)(
        org.apache.spark.sql.Encoders.kryo[PrefPairState],
        implicitly[org.apache.spark.sql.Encoder[PrefPairRow]])
  }

  /** Streaming ANN serve — train offline, serve online for vector
    * search: a FITTED PQ index (built/loaded once,
    * [[graft.operators.Similarity.PqIndex]]) answers a stream of
    * probe vectors per microbatch via foreachBatch. Each batch is a
    * pure stream-static pipeline (broadcast probe tables → ADC scan →
    * exact rerank) with zero streaming state; per-probe results are
    * independent, so the union over microbatches equals one batch
    * search over all probes (spec-asserted). `writeBatch` receives
    * each microbatch's ranked results — the production sink is the
    * JDBC/parquet upsert legs of [[graft.sources.Sinks]].
    */
  def annServeStream(probeStream: DataFrame,
      idx: graft.operators.Similarity.PqIndex, corpus: DataFrame,
      rerank: Int = 32)(
      writeBatch: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    probeStream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      writeBatch(graft.operators.Similarity
        .annPqSearchProbes(idx, probeVectors(batch), corpus, rerank), batchId)
    }

  /** The graph-index flavor of [[annServeStream]]: the same
    * foreachBatch serve loop over a late-bound graph TIER
    * ([[graft.operators.Similarity.HnswSegmented]] — a main index plus
    * its open segments; a plain index is a tier with no segments).
    * Each probe microbatch searches whatever tier `tier` returns at
    * that batch — per-shard walks with zero streaming state — so serve
    * follows the appends AND compactions [[hnswSegmentMaintainStream]]
    * publishes mid-query with no restart, exactly like
    * [[nearDupDocsStreamRolling]]'s gate. At 100 TB shard sizes serve
    * a layered index: narrow beams keep latency down and the layer
    * descent keeps their recall (RecallProbe: 0.96 at efSearch=8 vs
    * the single layer's 0.66).
    */
  def annHnswServeStream(probeStream: DataFrame,
      tier: () => graft.operators.Similarity.HnswSegmented,
      efSearch: Int = 32)(
      writeBatch: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    probeStream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      writeBatch(graft.operators.Similarity.annHnswSearchSegmented(
        tier(), probeVectors(batch), efSearch), batchId)
    }

  /** Streaming CLUSTER-IDENTITY maintenance — the cross-run tier for
    * component labels, completing the standing-corpus dedup story:
    * the rolling exact and near-dup GATES answer "have we seen this
    * content", this answers "which cluster does it belong to" without
    * ever reclustering the corpus. Each microbatch of near-dup PAIRS
    * (`src`, `dst` — the output of the gate/LSH candidate tier; both
    * endpoints are taken as the batch's vertices) folds into the
    * standing `(id, label)` table via
    * [[graft.operators.Dedup.updateComponents]]: batch edges contract
    * to edges between standing labels, the batch-sized label graph
    * resolves, and only touched components relabel — cost per batch
    * is O(batch + touched components), never O(corpus). The published
    * label table is what [[graft.operators.Dedup.dedupCanonical]]-style
    * selection reads downstream.
    *
    * Same checkpoint-and-release discipline as [[hnswSegmentMaintainStream]]:
    * each generation is `localCheckpoint`ed so batch N's fold costs
    * O(batch) instead of re-walking every prior batch's joins, and
    * superseded generations' blocks free with a one-generation lag
    * (in-flight readers of N-1 get a batch interval to drain; the
    * caller's `initial` is never unpersisted).
    */
  def componentsMaintainStream(pairStream: DataFrame, initial: DataFrame)(
      onUpdate: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    var retiring: Option[DataFrame] = None
    maintainStream(pairStream, initial) { (labels, batch, _) =>
      val edges = batch.select(col("src"), col("dst"))
      val verts = edges.select(col("src").as("id"))
        .union(edges.select(col("dst").as("id"))).distinct()
      // keep the standing artifact hash-partitioned on id so the next
      // batch's single lookup join reuses this layout instead of
      // re-sorting the corpus (updateComponents' scale contract)
      val next = graft.operators.Dedup
        .updateComponents(labels, verts, edges)
        .repartition(col("id"))
        .localCheckpoint(eager = true)
      retiring.filter(r => !(r eq initial)).foreach(r =>
        org.apache.spark.sql.GraftShim.unpersistCheckpoint(r))
      retiring = Some(labels)
      (next, Seq(next))
    }(onUpdate)
  }

  /** [[componentsMaintainStream]] extended one consumer tier: each
    * pair microbatch folds the standing LABELS (via
    * [[graft.operators.Dedup.updateComponents]]'s detailed variant)
    * AND the standing CANONICAL table — the (doc → surviving
    * representative) map a dedup pass actually applies — using the
    * fold's touched-cluster set: only clusters this batch changed
    * re-run the selection window
    * ([[graft.operators.Dedup.updateCanonical]]), every other
    * canonical row carries verbatim. `scores` is the selection signal
    * (content length / quality — the same signal the batch canonical
    * queries use); it is scanned only for touched members. Publishes
    * the (labels, canonical) pair per batch with the same
    * one-generation checkpoint-release discipline; both standing
    * frames stay hash-partitioned on their join keys so the next
    * fold's lookups reuse the layout.
    */
  def canonicalMaintainStream(pairStream: DataFrame,
      initialLabels: DataFrame, initialCanon: DataFrame,
      scores: DataFrame)(
      onUpdate: ((DataFrame, DataFrame), Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    var retiring: List[DataFrame] = Nil
    maintainStream(pairStream, (initialLabels, initialCanon)) {
      case ((labels, canon), batch, _) =>
        val edges = batch.select(col("src"), col("dst"))
        val verts = edges.select(col("src").as("id"))
          .union(edges.select(col("dst").as("id"))).distinct()
        val (foldedLabels, touched) = graft.operators.Dedup
          .updateComponentsDetailed(labels, verts, edges)
        val nextLabels = foldedLabels
          .repartition(col("id")).localCheckpoint(eager = true)
        // checkpoint WITHOUT repartitioning: nothing consults the
        // standing canonical table by shuffle (its one consultation
        // is the broadcast anti-join, which ignores partitioning), so
        // a per-batch repartition would be an O(corpus) shuffle for
        // no consumer — exactly what the incremental tier exists to
        // avoid. Only the labels table's id layout is reused.
        val nextCanon = graft.operators.Dedup
          .updateCanonical(canon, nextLabels, touched, scores)
          .localCheckpoint(eager = true)
        retiring.filterNot(r => (r eq initialLabels) || (r eq initialCanon))
          .foreach(org.apache.spark.sql.GraftShim.unpersistCheckpoint)
        retiring = List(labels, canon)
        ((nextLabels, nextCanon), Seq((nextLabels, nextCanon)))
    } { case (pair, batchId) => onUpdate(pair, batchId) }
  }

  /** Streaming INDEX MAINTENANCE — the ingest-side dual of
    * [[annHnswServeStream]]: each microbatch of newly-arrived
    * embeddings becomes a SEGMENT of the standing tier (build cost
    * O(batch·log batch), `main` never touched —
    * [[graft.operators.Similarity.hnswAppendSegment]]), and the batch
    * that would open the `maxSegments`-th segment is instead folded,
    * with every open segment, into main by ONE rewrite
    * ([[graft.operators.Similarity.compactHnswSegments]] — id-ordered
    * insertion, so bit-identical to having appended each batch
    * directly, and no segment is built only to be folded). With
    * `maxSegments = 1` every batch appends directly
    * ([[graft.operators.Similarity.updateHnswIndex]]), rewriting the
    * whole standing index each microbatch; a larger bar amortizes that
    * O(index) rewrite over the batches between compactions, at the
    * price of one more walk per open segment on serve. Both policies
    * maintain the same way: segments and folds keep main's policy.
    *
    * The updated tier is handed to `onUpdate`, publish-then-swap:
    * serve probes whatever the last completed batch published. Fresh
    * segments and compacted mains are `localCheckpoint`ed — appends
    * are LAZY, so without truncation batch N's index would re-walk
    * every prior batch's insertion on every action; the checkpoint
    * makes each append's cost O(that batch) and unpins the microbatch
    * source it derived from. A compaction retires a whole tier (old
    * main + every folded segment); its checkpoint blocks are released
    * one generation later, so a probe batch already in flight against
    * it gets a full batch interval to drain before its blocks vanish
    * (a localCheckpoint cannot recompute — lineage is truncated).
    * Without the release, a long-running query leaves every
    * generation's pinned blocks to ContextCleaner GC. The caller's
    * `initial` tier is never unpersisted.
    */
  def hnswSegmentMaintainStream(embStream: DataFrame,
      initial: graft.operators.Similarity.HnswSegmented,
      maxSegments: Int = 8, maxDeg: Int = 8, efConstruction: Int = 32)(
      onUpdate: (graft.operators.Similarity.HnswSegmented, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    var retiring: List[DataFrame] = Nil
    val initialNodes = (initial.main +: initial.segments).map(_.nodes).toSet
    maintainStream(embStream, initial) { (tier, batch, _) =>
      val vecs = batch.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      retiring.foreach(org.apache.spark.sql.GraftShim.unpersistCheckpoint)
      retiring = Nil
      val next = if (tier.segments.length + 1 >= maxSegments) {
        val compacted = graft.operators.Similarity
          .compactHnswSegments(tier, maxDeg, efConstruction, Some(vecs))
        retiring = (tier.main +: tier.segments).map(_.nodes)
          .filterNot(initialNodes).toList
        compacted.copy(main = compacted.main.copy(
          nodes = compacted.main.nodes.localCheckpoint(true)))
      } else {
        val opened = graft.operators.Similarity
          .hnswAppendSegment(tier, vecs, maxDeg, efConstruction)
        opened.copy(segments = opened.segments.init :+ opened.segments.last
          .copy(nodes = opened.segments.last.nodes.localCheckpoint(true)))
      }
      (next, Seq(next))
    }(onUpdate)
  }

  /** (probe_id, p_v, p_norm) from an embeddings-shaped microbatch —
    * the one probe-preparation both serve streams share.
    */
  private def probeVectors(batch: DataFrame): DataFrame =
    batch
      .select(col("vec_id").as("probe_id"),
        col("embedding").cast("array<double>").as("p_v"))
      .withColumn("p_norm",
        sqrt(graft.operators.Dedup.dot(col("p_v"), col("p_v"))))
}
