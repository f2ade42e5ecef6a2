package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale probe: replicates the sf0.1 tick table N× (distinct key
  * space per replica, so key cardinality scales too) and times the
  * operators that aren't in the Bench headline. Near-linear wall
  * clock across replicas is the evidence that per-key state stays
  * O(window) and no stage is quadratic.
  *
  * Usage: sbt "runMain graft.ScaleProbe [replicas] [only:a,b,...]"
  * — the optional `only:` arg restricts the run to the named probes
  * (new-operator rounds probe their additions at 5×/20×/50× without
  * paying the whole battery three times).
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    // both args are optional and order-free: the replica count is the
    // first NON-`only:` token, so `runMain graft.ScaleProbe
    // only:pref_pairs` works without an explicit count
    val replicas = args.filterNot(_.startsWith("only:"))
      .headOption.map(_.toInt).getOrElse(20)
    val only: Set[String] = args.find(_.startsWith("only:"))
      .map(_.stripPrefix("only:").split(",").toSet).getOrElse(Set.empty)
    val spark = Session.local(Session.cpus)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    val base = Tables.events(spark, dir)
    val big = (0 until replicas).map { i =>
      base.withColumn("user_id", col("user_id") + lit(i * 1000000L))
        .withColumn("event_id", col("event_id") + lit(i * 100000000L))
    }.reduce(_ unionByName _)
    big.write.mode("overwrite").format("noop").save() // warm cache/JIT

    def time(name: String)(df: => DataFrame): Unit = {
      if (only.nonEmpty && !only(name)) return
      val t0 = System.nanoTime()
      df.write.mode("overwrite").format("noop").save()
      println(f"[scale] $name%-16s ${(System.nanoTime() - t0) / 1e9}%8.2f s " +
        f"(${replicas}x = ${replicas * 100}%d k ticks)")
      // builder-internal caches (importance tf, perplexity bigrams)
      // must not sit in executor memory while LATER operators are
      // timed — each probe starts from a cold cache
      spark.catalog.clearCache()
    }

    val views = big.filter(col("event_type") === "view").drop("event_type")
    val purchases = big.filter(col("event_type") === "purchase")
      .groupBy("user_id", "ts")
      .agg(max("event_id").as("event_id"), max_by(col("value"), col("event_id")).as("value"))
    time("asof_join")(operators.AsofJoin.asofJoin(
      views, purchases, Seq("user_id"), "ts", Seq("event_id", "value"), "p_"))
    val errors = big.filter(col("event_type") === "error")
      .select("event_id", "ts", "user_id")
    time("range_join")(operators.RangeJoin.rangeJoin(
      views.select("event_id", "ts", "user_id"), errors,
      Seq("user_id"), "ts", 14400.0, Seq("event_id"), "e_"))

    // per-key ARIMA fits: key count scales with replicas, so this
    // times #keys × (grid fit + walk-forward backtest)
    val validTicks = operators.Warehouse.validTicksOf(big)
      .select("user_id", "event_id", "ts", "value")

    // pairwise return correlation across growing SYMBOL universes:
    // pair count is inherently quadratic, so the evidence of the
    // bucketed tile join is (a) wall clock growing far slower than
    // pairs² thanks to #dates·buckets² parallel tiles and (b) no
    // single straggler task. Universe = sf0.01's 150 symbols × k.
    if (only.isEmpty || only("return_corr")) {
      val small = Tables.events(spark,
        dir.replace("sf0.1", "sf0.01"))
      for (k <- Seq(1, 5, 10).filter(_ <= replicas)) {
        val uni = (0 until k).map { i =>
          small.withColumn("user_id", col("user_id") + lit(i * 1000000L))
            .withColumn("event_id", col("event_id") + lit(i * 100000000L))
        }.reduce(_ unionByName _)
        val rets = operators.Warehouse.dailyReturnsOf(
          operators.Warehouse.validTicksOf(uni))
        val t0 = System.nanoTime()
        operators.Warehouse.returnCorrOf(rets)
          .write.mode("overwrite").format("noop").save()
        println(f"[scale] return_corr     ${(System.nanoTime() - t0) / 1e9}%8.2f s " +
          f"(${k * 150}%d symbols, ~${(k * 150L) * (k * 150L) / 2000}%d k pairs)")
      }
      spark.catalog.clearCache()
    }
    // the round-9 OHLC kernel: one partial aggregate (min_by/max_by
    // map-side combine) — shuffle volume is (symbol, day) partials,
    // so the line must stay near the scan floor at every replica
    // count (the pre-round-9 window shape shuffled every tick)
    time("daily_ohlc")(operators.Warehouse.dailyOhlcOf(big))
    // the two fold-heavy round-9 indicators over the replicated daily
    // frame: cci carries a 20-double list per day row (constant), the
    // SAR state machine folds O(days) per symbol — both must track
    // daily_ohlc's near-linear line, never a quadratic one
    locally {
      val bigDaily = operators.Warehouse.dailyOhlcOf(validTicks)
      time("cci")(operators.Warehouse.cciOfDaily(bigDaily))
      time("psar")(operators.Warehouse.psarOfDaily(bigDaily))
    }
    time("arima_forecast")(operators.Forecast.arimaForecastTicks(validTicks))
    time("forecast_acc")(operators.Forecast.forecastAccuracyTicks(validTicks))

    // corpus curation over a replicated documents table (distinct ids
    // per replica; the eval probe set stays the fixed 10 docs)
    val docs = Tables.documents(spark, dir)
    val bigDocs = (0 until replicas).map { i =>
      docs.withColumn("doc_id", col("doc_id") + lit(i * 10000000L))
    }.reduce(_ unionByName _)
    time("gopher_filters")(operators.Curation.gopherFiltersDocs(bigDocs))
    // rare-gram containment: the gram explode + df window must stay
    // near-linear; on this pathological corpus (every replica repeats
    // the text) shared grams blow straight past the df ceiling and
    // drop — the cap doing its job, so the line prices candidate
    // GENERATION, not an all-pairs join
    time("containment")(operators.Dedup.containmentDocs(bigDocs))
    time("decontaminate")(operators.Curation.decontaminateDocs(bigDocs))
    time("pack_sequences")(operators.Curation.packSequencesDocs(bigDocs))
    time("gopher_quality")(operators.Curation.gopherQualityDocs(bigDocs))
    time("line_dedup")(operators.Curation.lineDedupDocs(bigDocs))
    time("span_dedup")(operators.Curation.spanDedupDocs(bigDocs))
    time("gopher_chain")(operators.Curation.gopherChainDocs(bigDocs))
    time("tfidf")(operators.TextOps.tfidfDocs(bigDocs))
    time("importance_w")(operators.Curation.importanceWeightsDocs(bigDocs))
    time("importance_h")(operators.Curation.hashedImportanceScore(bigDocs,
      operators.Curation.hashedImportanceModel(bigDocs)))
    time("perplexity")(operators.TextOps.perplexityDocs(bigDocs))
    // deterministic shard-order: the per-shard rank window must scale
    // like a partitioned sort (near-linear), never like a global one;
    // shards scale with the corpus (128 docs per shard, the same
    // ratio production uses) so per-shard work stays constant
    time("shard_order")(operators.Curation.shardOrderDocs(bigDocs,
      numShards = math.max(8, replicas * 4)))
    // Gumbel top-k resample: cost = the weights pass + a distributed
    // top-k (per-partition heaps); must track importance_w, never a
    // global sort
    time("dsir_resample")(operators.Curation.dsirResampleDocs(bigDocs))
    // content-keyed split: a pure projection — must stay flat per row
    time("data_split")(operators.Curation.dataSplitDocs(bigDocs))
    // leakage audit over an arithmetic canonical (pairs of adjacent
    // ids, 80% coverage — the 20% singleton fallback leg runs too):
    // times the 3-strategy melt + both channel aggs WITHOUT paying
    // cluster resolution; must track data_split's scan, not square it
    val probeCanon = bigDocs
      .filter(col("doc_id") % 5 < 4)
      .select(col("doc_id"),
        (col("doc_id") - col("doc_id") % 2).as("cluster_id"))
      .withColumn("canonical_id", col("cluster_id"))
    time("split_leakage")(
      operators.Curation.splitLeakageOf(bigDocs, probeCanon))
    // pack summary: must ride the pack prefix sum (one small row per
    // doc), adding only a single partial-agg collapse on top
    time("pack_stats")(operators.Curation.packStatsDocs(bigDocs))
    // dyadic length histogram: narrow scan + ~60-cell agg — the
    // narrow-doc-op floor
    time("doc_len_hist")(operators.TextOps.docLengthHistDocs(bigDocs))
    // first-seen novelty: the decontaminate-style gram explosion plus
    // ONE min-window on the gram key — must track the gram family's
    // cost, never add a second corpus-scale pass
    time("ngram_novelty")(operators.Curation.ngramNoveltyDocs(bigDocs))
    // no-split packer: a ≤budget-cell histogram collapse + driver FFD
    // + one per-length rank window — must track the narrow-doc floor
    // (driver state is histogram-sized regardless of replicas)
    time("pack_bestfit")(operators.Curation.packBestFitDocs(bigDocs))
    // per-modality decode batches through the same grouped kernel
    time("modal_batches")(operators.Curation.modalBatchesDocs(bigDocs))
    // CMS heavy hitters: the sketch pass is a fixed-grid map-side
    // merge + the exact top-k verifier pass — two linear scans, the
    // sketch side flat in state no matter the vocabulary
    time("heavy_hitters")(operators.TextOps.heavyHittersDocs(bigDocs))
    // Misra-Gries: one mapPartitions pass + a (partitions x k)-entry
    // driver merge + the survivors-only exact join — must track the
    // CMS line (both are single-scan summaries)
    time("heavy_hitters_mg")(operators.TextOps.heavyHittersMgDocs(bigDocs))
    // round-10 per-row text transforms: HOF folds inside the row —
    // must track the gopher-chain narrow-scan line exactly (zero
    // shuffle, linear in rows)
    time("fim")(operators.Curation.fimDocs(bigDocs))
    time("lang_mix")(operators.TextOps.langMixDocs(bigDocs))
    // PII density: codegen'd regexp counts + ONE source-keyed partial
    // agg — the domain-stats floor
    time("pii_stats")(operators.Curation.piiStatsDocs(bigDocs))
    // epoch-mix plan: one (source, sum) aggregate then sources-sized
    // windows — must price as a single corpus agg, flat above it
    time("epoch_mix")(operators.Curation.epochMixDocs(bigDocs))
    // round-11 curation: curriculum = tokenize + broadcast-vocab join
    // + doc-keyed collapse (must track the token_count line, not the
    // gram explodes); boilerplate = one (source, gram) exchange;
    // dataset_card = one source-keyed partial agg; eval_contam = the
    // decontaminate broadcast probe + a per-eval-doc collapse. On
    // this pathological corpus every replica repeats the text, so
    // boilerplate template hits and eval-contamination breadth GROW
    // with replicas — the lines price the plumbing, not the verdicts
    time("curriculum")(operators.Curation.curriculumDocs(bigDocs))
    time("boilerplate")(operators.Curation.boilerplateDocs(bigDocs))
    time("dataset_card")(operators.Curation.datasetCardDocs(bigDocs))
    time("eval_contam")(operators.Curation.evalContaminationDocs(bigDocs))
    // the gram-keyed exchange + source-spread window; on the
    // replicated corpus every gram is maximally syndicated (each
    // replica repeats the text under the same source labels), so the
    // line prices the exchange, not the verdicts
    time("syndication")(operators.Curation.syndicationDocs(bigDocs))
    // round-12 preference tier: pref_pairs = score scan + few-fat
    // source windows + the role-explode pair agg (must track the
    // quality_prune window line); best_of_n = millions of tiny group
    // windows (the benign regime — must track the narrow-scan floor)
    time("pref_pairs")(operators.Preference.prefPairsDocs(bigDocs))
    time("best_of_n")(operators.Preference.bestOfNDocs(bigDocs))
    // round-13 tail: the deflate kernel is pure per-row work — the
    // line must track the scan floor (any super-linearity would mean
    // the thread-local Deflater reuse broke under task parallelism)
    time("compress_ratio")(operators.Curation.compressRatioDocs(bigDocs))
    // unigram encode with the model fitted ONCE on the base corpus
    // (replicas repeat the same words, so the memo hit rate is the
    // production regime; fit itself is vocab-scale driver work)
    if (only.isEmpty || only("unigram_encode")) {
      val uniModel = operators.Unigram.fitModelDocs(docs)
      time("unigram_encode")(operators.Unigram.encodeDocsWith(bigDocs, uniModel))
    }
    // edit dedup on the replicated corpus is its own stress case:
    // every replica repeats the text, so each prefix block holds all
    // R copies (≤ the 64 cap) and pairs/block grow as R² of
    // IDENTICAL texts — the line prices the banded Levenshtein
    // kernel at maximal block occupancy, far past any real corpus
    time("dedup_edit")(operators.Dedup.editDedupDocs(bigDocs))
    // the scorecard composes four bounded constituents — must price
    // as their sum plus doc-keyed joins, never multiply them
    time("dedup_scorecard")(operators.Dedup.dedupScorecardDocs(bigDocs))
    // round-13 perceptual multimodal tier: near-dup pairs must price
    // as the simhash chunk join (replica copies collide as R²
    // in-modality pairs per payload — same maximal-occupancy stress
    // as dedup_edit but with the O(1) xor verify, so the line should
    // sit far UNDER dedup_edit's); cluster resolution adds the
    // component engine + one cluster window on top — it must track
    // the pair line plus a bounded-closure increment, never square it
    time("modal_dedup_near")(operators.Multimodal.modalDedupNearDocs(bigDocs))
    time("modal_near_clusters")(
      operators.Multimodal.modalNearClustersDocs(bigDocs))

    // ANN index families over a replicated embedding corpus (distinct
    // vec_ids per replica; probes stay the fixed vec_id < 5 set).
    // Shard count scales WITH the replicas (one shard per replica's
    // 2000 vectors) — the per-shard NSW build is O(n_shard · ef ·
    // deg), so constant-SIZE shards are what keep build time flat per
    // executor at 100 TB, and that is the regime this probe measures.
    val emb = Tables.embeddings(spark, dir)
    val bigEmb = (0 until replicas).map { i =>
      emb.withColumn("vec_id", col("vec_id") + lit(i * 10000000L))
    }.reduce(_ unionByName _)
    // vector QA gate: map-side norm folds into a labels-sized agg —
    // must stay a flat per-vector scan (vectors never shuffle)
    time("embed_quality")(operators.Similarity.embeddingQualityOf(bigEmb))
    val corpus = operators.Similarity.vecsOf(bigEmb).toDF("vec_id", "v", "norm")
    val nswIdx = operators.Similarity.hnswIndexOf(corpus,
      numShards = math.max(8, replicas), layered = false)
    time("nsw_build")(nswIdx.nodes)
    val cached = nswIdx.copy(nodes = nswIdx.nodes.cache())
    cached.nodes.count(): Unit
    time("nsw_search")(operators.Similarity.annHnswSearch(cached, corpus))
    cached.nodes.unpersist(): Unit
    val hnswIdx = operators.Similarity.hnswIndexOf(corpus,
      numShards = math.max(8, replicas))
    time("hnsw_build")(hnswIdx.nodes)
    val hcached = hnswIdx.copy(nodes = hnswIdx.nodes.cache())
    hcached.nodes.count(): Unit
    time("hnsw_search")(operators.Similarity.annHnswSearch(hcached, corpus))
    // micro-append economics at scale: a 100-vector batch into the
    // replicas×2k-node standing index. The DIRECT append rewrites
    // every index row (O(index) per batch — it must grow with the
    // replicas); the SEGMENT append builds a 100-node graph and
    // leaves main untouched (O(batch) — it must stay flat). The gap
    // between these two lines is the reason hnswSegmentMaintainStream
    // runs segmented.
    val batch100 = corpus.filter(col("vec_id") < 100)
      .select((col("vec_id") + 900000000L).as("vec_id"), col("v"))
      .localCheckpoint(true) // pin the batch: its cost must not ride
                             // the replica-scaled input scan
    hcached.nodes.cache().count(): Unit // time() clears the cache
    time("hnsw_append_dir")(
      operators.Similarity.updateHnswIndex(hcached, batch100).nodes)
    hcached.nodes.cache().count(): Unit
    time("hnsw_append_seg")(operators.Similarity.hnswAppendSegment(
      operators.Similarity.HnswSegmented(hcached, Nil), batch100)
      .segments.head.nodes)
    hcached.nodes.unpersist(): Unit
    time("opq_index")(operators.Similarity.opqIndexOf(corpus).encoded)

    // INCREMENTAL component maintenance vs from-scratch at a standing
    // corpus that scales with the replicas: replicas×200k vertices in
    // path-shaped 4-vertex components (labels known arithmetically —
    // no need to pre-solve), one fixed 100-merge-edge + 50-new-id
    // batch folded in. The fold's only corpus-scale operations are a
    // single batch-keyed lookup join and the narrow broadcast relabel,
    // so its line must stay near-FLAT while the from-scratch line
    // grows with the corpus — the gap is the reason the incremental
    // tier exists (this probe at 20× / 4M vertices: 2.5 s fold vs
    // 29.9 s from scratch, ≈12× — the SURVEY §6 number).
    locally {
      val n = replicas * 200000L
      val verts = spark.range(n).select(col("id"))
      val edges = spark.range(n).filter(col("id") % 4 =!= 3)
        .select(col("id").as("src"), (col("id") + 1).as("dst"))
        .localCheckpoint(true)
      val standing = verts
        .select(col("id"), (col("id") - col("id") % 4).as("label"))
        .repartition(col("id")).localCheckpoint(true)
      val batchEdges = spark.range(100)
        .select((col("id") * (n / 200)).as("src"),
          ((col("id") * (n / 200)) + n / 400).as("dst"))
        .localCheckpoint(true)
      val batchVerts = spark.range(50).select((col("id") + n).as("id"))
        .localCheckpoint(true)
      time("cc_incr_fold")(operators.Dedup.updateComponents(
        standing, batchVerts, batchEdges))
      time("cc_from_scratch")(operators.Dedup.connectedComponents(
        verts.union(batchVerts), edges.union(batchEdges)))
    }
    spark.stop()
  }
}
