package graft

import org.apache.spark.sql.DataFrame

/** Benchmark main: runs the headline queries at SPARK_GRAFT_SF_DIR and
  * prints ONE JSON metrics line. Results are materialized through the
  * noop sink so every column is computed (a bare .count() would let
  * Catalyst prune the expensive projections and under-report).
  */
object Bench {

  /** Representative slice of SURVEY.md §2: relational, warehouse,
    * indicator, dedup/similarity, text and ML operators. This group's
    * membership is FROZEN so totals stay comparable round-over-round.
    */
  val headline: Seq[String] = Seq(
    "q1_agg", "q3_join", "q5_multijoin",
    "q_daily_ohlc", "q_sessionize", "q_window_agg",
    "q_analytics_full", "q_alerts",
    "q_dedup_minhash", "q_dedup_embedding", "q_ann_bruteforce",
    "q_token_count", "q_quality_score",
    "q_linreg_autoreg", "q_arima_forecast")

  /** Second group: the curation / retrieval / importance families the
    * frozen headline predates — regressions here were previously
    * invisible to BENCH_r*.json. Reported under "extended" with its
    * own total; the headline "value" stays comparable.
    */
  val extended: Seq[String] = Seq(
    "q_curation_pipeline", "q_line_dedup", "q_tfidf",
    "q_importance_weights", "q_perplexity", "q_return_corr",
    // round 8: the Gumbel resample rides the weights pass + a
    // distributed top-k — tracked so a sort-shaped regression shows
    "q_dsir_resample",
    // round 9: the daily-series indicator tier (rides the reworked
    // one-aggregate OHLC kernel) and the no-split histogram packer —
    // tracked so a kernel or rank-window regression shows
    "q_stochastic", "q_pack_bestfit",
    // round 9 continuation: the SAR state-machine fold — the fold
    // tier's most stateful plan, tracked so an accumulator-shaped
    // regression (collect_list blowup, lost map-side combine) shows
    "q_psar",
    // round 10: the per-row HOF-fold text transforms (block language
    // classification; FIM rewrite) — tracked so a regression that
    // breaks the zero-shuffle narrow-scan shape shows
    "q_lang_mix", "q_fim",
    // round 11: the curriculum rank — tracked so a regression in the
    // broadcast-vocab surprisal join or the bucket-offset global
    // order (a reintroduced single-task window would 1-partition the
    // corpus sort) shows
    "q_curriculum")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Session.cpus
    val spark = Session.local(cpus)

    // PER-QUERY EXECUTOR TASK-TIME (round 14, additive): the driver's
    // 8-vs-32-core scaling check reads wall-clock ratios, and after
    // round 13 the sf0.1 suite is per-query-overhead-bound — wall
    // ratios ≈ 1 at every width, which the heuristic misread as "the
    // harness ignores $SPARK_GRAFT_CPUS". Task time is the legible
    // signal: it sums executor compute across all cores, so a width
    // change leaves it ~constant while per-core occupancy shifts —
    // wall ≈ task/cores only when compute-bound. Recorded per query
    // (the run that set the warm minimum) under NEW JSON keys; every
    // pre-existing key and its meaning is unchanged. The counter
    // drains the listener bus on every read, so a query's deltas
    // hold exactly its own tasks.
    val counter = JobCounter.attach(spark)
    val taskSec = scala.collection.mutable.LinkedHashMap.empty[String, Double]

    // JVM/session warmup outside the timed region; never let it kill
    // the run — the metrics line below must always print
    try SparkEntry.queries("q1_agg")(spark, sfDir).write
      .format("noop").mode("overwrite").save()
    catch { case e: Throwable => System.err.println(s"[bench] warmup: $e") }

    // FIXED-WORK CALIBRATION (round 12): a constant-work single-thread
    // CPU loop plus one tiny fixed Spark job, timed after warmup and
    // before any graded query — an ambient-environment fingerprint
    // inside the artifact itself. Rounds 9 and 11 both printed
    // uniformly-inflated driver numbers with zero plan changes, and
    // attributing that required same-box re-runs; now, if calibration
    // inflates in step with the totals, the environment moved (shared
    // box, JIT/GC alignment), not the operators. The loop is a fixed
    // 2×10⁸-step xorshift (seed constant, result consumed so it
    // cannot be dead-code-eliminated); the Spark job is a fixed
    // 10⁷-row range sum through the noop sink.
    val calibCpuMs = {
      var x = 0x9E3779B97F4A7C15L
      var i = 0
      val t0 = System.nanoTime()
      while (i < 200000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1
      }
      val ms = (System.nanoTime() - t0) / 1e6
      if (x == 42L) System.err.println("[bench] calibration sentinel")
      ms
    }
    // the same fixed work run on EVERY core at once: single-thread
    // calibration is stable under noisy neighbors, but the graded
    // queries are parallel — a shared box under load inflates this
    // leg while cpu_ms holds, separating core contention from
    // single-thread slowdown in the artifact
    val calibMtMs = {
      val threads = Runtime.getRuntime.availableProcessors()
      val t0 = System.nanoTime()
      val ts = (1 to threads).map { s =>
        val t = new Thread(() => {
          var x = 0x9E3779B97F4A7C15L + s
          var i = 0
          while (i < 100000000) {
            x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1
          }
          if (x == 42L) System.err.println("[bench] mt sentinel")
        })
        t.start(); t
      }
      ts.foreach(_.join())
      (System.nanoTime() - t0) / 1e6
    }
    val calibSparkMs =
      try {
        val t0 = System.nanoTime()
        // modulo keeps the fixed sum inside Long under ANSI overflow
        // checking (a raw id × prime product would throw)
        spark.range(10000000L)
          .selectExpr("sum(id % 1000003) AS s")
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e6
      } catch { case e: Throwable =>
        System.err.println(s"[bench] calibration: $e"); -1.0 }

    // min-of-N per query: single runs swing ±25% with machine noise
    // (page cache, JIT, GC alignment — measured across rounds 4-5);
    // the minimum is the stable estimator of achievable time.
    // Failures short-circuit a query's remaining runs.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(1)
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]

    // (name, warm, cold): warm is the min over runs — the steady-state
    // estimate the totals grade; cold is run 1 as measured — planning,
    // codegen compilation and AQE re-planning included, so cold−warm
    // is per-query fixed overhead (NOT disk-cold I/O: the OS page
    // cache is shared across queries touching the same parquet, and
    // q1_agg's warmup already faulted the session in)
    def minOfRuns(name: String)(thunk: () => DataFrame): (String, Double, Double) = {
      var best = Double.MaxValue
      var cold = 0.0
      var lastErrSecs = 0.0
      var anyOk = false
      var halted = false
      var i = 0
      while (!halted && i < runs) {
        val task0 = counter.read().taskMs
        val t0 = System.nanoTime()
        val ok =
          try { thunk().write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable => System.err.println(s"[bench] $name: $e"); false }
        val secs = (System.nanoTime() - t0) / 1e9
        // an error stops this query's remaining runs, but a minimum
        // already measured from a COMPLETED run stands — only a query
        // with zero successful runs is graded failed
        if (ok) {
          anyOk = true
          if (secs < best) {
            best = secs
            // task seconds of the SAME run the warm minimum came from
            taskSec(name) = (counter.read().taskMs - task0) / 1e3
          }
        }
        else { halted = true; lastErrSecs = secs }
        if (i == 0) cold = if (ok) secs else -secs
        i += 1
      }
      if (!anyOk) failed += name
      (name, if (anyOk) best else -lastErrSecs, cold)
    }

    def runGroup(names: Seq[String]): Seq[(String, Double, Double)] =
      names.map(name => minOfRuns(name)(() => SparkEntry.queries(name)(spark, sfDir)))

    val results = runGroup(headline)
    val extResults = runGroup(extended) ++ {
      // the ANN serve paths: search against PREBUILT indexes (build
      // cost excluded — that is q_ann_pq / q_ann_hnsw's number); this
      // is the per-probe-batch latency an online retrieval user pays,
      // for the compressed-scan family (PQ) and the graph family
      // (HNSW) side by side. Each build runs under the same failure
      // discipline as the queries: a crashed build grades its serve
      // entry failed (negative time + penalty) instead of killing the
      // whole run before the metrics line prints.
      def servePath(name: String)(prep: () => (() => DataFrame, () => Unit)): (String, Double, Double) =
        try {
          val (thunk, cleanup) = prep()
          val r = minOfRuns(name)(thunk)
          cleanup()
          r
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name index build: $e")
            failed += name
            // strictly negative: -0.0 would dodge the `< 0` penalty
            (name, -0.001, -0.001)
        }
      val corpus = operators.Similarity.vecs(spark, sfDir).toDF("vec_id", "v", "norm")
      val rPq = servePath("q_ann_pq_search") { () =>
        val idx = operators.Similarity.pqIndex(spark, sfDir)
        idx.encoded.cache().count(): Unit
        (() => operators.Similarity.annPqSearch(idx, corpus, 32),
          () => { idx.encoded.unpersist(): Unit })
      }
      val rHnsw = servePath("q_ann_hnsw_search") { () =>
        val hidx = operators.Similarity.hnswIndex(spark, sfDir)
        hidx.nodes.cache().count(): Unit
        (() => operators.Similarity.annHnswSearch(hidx, corpus),
          () => { hidx.nodes.unpersist(): Unit })
      }
      Seq(rPq, rHnsw)
    }

    // STREAMING group: end-to-end rows/second of the four stateful
    // operators over the events table staged as an 8-file stream
    // (identical source shape to `Probe stream`, whose numbers previously
    // lived only in SURVEY prose — in the artifact, a streaming-tier
    // regression is visible round over round). One run each: a
    // streaming query amortizes source+state+sink over the whole
    // table, so per-run variance is far below the batch queries'.
    // Rates are rows/s (HIGHER is better, unlike the seconds above);
    // a crashed operator reports -1 and lands in errors.
    // The group runs at `Probe stream`'s shuffle-partition shape (8, not
    // the batch session's cpus-sized count): the stateful operators'
    // per-batch cost is dominated by state-store tasks × batches, so
    // the divisor — not the operator — owned the number when the two
    // harnesses disagreed. Pinning (and recording) the shape makes
    // the round-over-round delta mean the operator changed. A
    // malformed override falls back to the default instead of killing
    // the run before the metrics line prints.
    val streamParts = sys.env.get("SPARK_GRAFT_STREAM_PARTS")
      .flatMap(_.toIntOption).getOrElse(8).max(1)
    // 3 matches the batch tier's min-of-3 discipline: with 2, one
    // ambient-contended run plus the JIT-cold first run still prints
    // an inflated-looking number (r12 local: best-of-2 read 20.8k on
    // a leg whose quiet-window steady state is 25-27k)
    val streamRuns = sys.env.get("SPARK_GRAFT_STREAM_RUNS")
      .flatMap(_.toIntOption).getOrElse(3).max(1)
    // per-run scratch (staged corpus copy + checkpoints), deleted in
    // a FINALLY — a crashed stage must not leave corpus copies
    // accumulating in /tmp across rounds
    val cleanups = scala.collection.mutable.ArrayBuffer.empty[String]
    val streaming: Seq[(String, Double)] = try {
      spark.conf.set("spark.sql.shuffle.partitions", streamParts)
      val (flat, schema, total) = Probe.stageEvents(spark, sfDir, 8)
      cleanups += flat
      // best-of-N per stream, N=3 (round 12; see streamRuns — first
      // shipped as 2, raised to match the batch discipline): the
      // batch queries have
      // graded min-of-3 steady state since round 4, while each stream
      // ran ONCE — so its number carried the one-time codegen/JIT cost
      // of the fold path (run 1 → 2 on a warm session is
      // +50-70% for the daily-bar leg) and two rounds of driver
      // artifacts printed ambient-inflated stream numbers nobody could
      // attribute. Each run gets a FRESH checkpoint (fresh state —
      // the operator does all its work again); the best rate is the
      // steady-state estimate, recorded with "stream_runs" so the
      // protocol change is visible in the artifact.
      def sprobe(name: String)(
          build: DataFrame => DataFrame): (String, Double) = {
        var best = -1.0
        for (_ <- 1 to streamRuns) {
          val ckpt = java.nio.file.Files.createTempDirectory(s"bench_$name").toString
          cleanups += ckpt
          // stop() stays inside the timed region, as in every prior
          // round's artifact, so the metric definition is unchanged;
          // a run that throws is stopped before the error reaches here
          try {
            val (secs, _) = Probe.runLeg(spark, flat, schema, ckpt)(build)
            best = math.max(best, total / secs)
          } catch { case e: Throwable =>
            System.err.println(s"[bench] $name: $e")
          }
        }
        // a stream with ZERO successful runs grades failed (-1 rate +
        // errors entry), matching the batch minOfRuns discipline
        if (best < 0) failed += name
        name -> best
      }
      Probe.streamLegs.map { case (leg, build) =>
        sprobe(s"stream_$leg")(build(spark, _))
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] streaming stage: $e")
      failed += "streaming_stage"
      Seq.empty
    } finally {
      cleanups.foreach(Probe.deleteRecursively)
      spark.conf.set("spark.sql.shuffle.partitions", cpus)
    }

    def fmt(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    // failed queries report negative elapsed per-query and charge a
    // fixed 999 s penalty into the total, so a fast crash makes the
    // headline number strictly WORSE, never a phantom speedup; the
    // errors array names the culprits
    def tot(rs: Seq[(String, Double)]): Double =
      rs.collect { case (_, v) if v >= 0 => v }.sum +
        rs.count(_._2 < 0) * 999.0
    val errs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val warm = results.map(r => r._1 -> r._2)
    val extWarm = extResults.map(r => r._1 -> r._2)
    val cold = (results ++ extResults).map(r => r._1 -> r._3)
    // CALIBRATION-NORMALIZED totals (round 13, closing the round-12
    // loop): round-over-round comparison previously needed narrative
    // arithmetic ("cpu_ms inflated too ⇒ normalize by the ratio");
    // now the artifact carries it. The reference constants are the
    // measured quiet-window values on the round box (SURVEY §6:
    // cpu_ms 441-469 stable across runs whose totals swung ±18%,
    // mt_ms ≈ 270): normalized = total × (CPU_MS_REF / cpu_ms)
    // rescales for a genuinely slower/faster CPU, and mt_contended
    // flags the cores-stolen signature (mt_ms inflated ≥ 15% while
    // cpu_ms is the wrong lever) — when it is true, the parallel
    // legs' inflation is contention, NOT operator regression, and
    // the normalized totals UNDERCORRECT (single-thread ratio can't
    // see stolen cores), so read them as a lower bound on the drift.
    val CpuMsRef = 455.0
    val MtMsRef = 270.0
    val cpuRatio = if (calibCpuMs > 0) CpuMsRef / calibCpuMs else 1.0
    val mtContended = calibMtMs > MtMsRef * 1.15
    def norm(x: Double): Double = math.rint(x * cpuRatio * 1e6) / 1e6
    // two lines, detail FIRST: the driver keeps only the tail of
    // stdout, and the full detail line (headline + extended + cold
    // maps) outgrew it — so the LAST line is a compact summary that
    // always fits whole in the tail and carries every graded total,
    // plus the headline per-query map (the original contract shape).
    // The detail line above it keeps the full per-query record for
    // anyone reading the artifact directly.
    // task_sec (round 14, additive key): per-query executor task time
    // of the min-wall run — the scaling-legibility signal (see the
    // listener comment above); task_sec ≫ wall ⇒ the query ran wide,
    // task_sec ≈ wall at every core count ⇒ the suite is
    // overhead-bound there, not serial
    println(s"""{"metric":"detail","extended":${fmt(extWarm)},"cold":${fmt(cold)},"task_sec":${fmt(taskSec.toSeq)},"stream_shuffle_partitions":$streamParts,"stream_runs":$streamRuns,"runs":$runs}""")
    println(s"""{"metric":"total","value":${tot(warm)},"unit":"sec","queries":${fmt(warm)},"headline_total":${tot(warm)},"extended_total":${tot(extWarm)},"cold_total":${tot(cold)},"streaming_rows_per_sec":${fmt(streaming)},"calibration":{"cpu_ms":$calibCpuMs,"mt_ms":$calibMtMs,"spark_ms":$calibSparkMs},"normalized":{"cpu_ms_ref":$CpuMsRef,"mt_ms_ref":$MtMsRef,"cpu_ratio":${math.rint(cpuRatio * 1e6) / 1e6},"mt_contended":$mtContended,"headline_normalized":${norm(tot(warm))},"extended_normalized":${norm(tot(extWarm))},"cold_normalized":${norm(tot(cold))}},"task_sec_total":${math.rint(taskSec.values.sum * 1e6) / 1e6},"cpus":$cpus,"errors":$errs,"runs":$runs,"sf":"$sfDir"}""")
    spark.stop()
  }
}
