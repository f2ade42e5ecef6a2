package graft

import org.apache.spark.sql.functions._
import graft.operators.{Classifier, Forecast, IndexManifest, Similarity}

/** One spec over the UNIFIED artifact manifest: every persisted
  * family writes the same versioned envelope and every loader
  * validates through the same entry point — plus the three contracts
  * that make it useful: cross-family loads fail at the manifest,
  * pre-manifest (legacy) saves stay readable, and a drifted part
  * schema fails with the part named.
  */
class ManifestSpec extends SparkSuite {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/idx"

  test("all ten persisted families write and validate one manifest") {
    // ANN multi-part families
    val ivfPath = tmp("man_ivf")
    Similarity.saveIvfIndex(Similarity.ivfIndex(spark, sfDir), ivfPath)
    assert(IndexManifest.validate(spark, ivfPath, "ann_ivf",
      Seq("assigned", "centers")).isDefined)
    assert(Similarity.loadIvfIndex(spark, ivfPath).assigned.count() > 0)

    val pqPath = tmp("man_pq")
    Similarity.savePqIndex(Similarity.pqIndex(spark, sfDir), pqPath)
    assert(Similarity.loadPqIndex(spark, pqPath).encoded.count() > 0)

    val opqPath = tmp("man_opq")
    Similarity.saveOpqIndex(Similarity.opqIndex(spark, sfDir), opqPath)
    assert(Similarity.loadOpqIndex(spark, opqPath).rot.nonEmpty)

    val ivfpqPath = tmp("man_ivfpq")
    Similarity.saveIvfPqIndex(Similarity.ivfPqIndex(spark, sfDir), ivfpqPath)
    assert(Similarity.loadIvfPqIndex(spark, ivfpqPath).books.nonEmpty)

    // root-parquet families (manifest rides inside the parquet dir as
    // an underscore sidecar) — params carry the shard count
    val nswPath = tmp("man_nsw")
    val nsw = Similarity.hnswIndex(spark, sfDir, layered = false)
    Similarity.saveHnswIndex(nsw, nswPath)
    val nswParams = IndexManifest.validate(spark, nswPath, "ann_nsw", Seq("."))
    assert(nswParams.exists(_.get("num_shards")
      .contains(nsw.numShards.toString)))
    assert(Similarity.loadHnswIndex(spark, nswPath).numShards == nsw.numShards)

    val hnswPath = tmp("man_hnsw")
    val hnsw = Similarity.hnswIndex(spark, sfDir)
    Similarity.saveHnswIndex(hnsw, hnswPath)
    assert(Similarity.loadHnswIndex(spark, hnswPath).numShards == hnsw.numShards)

    // model registries + classifier
    val arimaPath = tmp("man_arima")
    Forecast.saveModelRegistry(Forecast.modelRegistry(spark, sfDir), arimaPath)
    assert(Forecast.loadModelRegistry(spark, arimaPath).count() > 0)

    val linregPath = tmp("man_linreg")
    Forecast.saveLinregRegistry(Forecast.linregRegistry(spark, sfDir), linregPath)
    assert(Forecast.loadLinregRegistry(spark, linregPath).count() > 0)

    val clfPath = tmp("man_clf")
    val (model, _) = Classifier.fit(Classifier.featurize(
      Tables.documents(spark, sfDir)))
    Classifier.saveModel(spark, model, clfPath)
    assert(Classifier.loadModel(spark, clfPath).sameElements(model))

    // cluster state (labels + canonical) — the incremental dedup
    // tier's standing artifact, same envelope
    val csPath = tmp("man_cs")
    import spark.implicits._
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 3L)).toDF("id", "label")
    val canon = Seq((1L, 1L, 2L, false), (2L, 1L, 2L, true),
      (3L, 3L, 3L, true))
      .toDF("doc_id", "cluster_id", "canonical_id", "is_canonical")
    graft.operators.Dedup.saveClusterState(labels, canon, csPath)
    val (lLoaded, cLoaded) = graft.operators.Dedup.loadClusterState(spark, csPath)
    assert(lLoaded.collect().map(_.toSeq).toSet == labels.collect().map(_.toSeq).toSet)
    assert(cLoaded.collect().map(_.toSeq).toSet == canon.collect().map(_.toSeq).toSet)
    val wrongCs = intercept[IllegalArgumentException] {
      Forecast.loadModelRegistry(spark, csPath)
    }
    assert(wrongCs.getMessage.contains("cluster_state"), wrongCs.getMessage)

    // CROSS-FAMILY GUARD: a PQ directory refuses to load as OPQ at
    // the manifest (named families in the message), instead of
    // failing deep inside a misaligned part read
    val wrong = intercept[IllegalArgumentException] {
      Similarity.loadOpqIndex(spark, pqPath)
    }
    assert(wrong.getMessage.contains("ann_pq")
      && wrong.getMessage.contains("ann_opq"), wrong.getMessage)
    // the one graph loader reads either graph family and no other:
    // the error names both
    val wrongGraph = intercept[IllegalArgumentException] {
      Similarity.loadHnswIndex(spark, pqPath)
    }
    assert(Seq("ann_pq", "'ann_nsw'", "'ann_hnsw'")
      .forall(wrongGraph.getMessage.contains), wrongGraph.getMessage)
    // same guard across artifact kinds: an ARIMA registry is not a
    // linreg registry
    val wrongReg = intercept[IllegalArgumentException] {
      Forecast.loadLinregRegistry(spark, arimaPath)
    }
    assert(wrongReg.getMessage.contains("arima_registry"), wrongReg.getMessage)

    // LEGACY: deleting the manifest reverts the path to a
    // pre-manifest save — still loadable, guarded only by the
    // loader's original column checks
    val mf = new org.apache.hadoop.fs.Path(hnswPath, "_graft_manifest")
    mf.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(mf, false): Unit
    assert(Similarity.loadHnswIndex(spark, hnswPath).numShards == hnsw.numShards)

    // DRIFT: rewrite one part with a different schema — validate
    // fails naming the part, before any join can misalign
    Seq((0, 0.0)).toDF("center_cell", "bogus")
      .write.mode("overwrite").parquet(s"$ivfPath/centers")
    val drift = intercept[IllegalArgumentException] {
      Similarity.loadIvfIndex(spark, ivfPath)
    }
    assert(drift.getMessage.contains("centers")
      && drift.getMessage.contains("drifted"), drift.getMessage)
  }

  test("segmented ANN tiers persist open segments; loaded tier serves and resumes") {
    // without this leg a restart of the LSM tier loses its open
    // segments or must compact first — the O(index) rewrite the tier
    // exists to amortize. Save → load must preserve the serve surface
    // exactly, and appending/compacting on the LOADED tier must equal
    // doing so on the original.
    import org.apache.spark.sql.functions.col
    val corpus = Similarity.vecs(spark, sfDir).toDF("vec_id", "v", "norm")
    val main = Similarity.hnswIndexOf(corpus.filter(col("vec_id") < 400))
    val seg1 = corpus.filter(col("vec_id") >= 400 && col("vec_id") < 450)
      .select("vec_id", "v")
    val seg2 = corpus.filter(col("vec_id") >= 450).select("vec_id", "v")
    val tier = Similarity.hnswAppendSegment(
      Similarity.hnswAppendSegment(Similarity.HnswSegmented(main, Nil), seg1),
      seg2)
    val path = tmp("man_hseg")
    Similarity.saveHnswSegmented(tier, path)
    val loaded = Similarity.loadHnswSegmented(spark, path)
    assert(loaded.segments.length == 2)
    val probes = corpus.limit(20)
    def serve(t: Similarity.HnswSegmented) =
      Similarity.annHnswSearchSegmented(t, probes).collect().map(_.toSeq).toSeq
    assert(serve(loaded) == serve(tier),
      "loaded segmented tier serves differently than the saved one")
    // resume: compaction on the loaded tier equals compaction on the
    // original (both fold the same segments into the same main)
    val cCont = Similarity.compactHnswSegments(tier)
    val cRes = Similarity.compactHnswSegments(loaded)
    assert(cRes.segments.isEmpty && cCont.segments.isEmpty)
    assert(cRes.main.nodes.collect().map(_.toSeq).toSet ==
      cCont.main.nodes.collect().map(_.toSeq).toSet,
      "compaction after reload diverges from the continuous tier")
    // empty-segment save round-trips (the fresh-deployment shape)
    val path0 = tmp("man_hseg0")
    Similarity.saveHnswSegmented(Similarity.HnswSegmented(main, Nil), path0)
    assert(Similarity.loadHnswSegmented(spark, path0).segments.isEmpty)
    // the single-layer policy saves as its own segmented family, and
    // the one loader restores the policy from it
    val ntier = Similarity.hnswAppendSegment(
      Similarity.HnswSegmented(Similarity.hnswIndexOf(
        corpus.filter(col("vec_id") < 450), layered = false), Nil), seg2)
    val npath = tmp("man_nseg")
    Similarity.saveHnswSegmented(ntier, npath)
    assert(IndexManifest.validate(spark, npath, "ann_nsw_segmented",
      Seq("main", "segments")).isDefined)
    val nloaded = Similarity.loadHnswSegmented(spark, npath)
    assert((nloaded.main +: nloaded.segments).forall(!_.layered))
    assert(Similarity.annHnswSearchSegmented(nloaded, probes).collect()
      .map(_.toSeq).toSeq ==
      Similarity.annHnswSearchSegmented(ntier, probes).collect()
        .map(_.toSeq).toSeq)
    // a segmented tier is not a plain index: the family guard holds
    val wrongSeg = intercept[IllegalArgumentException] {
      Similarity.loadHnswIndex(spark, path)
    }
    assert(wrongSeg.getMessage.contains("ann_hnsw_segmented"),
      wrongSeg.getMessage)
  }

  test("rolling gates persist under the manifest; serving re-derives and resumes") {
    // the gate tier was the one standing artifact that died with the
    // session: every probe answer must survive save → load (serving
    // is NOT persisted — it re-derives through the same union rule
    // rotation uses), and a rotation appended to the LOADED gate must
    // equal one appended to the original (the restart contract)
    import graft.operators.Dedup
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
    gate = Dedup.rollingGateAppend(gate, slice(0, 150), 1L)
    gate = Dedup.rollingGateAppend(gate, slice(150, 300), 2L)
    val path = tmp("man_gate")
    Dedup.saveRollingGate(spark, gate, path)
    val loaded = Dedup.loadRollingGate(spark, path)
    assert(loaded.epochs.map(_._1) == Vector(1L, 2L))
    assert((loaded.windowEpochs, loaded.capacity, loaded.fpp) ==
      ((gate.windowEpochs, gate.capacity, gate.fpp)))
    assert(flags(loaded) == flags(gate),
      "loaded gate probes differently than the saved one")
    // RESUME: rotate epoch 3 into both; eviction + union must agree
    val contd = Dedup.rollingGateAppend(gate, slice(300, 400), 3L)
    val resumed = Dedup.rollingGateAppend(loaded, slice(300, 400), 3L)
    assert(resumed.epochs.map(_._1) == Vector(2L, 3L))
    assert(flags(resumed) == flags(contd),
      "gate resumed from disk diverges from the continuous gate")

    // exact-fingerprint dual, same contract
    val fps = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        graft.operators.TextOps.fingerprintCol(col("text")).as("fingerprint"))
      .filter(col("fingerprint").isNotNull)
    def fslice(lo: Long, hi: Long) =
      fps.filter(col("doc_id") >= lo && col("doc_id") < hi)
    def eflags(g: Dedup.RollingExactGate): Map[Long, Boolean] = {
      val hit = Dedup.bloomHit(spark, g.serving)
      fps.withColumn("f", hit(col("fingerprint"))).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("f")).toMap
    }
    var egate = Dedup.emptyRollingExactGate(windowEpochs = 2, capacity = 400L)
    egate = Dedup.rollingExactGateAppend(egate, fslice(0, 150), 1L)
    egate = Dedup.rollingExactGateAppend(egate, fslice(150, 300), 2L)
    val epath = tmp("man_egate")
    Dedup.saveRollingExactGate(spark, egate, epath)
    val eloaded = Dedup.loadRollingExactGate(spark, epath)
    assert(eloaded.epochs.map(_._1) == Vector(1L, 2L))
    assert(eflags(eloaded) == eflags(egate))
    val econtd = Dedup.rollingExactGateAppend(egate, fslice(300, 400), 3L)
    val eresumed = Dedup.rollingExactGateAppend(eloaded, fslice(300, 400), 3L)
    assert(eflags(eresumed) == eflags(econtd))

    // cross-family guard between the two gate layouts
    val wrongGate = intercept[IllegalArgumentException] {
      Dedup.loadRollingExactGate(spark, path)
    }
    assert(wrongGate.getMessage.contains("rolling_band_gate"),
      wrongGate.getMessage)
  }
}
