package graft

/** ANN parameter-sweep harness: recall@10 (and candidate-set cost)
  * of the LSH multiprobe radius and the IVF nProbe against the
  * brute-force ground truth. This is the tuning loop an operator of
  * the index runs before picking production parameters — higher
  * radius/nProbe buys recall with a proportionally larger scanned
  * fraction of the corpus.
  *
  * Usage: sbt "runMain graft.RecallProbe [sfDir]"
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Session.local(Session.cpus)

    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("probe_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet

    val exact = pairs(operators.Similarity.annBruteForce(spark, dir))
    require(exact.nonEmpty, s"no brute-force ground truth at $dir")
    println(f"[recall] ground truth: ${exact.size} (probe, neighbor) pairs @ $dir")
    // legacy single-table 8-plane family — the historical curve (256
    // buckets: usable recall on the uniform corpus only because each
    // probe scans up to ~36% of the space)
    for (radius <- 1 to 4) {
      val masks = operators.Similarity.hammingMasks(radius, 8).size
      val got = pairs(operators.Similarity.annLsh(spark, dir, radius,
        numPlanes = 8, numTables = 1))
      val recall = (exact & got).size.toDouble / exact.size
      println(f"[recall] lsh8  radius=$radius codes/probe=$masks%3d recall@10=$recall%.3f")
    }
    // production default (16 planes, 65k buckets/table) on the SAME
    // uniform corpus — expected ~0: top-10 neighbors at cosine ≈ 0.3
    // are statistically near-random, the documented LSH hard instance
    for ((radius, tables) <- Seq((2, 1), (1, 4), (2, 4))) {
      val got = pairs(operators.Similarity.annLsh(spark, dir, radius,
        numPlanes = 16, numTables = tables))
      val recall = (exact & got).size.toDouble / exact.size
      println(f"[recall] lsh16 radius=$radius tables=$tables uniform recall@10=$recall%.3f")
    }
    // clustered corpus (same-cluster cosine ≈ 0.9): the near-duplicate
    // regime the production default is sized for
    locally {
      val cl = SynthData.clustered(spark, 2000).cache()
      val clProbes = cl.filter(org.apache.spark.sql.functions.col("vec_id") < 5)
        .toDF("probe_id", "p_v", "p_norm")
      val clExact = pairs(operators.Similarity.annBruteForceOn(cl, clProbes))
      for ((radius, tables) <- Seq((2, 1), (1, 4), (2, 4))) {
        val got = pairs(operators.Similarity.annLshOn(cl, clProbes, radius, 16, tables))
        val recall = (clExact & got).size.toDouble / clExact.size
        println(f"[recall] lsh16 radius=$radius tables=$tables clustered recall@10=$recall%.3f")
      }
      cl.unpersist(): Unit
    }
    // one quantizer fit, many searches: the sweep varies only nProbe
    val idx = operators.Similarity.ivfIndex(spark, dir)
    idx.assigned.cache().count(): Unit
    for (nProbe <- Seq(1, 2, 3, 5, 8)) {
      val got = pairs(operators.Similarity.annIvfSearch(idx, nProbe))
      val recall = (exact & got).size.toDouble / exact.size
      println(f"[recall] ivf nProbe=$nProbe cells=${nProbe}/16 recall@10=$recall%.3f")
    }
    idx.assigned.unpersist()
    for (rerank <- Seq(10, 16, 32, 64)) {
      val got = pairs(operators.Similarity.annSq8(spark, dir, rerank))
      val recall = (exact & got).size.toDouble / exact.size
      println(f"[recall] sq8 rerank=$rerank%2d recall@10=$recall%.3f")
    }
    // one PQ fit, many searches — the sweep varies only rerank
    val pqCorpus0 = operators.Similarity.vecs(spark, dir).toDF("vec_id", "v", "norm")
    val pq = operators.Similarity.pqIndex(spark, dir)
    pq.encoded.cache().count(): Unit
    for (rerank <- Seq(10, 16, 32, 64, 128)) {
      val got = pairs(operators.Similarity.annPqSearch(pq, pqCorpus0, rerank))
      val recall = (exact & got).size.toDouble / exact.size
      println(f"[recall] pq  rerank=$rerank%3d recall@10=$recall%.3f")
    }
    pq.encoded.unpersist()
    // OPQ vs PQ at the same rerank: the rotation's contribution
    val opq = operators.Similarity.opqIndex(spark, dir)
    opq.encoded.cache().count(): Unit
    for (rerank <- Seq(10, 16, 32, 64, 128)) {
      val got = pairs(operators.Similarity.annOpqSearch(opq, pqCorpus0, rerank))
      val recall = (exact & got).size.toDouble / exact.size
      println(f"[recall] opq rerank=$rerank%3d recall@10=$recall%.3f")
    }
    opq.encoded.unpersist()
    // the non-parametric alternation vs the parametric seed
    val opqNp = operators.Similarity.opqIndexNp(spark, dir)
    opqNp.encoded.cache().count(): Unit
    for (rerank <- Seq(10, 16, 32, 64, 128)) {
      val got = pairs(operators.Similarity.annOpqSearch(opqNp, pqCorpus0, rerank))
      val recall = (exact & got).size.toDouble / exact.size
      println(f"[recall] opqN rerank=$rerank%3d recall@10=$recall%.3f")
    }
    opqNp.encoded.unpersist()
    // graph ANN: one build, many searches — efSearch only affects the
    // walk, so the sweep serves from a single cached single-layer index
    val nsw = operators.Similarity.hnswIndex(spark, dir, layered = false)
    nsw.nodes.cache().count(): Unit
    val nswCorpus = operators.Similarity.vecs(spark, dir).toDF("vec_id", "v", "norm")
    for (ef <- Seq(4, 8, 16, 32, 64)) {
      val got = pairs(operators.Similarity.annHnswSearch(nsw, nswCorpus, ef))
      val recall = (exact & got).size.toDouble / exact.size
      println(f"[recall] nsw efSearch=$ef%2d recall@10=$recall%.3f")
    }
    nsw.nodes.unpersist()
    // the layered hierarchy at the same beam widths: recall should
    // track flat NSW (same layer-0 beam) — the layers buy ENTRY cost,
    // not recall, so a material recall drop here flags a build bug
    val hnsw = operators.Similarity.hnswIndex(spark, dir)
    hnsw.nodes.cache().count(): Unit
    for (ef <- Seq(4, 8, 16, 32, 64)) {
      val got = pairs(operators.Similarity.annHnswSearch(hnsw, nswCorpus, ef))
      val recall = (exact & got).size.toDouble / exact.size
      println(f"[recall] hnsw efSearch=$ef%2d recall@10=$recall%.3f")
    }
    hnsw.nodes.unpersist()
    // segmented serve: a main hierarchy over ~80% of the corpus plus
    // two 10% segments, vs the monolithic index above — the merged
    // re-rank must not cost recall (every segment is searched with
    // its own beam, so the union can only add candidates)
    locally {
      import org.apache.spark.sql.functions.col
      val main8 = operators.Similarity.hnswIndexOf(
        nswCorpus.filter(col("vec_id") % 10 < 8))
      var segd = operators.Similarity.HnswSegmented(main8, Nil)
      for (m <- Seq(8, 9))
        segd = operators.Similarity.hnswAppendSegment(segd,
          nswCorpus.filter(col("vec_id") % 10 === m).select("vec_id", "v"))
      segd.main.nodes.cache().count(): Unit
      segd.segments.foreach(s => s.nodes.cache().count(): Unit)
      val probes = nswCorpus.filter(col("vec_id") < 5)
        .toDF("probe_id", "p_v", "p_norm")
      for (ef <- Seq(8, 16, 32)) {
        val got = pairs(operators.Similarity.annHnswSearchSegmented(
          segd, probes, ef, excludeSelf = true))
        val recall = (exact & got).size.toDouble / exact.size
        println(f"[recall] hnswSeg 80+10+10 efSearch=$ef%2d recall@10=$recall%.3f")
      }
      segd.main.nodes.unpersist(): Unit
      segd.segments.foreach(s => s.nodes.unpersist(): Unit)
    }
    // link-selector ablation on the CLUSTERED corpus — the regime
    // where closest-k links a node entirely inside its own cluster
    // and the alg.-4 diversity heuristic keeps the bridge edges
    locally {
      val cl = SynthData.clustered(spark, 2000).cache()
      val clExact = pairs(operators.Similarity.annBruteForceOn(
        cl, cl.filter(org.apache.spark.sql.functions.col("vec_id") < 5)
          .toDF("probe_id", "p_v", "p_norm")))
      for (heur <- Seq(false, true)) {
        val idx = operators.Similarity.hnswIndexOf(cl, heuristic = heur)
        idx.nodes.cache().count(): Unit
        for (ef <- Seq(4, 8, 16)) {
          val got = pairs(operators.Similarity.annHnswSearch(idx, cl, ef))
          val recall = (clExact & got).size.toDouble / clExact.size
          println(f"[recall] hnswSel heur=$heur%-5s efSearch=$ef%2d recall@10=$recall%.3f")
        }
        idx.nodes.unpersist(): Unit
      }
      cl.unpersist(): Unit
    }
    // codebook-fit sample sensitivity: recall at rerank=32 as the fit
    // shrinks to a hash sample (cap ≥ corpus ≡ full fit)
    for (cap <- Seq(1000000L, 1024L, 256L, 64L)) {
      val books = operators.Similarity.fitPqCodebooks(pqCorpus0, cap)
      val sidx = operators.Similarity.PqIndex(
        operators.Similarity.encodePq(pqCorpus0, books), books)
      val got = pairs(operators.Similarity.annPqSearch(sidx, pqCorpus0, 32))
      val recall = (exact & got).size.toDouble / exact.size
      println(f"[recall] pq  fitCap=$cap%7d rerank= 32 recall@10=$recall%.3f")
    }
    // one IVF+PQ fit, many searches — the sweep varies only the knobs
    val ivfpq = operators.Similarity.ivfPqIndex(spark, dir)
    ivfpq.encoded.cache().count(): Unit
    val pqCorpus = operators.Similarity.vecs(spark, dir).toDF("vec_id", "v", "norm")
    for (nProbe <- Seq(2, 4, 8); rerank <- Seq(32, 64)) {
      val got = pairs(operators.Similarity.annIvfPqSearch(ivfpq, pqCorpus, nProbe, rerank))
      val recall = (exact & got).size.toDouble / exact.size
      println(f"[recall] ivfpq nProbe=$nProbe rerank=$rerank%2d recall@10=$recall%.3f")
    }
    ivfpq.encoded.unpersist()
    // PQ vs OPQ on an ANISOTROPIC corpus (decaying per-dim energy
    // under a fixed rotation): the regime where OPQ's learned
    // rotation should separate from plain PQ beyond run noise —
    // the uniform corpus is too isotropic for a measurable gap
    locally {
      val an = SynthData.anisotropic(spark, 2000).cache()
      val anExact = pairs(operators.Similarity.annBruteForceOn(
        an, an.filter(org.apache.spark.sql.functions.col("vec_id") < 5)
          .toDF("probe_id", "p_v", "p_norm")))
      val anBooks = operators.Similarity.fitPqCodebooks(an)
      val pqAn = operators.Similarity.PqIndex(
        operators.Similarity.encodePq(an, anBooks), anBooks)
      val opqAn = operators.Similarity.opqIndexOf(an)
      // the non-parametric alternation on the SAME anisotropic corpus:
      // where the gains the uniform sweep couldn't show become visible
      val opqNpAn = operators.Similarity.opqIndexNpOf(an)
      for (rerank <- Seq(10, 16, 32)) {
        val gotPq = pairs(operators.Similarity.annPqSearch(pqAn, an, rerank))
        val gotOpq = pairs(operators.Similarity.annOpqSearch(opqAn, an, rerank))
        val gotNp = pairs(operators.Similarity.annOpqSearch(opqNpAn, an, rerank))
        val rPq = (anExact & gotPq).size.toDouble / anExact.size
        val rOpq = (anExact & gotOpq).size.toDouble / anExact.size
        val rNp = (anExact & gotNp).size.toDouble / anExact.size
        println(f"[recall] anis rerank=$rerank%3d pq=$rPq%.3f opq=$rOpq%.3f opqNp=$rNp%.3f gap=${rOpq - rPq}%+.3f")
      }
      an.unpersist(): Unit
    }
    // PCA filter-and-refine: (retained dims, candidate budget) vs
    // recall — the compression/recall dial of the projected index
    for (k <- Seq(8, 16, 32); cands <- Seq(32, 64, 128)) {
      val got = pairs(operators.Similarity.annPca(spark, dir, cands, k))
      val recall = (exact & got).size.toDouble / exact.size
      println(f"[recall] pca k=$k%2d cands=$cands%3d recall@10=$recall%.3f")
    }
    // the ADAPTIVE default (cands = max(128, N/4)) — the budget the
    // registered q_ann_pca serves; round 12's fix for the fixed
    // budget's measured recall collapse (0.90 @ N=500 → 0.44 @ N=2000)
    locally {
      val n = operators.Similarity.vecs(spark, dir).count()
      val auto = operators.Similarity.pcaCands(n)
      val got = pairs(operators.Similarity.annPca(spark, dir))
      val recall = (exact & got).size.toDouble / exact.size
      println(f"[recall] pca k=16 cands=$auto%3d (adaptive, n=$n) recall@10=$recall%.3f")
    }
    spark.stop()
  }
}
