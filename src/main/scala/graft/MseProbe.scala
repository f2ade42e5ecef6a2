package graft

import org.apache.spark.sql.functions._

/** Quantization-error probe: reconstruction MSE of parametric OPQ vs
  * the non-parametric alternation — the objective the Procrustes step
  * provably lowers per iteration. Measured @ sf0.01:
  * parametric 0.515 → NP(1) 0.485 → NP(3) 0.464. (Recall@10 on the
  * 5-probe sweep is a NOISIER proxy — 50 pairs — and can locally
  * disagree with the MSE ordering; this probe is the correctness
  * check for the alternation itself.)
  *
  * Usage: sbt "runMain graft.MseProbe [sfDir]"
  */
object MseProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Session.local(Session.cpus)
    def mse(idx: operators.Similarity.OpqIndex): Double = {
      val corpus = operators.Similarity.vecs(spark, dir).toDF("vec_id", "v", "norm")
      val rot = idx.rot
      val rotated = corpus.withColumn("rv",
        array(rot.toIndexedSeq.map(r =>
          aggregate(zip_with(typedLit(r.toSeq), col("v"), (a, b) => a * b),
            lit(0.0), _ + _)): _*))
      rotated.join(idx.encoded, "vec_id")
        .withColumn("dq", operators.Similarity.pqReconstruct(idx.books, col("codes")))
        .withColumn("e2", aggregate(zip_with(col("rv"), col("dq"),
          (a, b) => (a - b) * (a - b)), lit(0.0), _ + _))
        .agg(avg("e2")).head.getDouble(0)
    }
    println(f"[mse] parametric = ${mse(operators.Similarity.opqIndex(spark, dir))}%.6f")
    for (it <- Seq(1, 3))
      println(f"[mse] np(iters=$it) = ${mse(operators.Similarity.opqIndexNp(spark, dir, it))}%.6f")
    spark.stop()
  }
}
