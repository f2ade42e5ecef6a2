package graft

import org.apache.spark.sql.functions._

/** Replica-dataset generator for the SCALE-REGRESSION strict sweep:
  * writes an N×-replicated copy of a testdata directory with DISTINCT
  * key spaces per replica (keys shift by a replica stride; foreign
  * keys shift by the SAME stride, so join integrity survives), while
  * region/nation — bounded dimension constants — copy through once.
  *
  * Purpose: the -0.0 and HUGEINT canonicalization findings of rounds
  * 9-10 were both exposed by scale GROWTH (sf0.01 → sf0.1), not by new
  * code. Running the byte-strict oracle check once per round at 10×
  * the bench SF probes the next decade of value ranges (sums, counts,
  * id magnitudes) without waiting for a driver-side SF bump.
  *
  * Usage: sbt "runMain graft.ReplicaGen [replicas] [srcDir] [outDir]
  *             [only:t1,t2,...]"
  * then  sbt "runMain graft.Verify outDir dumpDir sqlonly skip:..."
  * then  python3 scripts/check_oracle.py outDir dumpDir
  *
  * The optional `only:` filter replicates just the named tables and
  * copies the rest through 1× (every table still exists, so the
  * oracle's view registration works) — the sf10 spot sweep replicates
  * documents/embeddings at 100× without paying a 60M-row lineitem
  * write it never reads.
  */
object ReplicaGen {
  def main(args: Array[String]): Unit = {
    val pos = args.filterNot(_.startsWith("only:"))
    val replicas = pos.headOption.map(_.toInt).getOrElse(10)
    val src = pos.lift(1).getOrElse("/root/testdata/sf0.1")
    val out = pos.lift(2).getOrElse("/tmp/sf_rep10")
    val onlyTables: Option[Set[String]] = args.find(_.startsWith("only:"))
      .map(_.stripPrefix("only:").split(",").toSet)
    val spark = Session.local(Session.cpus)
    new java.io.File(out).mkdirs()

    def copy(t: String): Unit =
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")

    def rep(t: String, shifts: Map[String, Long]): Unit =
      if (onlyTables.exists(!_.contains(t))) copy(t)
      else {
        val base = spark.read.parquet(s"$src/$t.parquet")
        (0 until replicas).map { i =>
          shifts.foldLeft(base) { case (df, (c, s)) =>
            df.withColumn(c, col(c) + lit(i * s))
          }
        }.reduce(_ unionByName _)
          .write.mode("overwrite").parquet(s"$out/$t.parquet")
      }

    copy("region")
    copy("nation")
    rep("customer", Map("c_custkey" -> 10000000L))
    rep("supplier", Map("s_suppkey" -> 10000000L))
    rep("part", Map("p_partkey" -> 10000000L))
    rep("orders", Map("o_orderkey" -> 100000000L, "o_custkey" -> 10000000L))
    rep("lineitem", Map("l_orderkey" -> 100000000L,
      "l_partkey" -> 10000000L, "l_suppkey" -> 10000000L))
    rep("events", Map("event_id" -> 100000000L, "user_id" -> 1000000L))
    rep("documents", Map("doc_id" -> 10000000L))
    rep("embeddings", Map("vec_id" -> 10000000L))
    println(s"[replica] wrote ${replicas}x of $src to $out")
    spark.stop()
  }
}
