package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [queryName... | skip:name... | sqlonly] —
    // trailing names restrict the dump to those queries (local
    // iteration; the driver passes two); skip:-prefixed names exclude
    // (the replica sweep drops the verify-scale all-pairs baselines);
    // "sqlonly" restricts to oracle-backed queries
    val Array(sfDir, outDir) = args.take(2)
    val rest = args.drop(2)
    val skip = rest.filter(_.startsWith("skip:"))
      .map(_.stripPrefix("skip:")).toSet
    val sqlOnly = rest.contains("sqlonly")
    val only = rest.filterNot(a => a.startsWith("skip:") || a == "sqlonly")
      .toSet
    def selected(name: String): Boolean =
      (only.isEmpty || only(name)) && !skip(name) &&
        (!sqlOnly || SparkEntry.oracleSql.contains(name))
    val spark = Session.local(Session.cpus)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => selected(name) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // per-query wall time on stderr — the scale sweeps read these
        // as the per-operator cost record (the driver reads files, not
        // this stream)
        System.err.println(
          f"[verify] $name ok in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
