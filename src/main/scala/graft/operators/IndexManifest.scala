package graft.operators

import org.apache.spark.sql.SparkSession

/** Unified persisted-artifact MANIFEST — one versioned envelope for
  * every fitted artifact this library saves (six ANN index families,
  * the ARIMA and linreg model registries, the quality-classifier
  * model, the incremental dedup tier's cluster state). Each family
  * previously shipped a bespoke save/load pair whose only guard was
  * a column-set `require`; ten independent
  * layouts is how silent format drift happens (a path saved by one
  * family loaded by another, a part schema changed by a refactor with
  * the loader's check forgotten). The manifest closes both holes with
  * ONE write/validate pair shared by all families:
  *
  *  - `family` names the artifact type — loading a PQ directory as
  *    OPQ now fails at the manifest, not deep inside a misaligned
  *    join;
  *  - one schema hash per persisted PART (md5 of the parquet footer
  *    schema as Spark re-reads it) — any layout change that would
  *    surprise a loader fails the validate with the part named;
  *  - `version` gates future layout migrations;
  *  - free-form params (e.g. shard counts) ride along for humans and
  *    loaders alike.
  *
  * The manifest is a tiny `_`-prefixed sidecar INSIDE the artifact
  * directory (parquet readers ignore `_` files — the same trick as
  * the `_graft_shards` sidecar and Spark's own `_SUCCESS`), written
  * AFTER the parts so an overwrite cannot delete it. PRE-MANIFEST
  * saves stay readable: a missing manifest validates as legacy
  * (`None`) and the loaders' original column checks still apply —
  * old paths are not invalidated, they are just not drift-protected.
  */
object IndexManifest {

  val Version = 1
  private val FileName = "_graft_manifest"

  /** Root-parquet artifacts (graph/hnsw nodes, registries) persist at
    * the index path itself; multi-part artifacts use subdirectories.
    * The part name "." addresses the root layout.
    */
  private def partPath(path: String, part: String): String =
    if (part == ".") path else s"$path/$part"

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** The hash a part validates against: md5 of the schema Spark
    * re-reads from the written footers — what a LOADER will actually
    * see, not what the writer intended.
    */
  private def schemaHash(spark: SparkSession, p: String): String =
    md5hex(spark.read.parquet(p).schema.json)

  /** Write the manifest for an artifact whose `parts` were just
    * persisted under `path`. Line-oriented key=value — no JSON
    * dependency, diff-able by a human.
    */
  def write(spark: SparkSession, path: String, family: String,
      parts: Seq[String], params: Map[String, String] = Map.empty): Unit = {
    val lines = Seq(s"version=$Version", s"family=$family") ++
      parts.sorted.map(pt =>
        s"part.$pt=${schemaHash(spark, partPath(path, pt))}") ++
      params.toSeq.sortBy(_._1).map { case (k, v) => s"param.$k=$v" }
    val p = new org.apache.hadoop.fs.Path(path, FileName)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(lines.mkString("\n").getBytes("UTF-8")) finally out.close()
  }

  /** The shared load-validate entry point: every loader calls this
    * FIRST. Returns `Some(params)` when a manifest is present and the
    * artifact checks out (right family, known version, exactly the
    * expected parts, every part's current footer schema matching its
    * recorded hash); `None` for pre-manifest saves (legacy readable —
    * the caller's own column checks remain the guard); throws with
    * the failing detail named otherwise.
    */
  def validate(spark: SparkSession, path: String, family: String,
      parts: Seq[String]): Option[Map[String, String]] =
    validateAny(spark, path, Seq(family), parts).map(_._2)

  /** [[validate]] for a loader that reads any of `families`: returns
    * the family found with its params. */
  def validateAny(spark: SparkSession, path: String, families: Seq[String],
      parts: Seq[String]): Option[(String, Map[String, String])] = {
    val p = new org.apache.hadoop.fs.Path(path, FileName)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val text =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val kv = text.linesIterator.filter(_.contains("="))
        .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }
        .toMap
      require(kv.get("version").contains(Version.toString),
        s"unknown manifest version at $path: ${kv.get("version")}")
      val family = kv.getOrElse("family", "?")
      require(families.contains(family),
        s"artifact at $path is family '$family', " +
          s"loader expected ${families.map(f => s"'$f'").mkString(" or ")}")
      val stored = kv.collect { case (k, v) if k.startsWith("part.") =>
        k.stripPrefix("part.") -> v }
      require(stored.keySet == parts.toSet,
        s"manifest parts at $path: ${stored.keySet} != expected ${parts.toSet}")
      stored.foreach { case (pt, h) =>
        val cur = schemaHash(spark, partPath(path, pt))
        require(cur == h,
          s"part '$pt' at $path drifted: schema hash $cur != recorded $h")
      }
      Some(family -> kv.collect { case (k, v) if k.startsWith("param.") =>
        k.stripPrefix("param.") -> v })
    }
  }
}
