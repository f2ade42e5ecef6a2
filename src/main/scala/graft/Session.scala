package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft SparkSession is built. Every main and the
  * test suite take their session from here, so the cpu width, the
  * shuffle-partition count and the session settings cannot drift
  * between the bench, the correctness dump and the probes.
  */
object Session {
  private val CpusVar = "SPARK_GRAFT_CPUS"
  private val DefaultCpus = 4

  /** Parse a `SPARK_GRAFT_CPUS` value: unset means [[DefaultCpus]];
    * anything but an integer ≥ 1 fails here, naming the variable,
    * instead of deep inside Spark's master-URL parser.
    */
  def parseCpus(raw: Option[String]): Int = raw match {
    case None => DefaultCpus
    case Some(s) => s.trim.toIntOption.filter(_ >= 1).getOrElse(
      throw new IllegalArgumentException(
        s"$CpusVar must be an integer >= 1, got '$s'"))
  }

  /** The cpu width from the environment. */
  def cpus: Int = parseCpus(sys.env.get(CpusVar))

  /** A local session `cpus` wide: as many shuffle partitions as cores,
    * AQE on, UTC, no UI, WARN logging, and a fresh temp warehouse so
    * no run writes `spark-warehouse/` into the working directory.
    * Returns the active session if one already exists.
    */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
