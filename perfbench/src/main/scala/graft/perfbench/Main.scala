package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark JVM: runs one workload against the engine's public
  * functions and writes a JSON run record for run.py.
  *
  *   Main <params.properties>
  *
  * The record always gets written — a workload that throws still
  * reports what it measured, with the failure listed under `errors`.
  */
object Main {

  final class Params(p: java.util.Properties) {
    def apply(k: String): String =
      Option(p.getProperty(k)).getOrElse(sys.error(s"missing param $k"))
    def int(k: String): Int = apply(k).toInt
    def bool(k: String): Boolean = apply(k) == "1"
  }

  /** What the workloads report into; rendered once at the end. */
  final class Out {
    val fields = mutable.LinkedHashMap.empty[String, Any]
    val errors = mutable.ArrayBuffer.empty[String]
    def update(k: String, v: Any): Unit = fields(k) = v
    def error(where: String, e: Throwable): Unit = {
      errors += s"$where: $e"
      System.err.println(s"[perfbench] $where: $e")
      e.printStackTrace()
    }
  }

  def session(p: Params): SparkSession = {
    val cpus = p("cpus")
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", p("run_dir") + "/spark-local")
      .config("spark.sql.warehouse.dir", p("run_dir") + "/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The fixed-work calibration block, copied from graft.Bench: a
    * 2×10⁸-step single-thread xorshift loop and the same loop at
    * 10⁸ steps on every core at once. */
  def calibration(): (Double, Double) = {
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
    (calibCpuMs, calibMtMs)
  }

  private def rssPeakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    finally src.close()
  }

  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
  }

  def main(args: Array[String]): Unit = {
    val props = new java.util.Properties()
    val in = new java.io.FileInputStream(args(0))
    try props.load(in) finally in.close()
    val p = new Params(props)
    val out = new Out
    val workload: Workload = p("workload") match {
      case "ticks_live" => new TicksLive(p)
      case "query_suite" => new QuerySuite(p)
      case w => sys.error(s"unknown workload $w")
    }
    var spark: SparkSession = null
    var rec: Recorder = null
    try {
      // set-up: session start plus the workload's warm-up, in this
      // fresh JVM; run.py times it from the JVM's launch
      spark = session(p)
      workload.warmUp(spark)
      out("setup_end_ms") = System.currentTimeMillis()
      val (cpuMs, mtMs) = calibration()
      out("calib") = Map("cpu_ms" -> cpuMs, "mt_ms" -> mtMs)
      rec = new Recorder(spark, p.bool("trace"))
      val gc0 = gcMs()
      val n0 = System.nanoTime()
      try workload.run(spark, rec, out)
      catch { case e: Throwable => out.error("run", e) }
      finally workload.stopAll(out)
      out("run_ms") = (System.nanoTime() - n0) / 1e6
      out("gc_ms") = gcMs() - gc0
      try workload.check(spark, out)
      catch { case e: Throwable => out.error("check", e) }
    } catch {
      case e: Throwable => out.error("setup", e)
    } finally {
      workload.stopAll(out)
      if (rec != null) { rec.settle(); out("recorder") = rec.json; rec.detach() }
      out("rss_peak_mb") = rssPeakMb()
      out("errors") = out.errors.toSeq
      val text = Json.render(Json.of(out.fields))
      val dst = new File(p("record"))
      val tmp = new File(dst.getPath + ".tmp")
      Files.write(tmp.toPath, text.getBytes(StandardCharsets.UTF_8))
      tmp.renameTo(dst)
      if (spark != null) spark.stop()
    }
  }
}
