package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, StandardCopyOption}
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet

import graft.sources.{NioLocalFs, Sinks}
import graft.streaming.TickStream
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, ChecksumException, CreateFlag, FileContext, Path}
import org.apache.hadoop.fs.Options.CreateOpts
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{GraftShim, SparkSession}

/** The `file:` FileContext binding graft's sinks install for their
  * checkpoints ([[NioLocalFs]]): parity with Hadoop's stock `LocalFs`,
  * the install rule, and checkpoints moving from one to the other. */
class CheckpointFsSpec extends SparkSuite {
  private val Key = "fs.AbstractFileSystem.file.impl"
  private val StockLocalFs = "org.apache.hadoop.fs.local.LocalFs"

  private def fileContext(impl: String, umask: String = "022"): FileContext = {
    val conf = new Configuration()
    conf.set(Key, impl)
    conf.set("fs.permissions.umask-mode", umask)
    FileContext.getFileContext(URI.create("file:///"), conf)
  }

  /** The stock binding and the NIO one, built from the same conf. */
  private def bindings(umask: String = "022"): Seq[FileContext] =
    Seq(StockLocalFs, classOf[NioLocalFs].getName).map(fileContext(_, umask))

  private def posix(p: Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(
      java.nio.file.Paths.get(p.toUri.getPath)))

  test("NioLocalFs leaves files and directories with LocalFs's permissions") {
    for (umask <- Seq("022", "077");
         perm <- Seq(None, Some("640"), Some("777"))) {
      val seen = bindings(umask).map { fc =>
        val dir = new Path(Files.createTempDirectory("perm").toString)
        val (f, d) = (new Path(dir, "f"), new Path(dir, "d"))
        val fsPerm = perm.map(new FsPermission(_))
        fc.create(f, EnumSet.of(CreateFlag.CREATE),
          fsPerm.map(CreateOpts.perms).toSeq: _*).close()
        fc.mkdir(d, fsPerm.getOrElse(FsPermission.getDirDefault), true)
        val created = Seq(f, new Path(dir, ".f.crc"), d).map(posix)
        // explicit chmods, including the sticky bit the NIO path hands
        // back to the stock code
        fc.setPermission(f, new FsPermission("604"))
        fc.setPermission(d, new FsPermission("1777"))
        created ++ Seq(f, d).map(p => fc.getFileStatus(p).getPermission.toString)
      }
      assert(seen.head == seen.last, s"umask $umask, permission $perm")
    }
  }

  test("NioLocalFs reports the link status LocalFs reports") {
    val dir = Files.createTempDirectory("links")
    val file = Files.write(dir.resolve("file"), "x".getBytes("UTF-8"))
    val paths = Seq(file, Files.createDirectory(dir.resolve("sub")),
      Files.createSymbolicLink(dir.resolve("link"), file),
      Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone")))
    // the stock binding answers a dangling link with FileNotFound when
    // the path is qualified, so the comparison includes the failure
    def status(fc: FileContext, p: Path) = scala.util.Try {
      val s = fc.getFileLinkStatus(p)
      (s.getPath, s.isFile, s.isDirectory, s.isSymlink,
        if (s.isSymlink) s.getSymlink else null, s.getLen,
        s.getModificationTime, s.getPermission, s.getOwner, s.getGroup)
    }.toEither.left.map(_.getClass)
    val Seq(stock, nio) = bindings()
    for (p <- paths; hp <- Seq(new Path(p.toString), new Path(p.toUri.toString)))
      assert(status(stock, hp) == status(nio, hp), hp)
    assert(status(nio, new Path(paths.last.toString)).exists(_._4),
      "an unqualified dangling link reports itself as a link")
    for (fc <- bindings())
      intercept[FileNotFoundException](
        fc.getFileLinkStatus(new Path(dir.resolve("missing").toString)))
  }

  test("NioLocalFs writes LocalFs's .crc sidecar and verifies it on read") {
    val dir = Files.createTempDirectory("crc")
    val bytes = Array.tabulate[Byte](4096)(i => (i * 31).toByte)
    val Seq(stockFile, nioFile) = bindings().zip(Seq("stock", "nio")).map {
      case (fc, name) =>
        val out = fc.create(new Path(dir.resolve(name).toString),
          EnumSet.of(CreateFlag.CREATE))
        try out.write(bytes) finally out.close()
        dir.resolve(name)
    }
    val crc = Seq(stockFile, nioFile)
      .map(f => Files.readAllBytes(f.resolveSibling(s".${f.getFileName}.crc")).toSeq)
    assert(crc.head == crc.last, "sidecars differ")
    // FileContext.open(path) reaches the raw filesystem past ChecksumFs
    // (in the stock binding too); the sized open is the verifying one
    def readBack(fc: FileContext) = {
      val in = fc.open(new Path(nioFile.toString), 4096)
      try in.readAllBytes() finally in.close()
    }
    for (fc <- bindings()) assert(readBack(fc).sameElements(bytes))
    val raf = new java.io.RandomAccessFile(nioFile.toFile, "rw")
    try { raf.seek(100); raf.write(bytes(100) ^ 1) } finally raf.close()
    for (fc <- bindings()) intercept[ChecksumException](readBack(fc))
  }

  private def fileFs(s: SparkSession): AbstractFileSystem =
    AbstractFileSystem.get(URI.create("file:///"), GraftShim.hadoopConf(s))

  /** streamUpsertExactlyOnce of the stateful indicators over a
    * one-file-per-trigger parquet stream, run until caught up. */
  private def upsertIndicators(s: SparkSession, streamDir: String,
      out: String): Unit = {
    val ticks = s.readStream.schema(Tables.events(spark, sfDir).schema)
      .option("maxFilesPerTrigger", "1").parquet(streamDir)
    val q = Sinks.streamUpsertExactlyOnce(
      TickStream.statefulIndicators(s, ticks).toDF(),
      s"$out/table", s"$out/ckpt", Seq("user_id", "event_id"), "ts")
    try q.processAllAvailable() finally q.stop()
  }

  test("a graft sink installs NioLocalFs unless the binding is already set") {
    val streamDir = stageTimeOrderedSplit(1)
    val fresh = spark.newSession()
    assert(fileFs(fresh).getClass.getName == StockLocalFs)
    upsertIndicators(fresh, streamDir, Files.createTempDirectory("fresh").toString)
    assert(fileFs(fresh).isInstanceOf[NioLocalFs])
    val pinned = spark.newSession()
    pinned.conf.set(Key, StockLocalFs)
    upsertIndicators(pinned, streamDir, Files.createTempDirectory("pinned").toString)
    assert(pinned.conf.get(Key) == StockLocalFs)
    assert(fileFs(pinned).getClass.getName == StockLocalFs)
  }

  test("a checkpoint written under LocalFs resumes under NioLocalFs") {
    val parts = new java.io.File(stageTimeOrderedSplit(4)).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toSeq
    val streamDir = Files.createTempDirectory("resume_in")
    def publish(files: Seq[java.io.File]): Unit = files.foreach(f =>
      Files.copy(f.toPath, streamDir.resolve(f.getName),
        StandardCopyOption.COPY_ATTRIBUTES))
    val resumed = Files.createTempDirectory("resume").toString
    val s = spark.newSession()
    s.conf.set(Key, StockLocalFs)
    publish(parts.take(2))
    upsertIndicators(s, streamDir.toString, resumed)
    val firstLeg = spark.read.parquet(s"$resumed/table").count()
    s.conf.unset(Key)
    publish(parts.drop(2))
    upsertIndicators(s, streamDir.toString, resumed)
    assert(s.conf.get(Key) == classOf[NioLocalFs].getName)

    val straight = Files.createTempDirectory("straight").toString
    upsertIndicators(spark.newSession(), parts.head.getParent, straight)
    def rows(out: String) = spark.read.parquet(s"$out/table")
      .collect().map(_.toString).sorted.toSeq
    val expected = rows(straight)
    assert(firstLeg > 0 && expected.size > firstLeg, "the resume must add rows")
    assert(rows(resumed) == expected,
      "resumed table or streamed indicators differ from an uninterrupted run")
  }
}
