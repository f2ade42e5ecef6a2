package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.{Column, DataFrame, GraftShim, Observation, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.expressions.RowOrdering
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import org.json4s.jackson.Serialization

/** Sink-side semantics of the reference pipeline re-expressed for a
  * data-lake target.
  *
  * The reference upserts into PostgreSQL (`ON CONFLICT ... DO UPDATE`,
  * db/current_schema.sql:165-200; predictions upsert,
  * batch_predict_linear_regression.py:60-76). On a cluster the target
  * is a table-format/parquet sink, and the same contract is
  * merge-by-key-keep-latest. [[upsertParquet]] commits each batch
  * through a log of table snapshots: a batch whose keys provably cannot
  * collide with a part file's leaves that file alone (the live tick
  * case appends), and only the files it overlaps are rewritten. For the
  * reference's own
  * target, [[upsertJdbc]] runs a staging table + MERGE. Both keep the
  * winner [[mergeByKey]] picks.
  */
object Sinks {

  /** The merge-by-key kernel every upsert sink (and the companies-dim
    * write path) shares: one row per `keyCols` survives, newest by
    * `versionCol`, ties → the update side wins, and equal versions on
    * the same side → the greatest row content (the orderable non-key
    * columns, in schema order, descending). The winner is therefore a
    * function of the rows, not of their arrival order, so a replayed
    * batch writes the same row. Pure plan — callers own
    * materialization and durability.
    */
  private[graft] def mergeByKey(existing: Option[DataFrame],
      updates: DataFrame, keyCols: Seq[String],
      versionCol: String): DataFrame = {
    val tagged = updates.withColumn("_src", lit(1))
    val all = existing match {
      case Some(e) => e.withColumn("_src", lit(0)).unionByName(tagged)
      case None => tagged
    }
    val content = updates.schema.fields
      .filter(f => !keyCols.contains(f.name) && f.name != versionCol &&
        RowOrdering.isOrderable(f.dataType))
      .map(f => col(f.name).desc)
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(versionCol).desc +: col("_src").desc +: content: _*)
    all
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn", "_src")
  }

  /** Merge `updates` into the parquet table at `path` with
    * [[mergeByKey]], rewriting only the part files the batch can touch.
    *
    * The table keeps a log, `<path>/_graft_log/<version>.json`. Each
    * version is a full snapshot: the table schema, every live part file
    * with its size and each key column's observed range, the files the
    * version dropped, and for a stream write the checkpoint and batch id
    * that wrote it. Creating a version with
    * `CheckpointFileManager.createAtomic`, never overwriting, is the
    * sink's one commit point. A call:
    *  1. stages the batch, deduplicated by [[mergeByKey]], under
    *     `<path>/_graft_stage/`, which Spark's readers skip, observing
    *     its key ranges on the same job. If the batch overlaps some part
    *     files, it is merged with only those, and the merge is staged
    *     instead. Past [[MaxAppendFiles]] part files, the smallest files
    *     join that merge;
    *  2. creates version N+1. A writer that loses that create fails;
    *  3. moves the staged files into the table;
    *  4. deletes the files version N+1 dropped;
    *  5. deletes the versions before N and every staged file.
    *
    * A batch overlaps a file unless their ranges on some key column are
    * disjoint. Only integral, date and timestamp columns can prove that
    * (a string's order depends on its collation, a float's on NaN and
    * ±0.0), and not when both sides hold a null.
    *
    * Every call first rolls the latest version forward (steps 3-5), so
    * a stop after any step leaves a table the next call completes. A
    * visible part file that the log does not list (from a table written
    * before the log, or a foreign writer) is adopted into the next
    * version, with its ranges observed on read. One writer per table: a
    * concurrent one fails at the create or loses its staged files.
    * [[readTable]] reads the latest version as one snapshot; a plain
    * `spark.read.parquet(path)` is exact while no call runs.
    */
  def upsertParquet(updates: DataFrame, path: String, keyCols: Seq[String],
      versionCol: String): Unit =
    upsertLogged(updates, path, keyCols, versionCol, None): Unit

  /** [[upsertParquet]], skipped (false) when `writer` is a stream
    * batch the latest version shows as applied: same checkpoint and
    * query, batch id at or below the recorded one. */
  private def upsertLogged(updates: DataFrame, path: String, keyCols: Seq[String],
      versionCol: String, writer: Option[Writer]): Boolean = {
    val t = new TableFiles(updates.sparkSession, path)
    val versions = t.versions
    val latest = versions.lastOption.map(t.read)
    val foreign = settle(t, versions, latest, _ => ())
    if (writer.exists(w => latest.flatMap(_.writer).exists(l =>
        l.checkpoint == w.checkpoint && l.query == w.query && l.batch >= w.batch)))
      return false
    val batch = mergeByKey(None, updates, keyCols, versionCol)
    val id = java.util.UUID.randomUUID().toString
    val (rows, batchKeys) = writeObserved(batch, new Path(t.stage, id), keyCols)
    if (rows == 0 && (latest.nonEmpty || foreign.nonEmpty)) {
      t.fs.delete(t.stage, true)
      return true
    }
    val schema = latest.fold(batch.schema)(v => DataType.fromJson(v.schema).asInstanceOf[StructType])
    val table = latest.fold(Seq.empty[PartFile])(_.files) ++
      observeFiles(t, foreign, schema, keyCols)
    val sameLayout = schema.map(f => f.name -> f.dataType) ==
      batch.schema.map(f => f.name -> f.dataType)
    val (hit, kept) = table.partition(f => !sameLayout || !keyCols.exists(k =>
      f.keys.get(k).zip(batchKeys.get(k)).exists { case (a, b) => disjoint(a, b) }))
    val staged = t.filesIn(new Path(t.stage, id))
    val small = if (kept.size + staged.size <= MaxAppendFiles) Nil
      else kept.sortBy(f => (f.size, f.name)).dropRight(MaxAppendFiles / 2)
    val rewrite = hit ++ small
    val (dir, schemaOut, added) =
      if (rewrite.isEmpty) (id, schema, staged.map { case (n, s) => PartFile(n, s, batchKeys) })
      else {
        val merged = mergeByKey(
          Some(t.spark.read.schema(schema).parquet(rewrite.map(f => t.live(f.name).toString): _*)),
          t.spark.read.schema(batch.schema).parquet(new Path(t.stage, id).toString),
          keyCols, versionCol)
        val dir = s"$id-merged"
        val (_, keys) = writeObserved(merged, new Path(t.stage, dir), keyCols)
        (dir, merged.schema,
          t.filesIn(new Path(t.stage, dir)).map { case (n, s) => PartFile(n, s, keys) })
      }
    stopAt("staged")
    val dropped = rewrite.map(_.name).toSet
    val next = Version(schemaOut.json, table.filterNot(f => dropped(f.name)) ++ added,
      dropped.toSeq.sorted, dir, writer)
    val n = versions.lastOption.getOrElse(0L) + 1
    t.create(n, next)
    stopAt("committed")
    settle(t, versions :+ n, Some(next), stopAt)
    true
  }

  /** Steps 3-5 of [[upsertParquet]] for the latest version: reveal its
    * staged files, delete the visible files it dropped, then the
    * versions before its predecessor and every staged file. Returns the
    * visible part files it does not list (name → size). */
  private def settle(t: TableFiles, versions: Seq[Long], latest: Option[Version],
      stop: String => Unit): Map[String, Long] = {
    val visible = t.filesIn(t.root)
    latest.foreach(v => v.files.filterNot(f => visible.contains(f.name)).foreach { f =>
      if (!t.fs.rename(t.staged(v, f.name), t.live(f.name)))
        throw new java.io.IOException(s"${t.root}: ${f.name} of the latest version is neither live nor staged")
    })
    stop("revealed")
    val dropped = latest.fold(Seq.empty[String])(_.dropped).filter(visible.contains)
    dropped.foreach(f => t.fs.delete(t.live(f), false))
    stop("dropped")
    versions.dropRight(2).foreach(v => t.fs.delete(t.versionPath(v), false))
    t.fs.delete(t.stage, true)
    visible -- latest.fold(Seq.empty[String])(_.files.map(_.name)) -- dropped
  }

  /** The latest version of the parquet table [[upsertParquet]] keeps at
    * `path`, read as one snapshot: a file not yet moved into the table
    * is read where it is staged. A read that races later commits fails;
    * it never mixes versions. A table without a log is read as plain
    * parquet.
    */
  def readTable(spark: SparkSession, path: String): DataFrame = {
    val t = new TableFiles(spark, path)
    t.versions.lastOption.map(t.read) match {
      case None => spark.read.parquet(path)
      case Some(v) =>
        val visible = t.filesIn(t.root)
        spark.read.schema(DataType.fromJson(v.schema).asInstanceOf[StructType])
          .parquet(v.files.map(f =>
            (if (visible.contains(f.name)) t.live(f.name) else t.staged(v, f.name)).toString): _*)
    }
  }

  /** Stops [[upsertParquet]] after a named step ("staged", "committed",
    * "revealed", "dropped") when it throws; specs use it to stand in
    * for a crash at that point. */
  @volatile private[graft] var stopAt: String => Unit = _ => ()

  /** One key column's observed values as order-preserving longs: the
    * range of the non-null ones (lo > hi when there are none) and
    * whether a null occurs. */
  private case class KeyRange(lo: Long, hi: Long, nulls: Boolean)
  /** A live part file, with each provable key column's range. */
  private case class PartFile(name: String, size: Long, keys: Map[String, KeyRange])
  /** The stream batch that wrote a version. `query` is the id Spark
    * keeps in the checkpoint: a checkpoint reset at one path is a new
    * writer. */
  private case class Writer(checkpoint: String, query: String, batch: Long)
  /** One version of a table's log. `stage` names the staging directory
    * of the files this version adds, until they are moved in. */
  private case class Version(schema: String, files: Seq[PartFile],
      dropped: Seq[String], stage: String, writer: Option[Writer])

  private implicit val logFormats: org.json4s.Formats = org.json4s.DefaultFormats

  /** The files of a logged parquet table at `path`. */
  private class TableFiles(val spark: SparkSession, path: String) {
    val root = new Path(path)
    val conf = GraftShim.hadoopConf(spark)
    val fs = root.getFileSystem(conf)
    val log = new Path(root, "_graft_log")
    val stage = new Path(root, "_graft_stage")

    def live(name: String): Path = new Path(root, name)
    def staged(v: Version, name: String): Path = new Path(new Path(stage, v.stage), name)
    def versionPath(v: Long): Path = new Path(log, s"$v.json")

    /** The log's version numbers, ascending. */
    def versions: Seq[Long] = list(log).map(_.getPath.getName)
      .filter(_.matches("""\d+\.json""")).map(_.stripSuffix(".json").toLong).sorted

    def read(v: Long): Version = {
      val in = fs.open(versionPath(v))
      try Serialization.read[Version](new String(in.readAllBytes(), "UTF-8"))
      finally in.close()
    }

    /** The commit point: create version `v`, failing if it exists. */
    def create(v: Long, version: Version): Unit = {
      fs.mkdirs(log)
      val fm = CheckpointFileManager.create(log, conf)
      try writeAtomic(fm, versionPath(v), Serialization.write(version), overwrite = false)
      finally fm.close()
    }

    /** The part files a parquet reader of `dir` lists, name → size. */
    def filesIn(dir: Path): Map[String, Long] = list(dir)
      .filter(s => s.isFile && !"_.".contains(s.getPath.getName.head))
      .map(s => s.getPath.getName -> s.getLen).toMap

    private def list(dir: Path): Seq[FileStatus] =
      try fs.listStatus(dir).toSeq
      catch { case _: java.io.FileNotFoundException => Nil }
  }

  /** Part files a table may hold before the smallest are compacted. */
  private val MaxAppendFiles = 256

  /** An order-preserving long for the key types whose order can prove
    * two ranges disjoint: integral, date and timestamp. */
  private def ordinalOf(c: Column, t: DataType): Option[Column] = t match {
    case ByteType | ShortType | IntegerType | LongType => Some(c.cast(LongType))
    case DateType => Some(unix_date(c).cast(LongType))
    case TimestampType => Some(unix_micros(c))
    case _ => None
  }

  /** Per provable key column `k`: its ordinal's min and max and its
    * null count, as `lo_k`, `hi_k` and `nulls_k`. */
  private def rangeAggs(schema: StructType, keyCols: Seq[String]): Seq[Column] =
    keyCols.flatMap(k => ordinalOf(col(k), schema(k).dataType).toSeq.flatMap(o =>
      Seq(min(o).as(s"lo_$k"), max(o).as(s"hi_$k"), count_if(col(k).isNull).as(s"nulls_$k"))))

  /** The [[KeyRange]]s that [[rangeAggs]]' values (by name) give. */
  private def rangesOf(get: String => Any, schema: StructType,
      keyCols: Seq[String]): Map[String, KeyRange] =
    keyCols.filter(k => ordinalOf(col(k), schema(k).dataType).nonEmpty).map { k =>
      def long(name: String, none: Long) = Option(get(s"${name}_$k")).fold(none)(_.asInstanceOf[Long])
      k -> KeyRange(long("lo", Long.MaxValue), long("hi", Long.MinValue), long("nulls", 0L) > 0)
    }.toMap

  /** Write `df` under `dir` as parquet, observing its row count and
    * each key column's [[KeyRange]] on the same job.
    *
    * The write is coalesced to one part file per AQE advisory partition
    * size (`spark.sql.adaptive.advisoryPartitionSizeInBytes`) of the
    * plan's size estimate. AQE coalesces only the partitions of a
    * shuffle, and a stateful stream's output is already partitioned by
    * key, so the dedup adds none: without this, a live batch of 50 rows
    * lands as one file per state partition.
    */
  private def writeObserved(df: DataFrame, dir: Path,
      keyCols: Seq[String]): (Long, Map[String, KeyRange]) = {
    val target = JavaUtils.byteStringAsBytes(df.sparkSession.conf.get(
      "spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")).max(1L)
    val files = ((df.queryExecution.analyzed.stats.sizeInBytes + target - 1) / target)
      .max(1).min(Int.MaxValue).toInt
    val obs = Observation()
    df.coalesce(files).observe(obs, count(lit(1)).as("rows"), rangeAggs(df.schema, keyCols): _*)
      .write.mode(SaveMode.Overwrite).parquet(dir.toString)
    val m = obs.get
    (m("rows").asInstanceOf[Long], rangesOf(m, df.schema, keyCols))
  }

  /** The part files `files` (name → size) of the table `t`, with their
    * key ranges observed on one read. */
  private def observeFiles(t: TableFiles, files: Map[String, Long], schema: StructType,
      keyCols: Seq[String]): Seq[PartFile] = {
    val aggs = rangeAggs(schema, keyCols)
    val observed = if (files.isEmpty || aggs.isEmpty) Map.empty[String, Row]
      else t.spark.read.schema(schema).parquet(files.keys.map(t.live(_).toString).toSeq: _*)
        .groupBy(col("_metadata.file_name").as("file")).agg(aggs.head, aggs.tail: _*)
        .collect().map(r => r.getAs[String]("file") -> r).toMap
    files.map { case (name, size) =>
      PartFile(name, size, rangesOf(c => observed.get(name).map(_.getAs[Any](c)).orNull,
        schema, keyCols))
    }.toSeq
  }

  private def disjoint(a: KeyRange, b: KeyRange): Boolean =
    !(a.nulls && b.nulls) && (a.hi < b.lo || b.hi < a.lo)

  /** COMPANIES-DIM WRITE PATH — the reference's dim maintenance
    * (utils/company_manager.py:62-122 get_or_create_company, :215-252
    * update_company_info, :277-291 bulk_create_companies) as ONE
    * SCD-1 merge over the customer dim (the companies stand-in):
    * a deterministic incoming batch carries UPDATES for existing keys
    * (the reference's `UPDATE companies SET <kwargs> WHERE ticker` —
    * the row is read, mutable fields overwritten, identity preserved)
    * and INSERTS for brand-new keys (get_or_create's miss path —
    * whole rows). The merge itself is [[mergeByKey]] — the identical
    * kernel the durable sinks run, exercised here as a hash-graded
    * query: batch rows (version 1) win over the base dim (version 0),
    * one row per key survives, `action` says what the merge did.
    *
    * Scale shape: ONE key-partitioned window over base ∪ batch — at a
    * real dim size the batch is tiny and [[upsertParquet]] rewrites
    * only the part files whose key ranges it meets; the query form
    * grades the merge algebra.
    */
  def companyUpsert(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_acctbal"), col("c_mktsegment"))
    val updated = base.filter(col("c_custkey") % 7 === 0)
      .withColumn("c_acctbal", (col("c_custkey") % 1000L).cast("double"))
      .withColumn("c_mktsegment", lit("REASSIGNED"))
      .withColumn("action", lit("update"))
    val inserted = base.filter(col("c_custkey") % 13 === 0)
      .select((col("c_custkey") + 1000000L).as("c_custkey"),
        concat(lit("NewCo#"),
          (col("c_custkey") + 1000000L).cast("string")).as("c_name"),
        col("c_nationkey"),
        lit(0.0).as("c_acctbal"),
        lit("NEWLY_LISTED").as("c_mktsegment"),
        lit("insert").as("action"))
    val batch = updated.unionByName(inserted).withColumn("v", lit(1))
    val dim = base.withColumn("action", lit("carry")).withColumn("v", lit(0))
    mergeByKey(Some(dim), batch, Seq("c_custkey"), "v")
      .drop("v")
  }

  /** [[companyUpsert]]'s HISTORY-PRESERVING dual — SCD TYPE-2: instead
    * of overwriting, the merge APPENDS a new version row and closes
    * the old one (valid_from/valid_to version stamps + is_current),
    * the dim shape the reference's realtime→historical migration
    * implies for facts (current_schema.sql:165-200 keeps daily
    * snapshots; a dim under the same discipline keeps attribute
    * history). Same deterministic batch as the upsert: updated keys
    * carry TWO rows (v0 closed + v1 current), carried keys one open
    * v0 row, inserted keys one open v1 row. An SCD-2 merge is pure
    * append algebra — one key-partitioned window computes valid_to as
    * the next version's stamp — so at scale it rides [[upsertParquet]],
    * which rewrites only the files whose key ranges a batch meets, with
    * NO read-modify-write of history (closed rows never change).
    */
  def companyScd2(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_acctbal"), col("c_mktsegment"))
    val updated = base.filter(col("c_custkey") % 7 === 0)
      .withColumn("c_acctbal", (col("c_custkey") % 1000L).cast("double"))
      .withColumn("c_mktsegment", lit("REASSIGNED"))
    val inserted = base.filter(col("c_custkey") % 13 === 0)
      .select((col("c_custkey") + 1000000L).as("c_custkey"),
        concat(lit("NewCo#"),
          (col("c_custkey") + 1000000L).cast("string")).as("c_name"),
        col("c_nationkey"),
        lit(0.0).as("c_acctbal"),
        lit("NEWLY_LISTED").as("c_mktsegment"))
    val versions = base.withColumn("valid_from", lit(0))
      .unionByName(updated.unionByName(inserted).withColumn("valid_from", lit(1)))
    val w = Window.partitionBy("c_custkey").orderBy("valid_from")
    versions
      .withColumn("valid_to", lead("valid_from", 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
  }

  def companyScd2Sql: String =
    """WITH base AS (
      |  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
      |  FROM customer
      |), upd AS (
      |  SELECT c_custkey, c_name, c_nationkey,
      |    (c_custkey % 1000)::DOUBLE AS c_acctbal,
      |    'REASSIGNED' AS c_mktsegment
      |  FROM base WHERE c_custkey % 7 = 0
      |), ins AS (
      |  SELECT c_custkey + 1000000 AS c_custkey,
      |    'NewCo#' || CAST(c_custkey + 1000000 AS VARCHAR) AS c_name,
      |    c_nationkey, 0.0::DOUBLE AS c_acctbal,
      |    'NEWLY_LISTED' AS c_mktsegment
      |  FROM base WHERE c_custkey % 13 = 0
      |), versions AS (
      |  SELECT *, 0 AS valid_from FROM base
      |  UNION ALL
      |  SELECT *, 1 AS valid_from
      |  FROM (SELECT * FROM upd UNION ALL SELECT * FROM ins)
      |)
      |SELECT *,
      |  lead(valid_from) OVER (PARTITION BY c_custkey ORDER BY valid_from)
      |    AS valid_to,
      |  lead(valid_from) OVER (PARTITION BY c_custkey ORDER BY valid_from)
      |    IS NULL AS is_current
      |FROM versions ORDER BY c_custkey, valid_from""".stripMargin

  def companyUpsertSql: String =
    """WITH base AS (
      |  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
      |  FROM customer
      |), upd AS (
      |  SELECT c_custkey, c_name, c_nationkey,
      |    (c_custkey % 1000)::DOUBLE AS c_acctbal,
      |    'REASSIGNED' AS c_mktsegment, 'update' AS action
      |  FROM base WHERE c_custkey % 7 = 0
      |), ins AS (
      |  SELECT c_custkey + 1000000 AS c_custkey,
      |    'NewCo#' || CAST(c_custkey + 1000000 AS VARCHAR) AS c_name,
      |    c_nationkey, 0.0::DOUBLE AS c_acctbal,
      |    'NEWLY_LISTED' AS c_mktsegment, 'insert' AS action
      |  FROM base WHERE c_custkey % 13 = 0
      |), batch AS (
      |  SELECT * FROM upd UNION ALL SELECT * FROM ins
      |)
      |SELECT * FROM batch
      |UNION ALL
      |SELECT b.*, 'carry' AS action FROM base b
      |WHERE b.c_custkey NOT IN (SELECT c_custkey FROM batch)
      |ORDER BY c_custkey""".stripMargin

  private val LocalFsKey = "fs.AbstractFileSystem.file.impl"

  /** Start `body` as a checkpointed foreachBatch query.
    *
    * Before the start it installs [[NioLocalFs]] as the session's
    * `file:` FileContext binding, unless a value for that key is
    * already set (in the session, the SparkContext's Hadoop conf or a
    * site file). Every trigger writes its offset and commit logs, the
    * state-store deltas and the batch ledger through FileContext, and
    * the stock binding forks a `chmod` or `readlink` child for most of
    * those calls when libhadoop is absent — the bulk of a trigger's
    * time on a small live stream. The driver's metadata logs and the
    * executors' state stores both build their FileContext from the
    * session's Hadoop conf, so one session conf reaches both. Files
    * and `.crc` sidecars are byte-identical to the stock binding's, so
    * checkpoints written under either resume under the other; other
    * schemes are untouched.
    */
  private def startForeachBatch(ticks: DataFrame, checkpoint: String)(
      body: (DataFrame, Long) => Unit): StreamingQuery = {
    val spark = ticks.sparkSession
    val sources = GraftShim.hadoopConf(spark).getPropertySources(LocalFsKey)
    if (sources == null || sources.forall(_ == "core-default.xml"))
      spark.conf.set(LocalFsKey, classOf[NioLocalFs].getName)
    ticks.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) => body(batch, id) }
      .start()
  }

  /** One exactly-once microbatch commit of [[streamUpsertJdbc]]: run
    * `apply`, then record the batch id in the ledger file. A
    * RE-DELIVERED batch (id ≤ ledger) is skipped entirely. foreachBatch
    * is at-least-once after failures; the MERGE is already idempotent
    * per key, so the ledger makes its side effects happen once per
    * batch too. Returns true when the batch was applied.
    *
    * The ledger lives with the CHECKPOINT, not the table: batch ids
    * are only monotonic within one checkpoint lineage, so a checkpoint
    * reset (ids restart at 0) gets a fresh ledger and re-applies
    * idempotently instead of silently dropping the first batches. It
    * is read and written through Spark's checkpoint file manager, as
    * the checkpoint itself is: a Hadoop path (file:/, hdfs://,
    * s3a://...) replaced by an atomic create — on `file:` a rename
    * that deletes the old ledger first, a window that re-applies too.
    */
  private[graft] def commitOnce(spark: SparkSession, ledgerPath: String,
      batchId: Long)(apply: => Unit): Boolean = {
    val ledger = new Path(ledgerPath)
    val fm = CheckpointFileManager.create(ledger, GraftShim.hadoopConf(spark))
    try {
      // a missing, unreadable or truncated ledger degrades to RE-APPLY —
      // the merge is idempotent — never to a permanently failing sink
      val committed = scala.util.Try {
        val in = fm.open(ledger)
        try new String(in.readAllBytes(), "UTF-8").trim.toLong finally in.close()
      }.getOrElse(-1L)
      if (batchId <= committed) return false
      apply
      fm.mkdirs(ledger.getParent)
      writeAtomic(fm, ledger, batchId.toString, overwrite = true)
      true
    } finally fm.close()
  }

  /** Write `text` to `file` with `fm`'s atomic create. */
  private def writeAtomic(fm: CheckpointFileManager, file: Path, text: String,
      overwrite: Boolean): Unit = {
    val out = fm.createAtomic(file, overwrite)
    try out.write(text.getBytes("UTF-8")) catch { case e: Throwable => out.cancel(); throw e }
    out.close()
  }

  /** Streaming sink: the consumer→database leg (consumer/consumer.py
    * + analytics_consumer.py:97-192) as a foreachBatch [[upsertParquet]]
    * that records each batch's checkpoint and id in the version it
    * creates — exactly-once in effects as well as in results:
    * Structured Streaming replays the last uncommitted microbatch after
    * a crash, and a batch the table's latest version already shows is
    * skipped. Batch ids are monotonic only within one checkpoint, so a
    * reset checkpoint (ids from 0 again, a new query id) re-applies
    * idempotently instead of dropping its first batches.
    */
  def streamUpsertExactlyOnce(ticks: DataFrame, path: String, checkpoint: String,
      keyCols: Seq[String], versionCol: String): StreamingQuery =
    startForeachBatch(ticks, checkpoint) { (batch, id) =>
      val query = batch.sparkSession.sparkContext.getLocalProperty("sql.streaming.queryId")
      upsertLogged(batch, path, keyCols, versionCol, Some(Writer(checkpoint, query, id))): Unit
    }

  // ---------------------------------------------------------------- JDBC

  private def qid(ident: String): String = "\"" + ident + "\""

  /** Merge `updates` into JDBC table `table` — the reference's ACTUAL
    * sink leg (PostgreSQL `INSERT ... ON CONFLICT ... DO UPDATE`,
    * shared/database.py; predictions upsert,
    * batch_predict_linear_regression.py:60-76) — as a staging table +
    * ANSI MERGE. Same contract as [[upsertParquet]]: one row per
    * `keyCols` survives, newest by `versionCol`, ties → update wins.
    *
    * The batch is deduped per key with [[mergeByKey]] BEFORE staging
    * (MERGE requires one source row per target row), written with
    * Spark's parallel JDBC writer, then merged in one set-based
    * server-side statement — no per-row driver round-trips. Verified
    * against embedded Derby in SinksSpec (the in-container stand-in);
    * against PostgreSQL the same staging+MERGE shape applies verbatim.
    * A target this function creates gets a UNIQUE constraint on
    * `keyCols` (the index `ON CONFLICT` needs). On its first use in
    * this process, a pre-existing target is checked through
    * `DatabaseMetaData.getIndexInfo`: without an index on exactly the
    * key columns it gets the same constraint, so no MERGE runs as a
    * scan of the whole target. That `ALTER TABLE` fails, and with it
    * this call, if the target already holds duplicate keys.
    *
    * String columns are pinned to VARCHAR (Spark's Derby default is
    * CLOB, which cannot be compared or indexed in a MERGE ON clause).
    *
    * Identifier contract: COLUMN references are double-quoted to match
    * the exact-case columns Spark's JDBC writer creates in the staging
    * table; TABLE names are interpolated unquoted and case-fold per
    * engine (Derby→upper, PostgreSQL→lower). Targets this function
    * creates are therefore always consistent; a PRE-EXISTING target
    * must have been created with case-exact (quoted) column DDL
    * matching the DataFrame schema, or the quoted refs like
    * t."user_id" won't resolve. Concurrency: each invocation stages
    * into a unique table (dropped in a finally), so concurrent writers
    * to the same TARGET serialize on the engine's MERGE row locks
    * rather than clobbering each other's staging rows; last version
    * wins per key either way, per the MERGE condition.
    */
  def upsertJdbc(updates: DataFrame, url: String, table: String,
      keyCols: Seq[String], versionCol: String): Unit = {
    val deduped = mergeByKey(None, updates, keyCols, versionCol)
    // unique per invocation: concurrent writers (batch job + streaming
    // foreachBatch) must not share or race a fixed staging name
    val staging = table + "_stg_" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    val stringCols = deduped.schema.fields
      .filter(_.dataType == org.apache.spark.sql.types.StringType)
      .map(f => s"${f.name} VARCHAR(32672)") // Derby's max VARCHAR
    val writer = deduped.write.mode(SaveMode.Overwrite)
      .format("jdbc").option("url", url).option("dbtable", staging)
    val cols = deduped.schema.fieldNames
    val colList = cols.map(qid).mkString(", ")
    val onClause = keyCols.map(k => s"t.${qid(k)} = s.${qid(k)}").mkString(" AND ")
    val setClause = cols.filterNot(keyCols.contains)
      .map(c => s"${qid(c)} = s.${qid(c)}").mkString(", ")
    val insertVals = cols.map(c => s"s.${qid(c)}").mkString(", ")
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try {
        // inside the try: Spark creates the staging table before it
        // inserts, so a failed insert leaves a table to drop
        (if (stringCols.isEmpty) writer
         else writer.option("createTableColumnTypes", stringCols.mkString(", ")))
          .save()
        // probe existence with a no-row SELECT rather than metadata
        // getTables: the JDBC pattern API treats '_' as a wildcard and
        // is case-folding-sensitive per engine (Derby stores uppercase,
        // PostgreSQL lowercase) — a direct query is exact everywhere
        val exists =
          try {
            val st0 = conn.createStatement()
            try { st0.executeQuery(s"SELECT 1 FROM $table WHERE 1 = 0").close(); true }
            finally st0.close()
          } catch { case _: java.sql.SQLException => false }
        val target = (url, table, keyCols)
        if (!exists)
          st.executeUpdate(
            s"CREATE TABLE $table AS SELECT * FROM $staging WITH NO DATA")
        if (!exists || !keyedTargets.contains(target)) {
          // the key constraint's index makes each MERGE O(batch)
          // instead of a scan of the whole target
          if (!exists || !hasKeyIndex(conn, table, keyCols))
            st.executeUpdate(
              s"ALTER TABLE $table ADD UNIQUE (${keyCols.map(qid).mkString(", ")})")
          keyedTargets.add(target)
        }
        st.executeUpdate(
          s"""MERGE INTO $table t USING $staging s ON $onClause
             |WHEN MATCHED AND s.${qid(versionCol)} >= t.${qid(versionCol)}
             |  THEN UPDATE SET $setClause
             |WHEN NOT MATCHED THEN INSERT ($colList) VALUES ($insertVals)
             |""".stripMargin)
      } finally {
        // always drop the staging copy — even on a failed staging
        // write or MERGE — so aborted invocations don't leak
        // uniquely-named tables
        try st.executeUpdate(s"DROP TABLE $staging")
        catch { case _: java.sql.SQLException => () }
        st.close()
      }
    } finally conn.close()
  }

  /** The (url, table, key columns) targets known in this process to
    * hold an index on exactly their key columns. */
  private val keyedTargets =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(String, String, Seq[String])]()

  /** Does `table` have an index on exactly the columns `keyCols`?
    * `table` is folded to the engine's identifier case (Derby upper,
    * PostgreSQL lower), as its unquoted use in SQL is; an unqualified
    * name is looked up in the connection's current schema. Any index
    * counts, unique or not: Derby lists the index behind a UNIQUE
    * constraint on nullable columns as non-unique.
    */
  private def hasKeyIndex(conn: java.sql.Connection, table: String,
      keyCols: Seq[String]): Boolean = {
    val md = conn.getMetaData
    def fold(id: String): String =
      if (md.storesUpperCaseIdentifiers) id.toUpperCase(java.util.Locale.ROOT)
      else if (md.storesLowerCaseIdentifiers) id.toLowerCase(java.util.Locale.ROOT)
      else id
    val (schema, name) = table.split('.') match {
      case Array(s, t) => (fold(s), fold(t))
      case _ => (conn.getSchema, fold(table))
    }
    val rs = md.getIndexInfo(null, schema, name, false, false)
    try {
      Iterator.continually(rs).takeWhile(_.next())
        .flatMap(r => Option(r.getString("COLUMN_NAME")).map(r.getString("INDEX_NAME") -> _))
        .toSeq.groupBy(_._1).values.exists(_.map(_._2).toSet == keyCols.toSet)
    } finally rs.close()
  }

  /** Streaming JDBC upsert with the per-batch commit ledger — the
    * consumer→PostgreSQL leg of the reference as a foreachBatch
    * staging+MERGE, exactly-once in both results (idempotent merge)
    * and effects (ledger skips re-delivered batch ids).
    */
  def streamUpsertJdbc(ticks: DataFrame, url: String, table: String,
      checkpoint: String, keyCols: Seq[String], versionCol: String): StreamingQuery =
    startForeachBatch(ticks, checkpoint) { (batch, id) =>
      commitOnce(batch.sparkSession, s"$checkpoint/graft.commit", id) {
        upsertJdbc(batch, url, table, keyCols, versionCol)
      }: Unit
    }
}
