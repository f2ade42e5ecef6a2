package graft

import graft.sources.Sinks
import graft.streaming.TickStream
import org.apache.spark.sql.functions._

class SinksSpec extends SparkSuite {
  import spark.implicits._

  test("upsertParquet keeps latest row per key across merges") {
    val path = java.nio.file.Files.createTempDirectory("upsert").toString + "/t"
    val batch1 = Seq((1L, "2024-01-01", 10.0), (2L, "2024-01-01", 20.0))
      .toDF("id", "day", "price")
    Sinks.upsertParquet(batch1, path, Seq("id"), "day")
    val batch2 = Seq((2L, "2024-01-02", 25.0), (3L, "2024-01-01", 30.0))
      .toDF("id", "day", "price")
    Sinks.upsertParquet(batch2, path, Seq("id"), "day")
    val result = spark.read.parquet(path).orderBy("id").collect()
    assert(result.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(result(1).getDouble(2) == 25.0, "id=2 should take the newer price")
  }

  test("companyUpsert: updates overwrite info, inserts add keys, identity survives") {
    val base = graft.Tables.customer(spark, sfDir)
      .select("c_custkey", "c_name", "c_nationkey", "c_acctbal",
        "c_mktsegment").collect()
      .map(r => r.getLong(0) -> r).toMap
    val out = Sinks.companyUpsert(spark, sfDir).collect()
    // one row per key; the key space = base ∪ synthesized inserts
    val keys = out.map(_.getAs[Long]("c_custkey"))
    assert(keys.toSet.size == keys.length, "merge must emit one row per key")
    val expectedInserts = base.keySet.filter(_ % 13 == 0).map(_ + 1000000L)
    assert(keys.toSet == base.keySet ++ expectedInserts)
    val byAction = out.groupBy(_.getAs[String]("action"))
    assert(byAction("insert").map(_.getAs[Long]("c_custkey")).toSet ==
      expectedInserts)
    assert(byAction("update").map(_.getAs[Long]("c_custkey")).toSet ==
      base.keySet.filter(_ % 7 == 0))
    byAction("update").foreach { r =>
      val b = base(r.getAs[Long]("c_custkey"))
      // identity preserved (get_or_create keeps the existing row's
      // identity); mutable info overwritten (update_company_info)
      assert(r.getAs[String]("c_name") == b.getAs[String]("c_name"))
      assert(r.getAs[Int]("c_nationkey") == b.getAs[Int]("c_nationkey"))
      assert(r.getAs[String]("c_mktsegment") == "REASSIGNED")
      assert(r.getAs[Double]("c_acctbal") ==
        (r.getAs[Long]("c_custkey") % 1000L).toDouble)
    }
    byAction("carry").foreach { r =>
      val b = base(r.getAs[Long]("c_custkey"))
      assert(r.getAs[String]("c_mktsegment") == b.getAs[String]("c_mktsegment")
        && r.getAs[Double]("c_acctbal") == b.getAs[Double]("c_acctbal"),
        "carried rows must pass through unmodified")
    }
  }

  test("companyScd2: history preserved, one current row per key") {
    val baseKeys = graft.Tables.customer(spark, sfDir)
      .select("c_custkey").collect().map(_.getLong(0)).toSet
    val rows = Sinks.companyScd2(spark, sfDir).collect()
    val byKey = rows.groupBy(_.getAs[Long]("c_custkey"))
    byKey.foreach { case (k, vs) =>
      // exactly one OPEN row per key; updates close their v0 row
      assert(vs.count(_.getAs[Boolean]("is_current")) == 1, s"key $k")
      if (baseKeys(k) && k % 7 == 0) {
        assert(vs.length == 2, s"updated key $k must keep both versions")
        val v0 = vs.find(_.getAs[Int]("valid_from") == 0).get
        assert(!v0.getAs[Boolean]("is_current")
          && v0.getAs[Int]("valid_to") == 1, s"key $k v0 must close at 1")
        val v1 = vs.find(_.getAs[Int]("valid_from") == 1).get
        assert(v1.getAs[String]("c_mktsegment") == "REASSIGNED")
      } else {
        assert(vs.length == 1, s"key $k must have one version")
        assert(vs.head.getAs[Boolean]("is_current"))
      }
    }
    // history append-only: every base attribute row survives verbatim
    val v0Rows = rows.filter(_.getAs[Int]("valid_from") == 0)
    assert(v0Rows.length == baseKeys.size, "no base row may vanish")
  }

  test("upsert is idempotent (re-applying a batch changes nothing)") {
    val path = java.nio.file.Files.createTempDirectory("upsert_idem").toString + "/t"
    val batch = Seq((1L, "2024-01-01", 10.0)).toDF("id", "day", "price")
    Sinks.upsertParquet(batch, path, Seq("id"), "day")
    Sinks.upsertParquet(batch, path, Seq("id"), "day")
    assert(spark.read.parquet(path).count() == 1)
  }

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** One parquet upsert of `batch` under the commit ledger. */
  private def upsertOnce(batch: org.apache.spark.sql.DataFrame, path: String,
      ledger: String, batchId: Long): Boolean =
    Sinks.commitOnce(spark, ledger, batchId) {
      Sinks.upsertParquet(batch, path, Seq("id"), "v")
    }

  test("commitOnce applies a parquet upsert once and skips the replay") {
    val dir = java.nio.file.Files.createTempDirectory("once").toString
    val path = dir + "/t"
    val ledger = dir + "/ckpt/graft.commit"
    val batch = Seq((1L, 1L, 10.0)).toDF("id", "v", "price")
    assert(upsertOnce(batch, path, ledger, 0L))
    def state() = {
      val files = new java.io.File(path).listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
      (files, spark.read.parquet(path).collect().map(_.toString).sorted.toSeq)
    }
    val before = state()
    // crash-replay of the SAME batch id must be a complete no-op
    val differentPayload = Seq((1L, 9L, 99.0)).toDF("id", "v", "price")
    assert(!upsertOnce(differentPayload, path, ledger, 0L))
    assert(state() == before, "replayed batch must not touch the table")
    // the NEXT batch id applies normally
    assert(upsertOnce(Seq((2L, 2L, 20.0)).toDF("id", "v", "price"), path, ledger, 1L))
    assert(spark.read.parquet(path).count() == 2)
    // a truncated/corrupt ledger degrades to re-apply, never to a crash
    java.nio.file.Files.writeString(java.nio.file.Paths.get(ledger), "")
    assert(upsertOnce(Seq((3L, 3L, 30.0)).toDF("id", "v", "price"), path, ledger, 0L))
    assert(spark.read.parquet(path).count() == 3)
  }

  test("commitOnce handles a URI-style ledger path (Hadoop FS)") {
    val dir = java.nio.file.Files.createTempDirectory("once_uri").toString
    val path = dir + "/t"
    val ledgerUri = s"file:$dir/ckpt/graft.commit"
    val batch = Seq((1L, 1L, 10.0)).toDF("id", "v", "price")
    assert(upsertOnce(batch, path, ledgerUri, 0L))
    // the ledger landed at the REAL location, not a cwd-mangled one
    assert(new java.io.File(s"$dir/ckpt/graft.commit").exists(),
      "URI ledger path must resolve through the Hadoop filesystem")
    assert(!upsertOnce(batch, path, ledgerUri, 0L), "replay must be skipped")
  }

  test("streamUpsertExactlyOnce lands the stream like a batch upsertParquet") {
    val out = java.nio.file.Files.createTempDirectory("stream_once").toString
    val q = graft.sources.Sinks.streamUpsertExactlyOnce(
      TickStream.eventsStream(spark, sfDir),
      s"$out/table", s"$out/ckpt", Seq("user_id", "ts"), "event_id")
    q.processAllAvailable()
    q.stop()
    val landed = spark.read.parquet(s"$out/table")
    assert(landed.groupBy("user_id", "ts").count().filter("count > 1").count() == 0)
    assert(landed.count() > 0)
    Sinks.upsertParquet(Tables.events(spark, sfDir), s"$out/batch",
      Seq("user_id", "ts"), "event_id")
    assert(rowsOf(landed) == rowsOf(spark.read.parquet(s"$out/batch")),
      "the stream must land what one batch upsert of the same input does")
    // the table's latest version records the checkpoint; no ledger
    val log = new java.io.File(s"$out/table/_graft_log").listFiles()
      .filter(_.getName.endsWith(".json")).maxBy(_.getName.stripSuffix(".json").toLong)
    assert(java.nio.file.Files.readString(log.toPath).contains(s"\"checkpoint\":\"$out/ckpt\""))
    assert(!new java.io.File(s"$out/ckpt/graft.commit").exists())
  }

  private def readJdbc(url: String, table: String) =
    spark.read.format("jdbc").option("url", url).option("dbtable", table).load()

  test("upsertJdbc merges newest-per-key into Derby across batches") {
    val db = java.nio.file.Files.createTempDirectory("derby").toString + "/db"
    val url = s"jdbc:derby:$db;create=true"
    val b1 = Seq((1L, 1L, 10.0, "A"), (2L, 1L, 20.0, "B"),
      (2L, 2L, 21.0, "B2")) // in-batch duplicate: newest must stage
      .toDF("id", "v", "price", "tag")
    Sinks.upsertJdbc(b1, url, "prices", Seq("id"), "v")
    val r1 = readJdbc(url, "prices").orderBy("id").collect()
    assert(r1.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(r1(1).getDouble(2) == 21.0, "in-batch dedup must keep newest")
    // update id=1, insert id=3, stale id=2 (v=0) must lose
    val b2 = Seq((1L, 2L, 11.0, "A2"), (3L, 1L, 30.0, "C"), (2L, 0L, 99.0, "stale"))
      .toDF("id", "v", "price", "tag")
    Sinks.upsertJdbc(b2, url, "prices", Seq("id"), "v")
    val r2 = readJdbc(url, "prices").orderBy("id").collect()
    assert(r2.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(r2(0).getDouble(2) == 11.0 && r2(0).getString(3) == "A2")
    assert(r2(1).getDouble(2) == 21.0, "stale version must not overwrite")
    // equal version: the update wins (reference ON CONFLICT semantics)
    Sinks.upsertJdbc(Seq((3L, 1L, 31.0, "C2")).toDF("id", "v", "price", "tag"),
      url, "prices", Seq("id"), "v")
    assert(readJdbc(url, "prices").filter("id = 3").head.getDouble(2) == 31.0)
  }

  test("streamUpsertJdbc lands the stream exactly-once into Derby") {
    val out = java.nio.file.Files.createTempDirectory("stream_jdbc").toString
    val url = s"jdbc:derby:$out/db;create=true"
    val q = Sinks.streamUpsertJdbc(
      TickStream.eventsStream(spark, sfDir),
      url, "ticks", s"$out/ckpt", Seq("user_id", "ts"), "event_id")
    q.processAllAvailable()
    q.stop()
    val landed = readJdbc(url, "ticks")
    assert(landed.count() > 0)
    assert(landed.groupBy("user_id", "ts").count().filter("count > 1").count() == 0)
    assert(new java.io.File(s"$out/ckpt/graft.commit").exists())
    // replaying the last committed batch id is a no-op (crash replay)
    val before = landed.collect().map(_.toString).sorted.toSeq
    val events = Tables.events(spark, sfDir).limit(10)
    val applied = Sinks.commitOnce(spark, s"$out/ckpt/graft.commit", 0L) {
      Sinks.upsertJdbc(events, url, "ticks", Seq("user_id", "ts"), "event_id")
    }
    assert(!applied, "batch 0 was already committed by the stream")
    assert(readJdbc(url, "ticks").collect().map(_.toString).sorted.toSeq == before)
  }

  test("streaming foreachBatch upsert lands deduped ticks") {
    val out = java.nio.file.Files.createTempDirectory("stream_upsert").toString
    val q = Sinks.streamUpsertExactlyOnce(
      TickStream.eventsStream(spark, sfDir),
      s"$out/table", s"$out/ckpt", Seq("user_id", "ts"), "event_id")
    q.processAllAvailable()
    q.stop()
    val landed = spark.read.parquet(s"$out/table")
    assert(landed.groupBy("user_id", "ts").count().filter("count > 1").count() == 0)
    assert(landed.count() > 0)
  }

  test("producer-shaped JSON roundtrip: to_json -> parseTicks preserves ticks") {
    val json = Tables.events(spark, sfDir).select(to_json(struct(
      col("user_id").cast("string").as("ticker_symbol"),
      col("value").as("current_price"),
      col("ts").as("trade_datetime"),
      col("ts").as("timestamp"),
      lit(100L).as("volume"))).as("value"))
    val parsed = TickStream.parseTicks(json)
    assert(parsed.count() == Tables.events(spark, sfDir)
      .filter("value > 0 AND user_id IS NOT NULL").count())
  }

  test("the merge ignores input order, in parquet and in JDBC, and on re-apply") {
    // key 1 has two rows at the same version in the same batch
    val a = Seq((1L, 1L, 10.0, "a")).toDF("id", "v", "price", "tag")
    val b = Seq((1L, 1L, 12.0, "b"), (2L, 1L, 20.0, "c")).toDF("id", "v", "price", "tag")
    val orders = Seq(a.union(b), b.union(a))
    val dir = java.nio.file.Files.createTempDirectory("merge_order").toString
    val url = s"jdbc:derby:$dir/db;create=true"
    def applyAll(batches: Seq[org.apache.spark.sql.DataFrame]): Seq[Seq[String]] =
      batches.zipWithIndex.flatMap { case (u, i) =>
        Sinks.upsertParquet(u, s"$dir/t$i", Seq("id"), "v")
        Sinks.upsertJdbc(u, url, s"t$i", Seq("id"), "v")
        Seq(rowsOf(spark.read.parquet(s"$dir/t$i").select("id", "v", "price", "tag")),
          rowsOf(readJdbc(url, s"t$i").select("id", "v", "price", "tag")))
      }
    val first = applyAll(orders)
    assert(first.distinct.size == 1, s"results differ by input order: $first")
    assert(first.head.size == 2)
    // each table re-applies the batch in the other union order
    assert(applyAll(orders.reverse) == first, "re-applying a batch changed a table")
  }

  test("upsertJdbc creates its target with a unique index on the key columns") {
    val db = java.nio.file.Files.createTempDirectory("derby_key").toString + "/db"
    val url = s"jdbc:derby:$db;create=true"
    Sinks.upsertJdbc(Seq((1L, "x", 1L, 10.0)).toDF("id", "kind", "v", "price"),
      url, "keyed", Seq("id", "kind"), "v")
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      // Derby backs a UNIQUE constraint on nullable columns with an
      // index it lists as non-unique (nulls may repeat), so list all
      val rs = conn.getMetaData.getIndexInfo(null, null, "KEYED", false, false)
      val indexed = Iterator.continually(rs).takeWhile(_.next())
        .map(r => r.getString("INDEX_NAME") -> r.getString("COLUMN_NAME")).toSeq
        .groupBy(_._1).values.map(_.map(_._2).toSet).toSeq
      assert(indexed.contains(Set("id", "kind")), s"indexes: $indexed")
      val st = conn.createStatement()
      try {
        val dup = intercept[java.sql.SQLException](st.executeUpdate(
          """INSERT INTO keyed ("id", "kind", "v", "price") VALUES (1, 'x', 2, 11.0)"""))
        assert(dup.getSQLState == "23505", "a repeated key must violate the constraint")
      } finally st.close()
    } finally conn.close()
  }

  // ------------------------------------------- upsertParquet's append path

  private type Frame = org.apache.spark.sql.DataFrame

  private def idRows(rows: (Long, Long, Double)*): Frame =
    rows.toDF("id", "v", "price")

  private def upsertById(batch: Frame, path: String): Unit =
    Sinks.upsertParquet(batch, path, Seq("id"), "v")

  /** The table one full-merge application of `batch` onto `prior`
    * leaves, as sorted row strings. */
  private def mergedOnce(prior: Frame, batch: Frame): Seq[String] =
    rowsOf(Sinks.mergeByKey(Some(prior), batch, Seq("id"), "v"))

  /** Assert that the table at `path` equals `expected` and holds one
    * row per key. */
  private def assertTable(path: String, expected: Seq[String], clue: String): Unit = {
    val t = spark.read.parquet(path).select("id", "v", "price")
    assert(rowsOf(t) == expected, clue)
    assert(t.groupBy("id").count().filter("count > 1").count() == 0,
      s"$clue: a key is held twice")
  }

  /** The data files of a table directory, name → mtime. */
  private def partFiles(path: String): Map[String, Long] =
    new java.io.File(path).listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.lastModified()).toMap

  private def tempPath(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  private val b1 = Seq((1L, 1L, 10.0), (2L, 1L, 20.0))
  private val b2 = Seq((3L, 1L, 30.0), (4L, 1L, 40.0), (5L, 1L, 50.0), (6L, 1L, 60.0))

  test("upsertParquet appends a key-disjoint batch, keeping every part file") {
    val path = tempPath("append_keep")
    upsertById(idRows(b1: _*), path)
    val before = partFiles(path)
    upsertById(idRows(b2: _*), path)
    val after = partFiles(path)
    assert(before.forall { case (f, t) => after.get(f).contains(t) },
      "an existing part file was rewritten")
    assert(after.size > before.size, "the batch's files were not moved in")
    assertTable(path, mergedOnce(idRows(b1: _*), idRows(b2: _*)), "append")
    assert(!new java.io.File(s"$path.staging").exists(), "staging left behind")
  }

  test("a streamed parquet table grows by one part file per small key-disjoint microbatch") {
    // four single-file inputs, key-disjoint, arriving in mtime order
    val input = java.nio.file.Files.createTempDirectory("stream_files_in")
    val batches = (0 until 4).map(i =>
      idRows((1 to 200).map(k => (i * 1000L + k, 1L, k.toDouble)): _*))
    batches.zipWithIndex.foreach { case (b, i) =>
      val dir = tempPath(s"stream_files_b$i")
      b.coalesce(1).write.parquet(dir)
      val dst = input.resolve(f"part$i%02d.parquet")
      java.nio.file.Files.copy(java.nio.file.Paths.get(dir, partFiles(dir).keys.head), dst)
      assert(dst.toFile.setLastModified(1700000000000L + i * 60000L))
    }
    val out = java.nio.file.Files.createTempDirectory("stream_files").toString
    // through a stateful operator, whose output stays partitioned by
    // key into the state partitions: the dedup then needs no shuffle
    // that AQE could coalesce, and each batch would land as one file
    // per state partition
    val q = Sinks.streamUpsertExactlyOnce(
      spark.readStream.schema(batches.head.schema)
        .option("maxFilesPerTrigger", 1).parquet(input.toString)
        .dropDuplicates("id"),
      s"$out/table", s"$out/ckpt", Seq("id"), "v")
    q.processAllAvailable()
    q.stop()
    assert(partFiles(s"$out/table").size == batches.size,
      partFiles(s"$out/table").keys)
    assertTable(s"$out/table", rowsOf(batches.reduce(_ union _)), "streamed")
  }

  test("upsertParquet merges a String- or Double-keyed batch whatever its range") {
    val keyed = Seq(
      "string" -> (Seq(("a", 1L, 1.0), ("b", 1L, 2.0)).toDF("id", "v", "price"),
        Seq(("y", 1L, 3.0), ("z", 1L, 4.0)).toDF("id", "v", "price")),
      "double" -> (Seq((1.0, 1L, 1.0), (2.0, 1L, 2.0)).toDF("id", "v", "price"),
        Seq((8.0, 1L, 3.0), (9.0, 1L, 4.0)).toDF("id", "v", "price")))
    keyed.foreach { case (kind, (first, second)) =>
      val path = tempPath(s"merge_$kind")
      Sinks.upsertParquet(first, path, Seq("id"), "v")
      val before = partFiles(path)
      Sinks.upsertParquet(second, path, Seq("id"), "v")
      assert(partFiles(path).keySet.intersect(before.keySet).isEmpty,
        s"$kind keys: the batch was appended, not merged")
      assert(rowsOf(spark.read.parquet(path)) == rowsOf(first.union(second)), kind)
    }
  }

  test("upsertParquet merges when both sides hold a null in every key column") {
    val path = tempPath("null_keys")
    def frame(rows: (Option[Long], Long, Double)*): Frame = rows.toDF("id", "v", "price")
    val first = frame((None, 1L, 1.0), (Some(1L), 1L, 10.0))
    val second = frame((None, 2L, 2.0), (Some(5L), 1L, 50.0))
    Sinks.upsertParquet(first, path, Seq("id"), "v")
    Sinks.upsertParquet(second, path, Seq("id"), "v")
    assert(rowsOf(spark.read.parquet(path)) ==
      rowsOf(Sinks.mergeByKey(Some(first), second, Seq("id"), "v")))
    assert(spark.read.parquet(path).filter("id IS NULL").count() == 1,
      "the null key is held twice")
  }

  test("upsertParquet compacts the table when an append would cross the file bound") {
    // one file per shuffle partition: no coalescing by size
    val conf = Seq("spark.sql.shuffle.partitions" -> "64",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1b")
    val saved = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val path = tempPath("file_bound")
      val batches = (0 until 5).map(i =>
        idRows((1 to 400).map(k => (i * 1000L + k, 1L, k.toDouble)): _*))
      val tables = batches.map { b => upsertById(b, path); fileSizes(path) }
      val counts = tables.map(_.size)
      val perWrite = counts.head
      assert(perWrite > 32, s"a write should spread over many files: $counts")
      assert(counts.forall(_ <= 256), s"the table passed the file bound: $counts")
      val crossed = counts.indices.indexWhere(i => i > 0 && counts(i) <= counts(i - 1))
      assert(crossed > 1 && counts(crossed - 1) + perWrite > 256,
        s"compaction ran before the bound was reached: $counts")
      // the compaction rewrote the smallest files and kept the others
      val (prior, next) = (tables(crossed - 1), tables(crossed))
      val (kept, compacted) = prior.partition { case (f, size) => next.get(f).contains(size) }
      assert(kept.nonEmpty && compacted.nonEmpty, s"file counts: $counts")
      assert(compacted.values.max <= kept.values.min,
        "a larger file was compacted while a smaller one was kept")
      assertTable(path, rowsOf(batches.reduce(_ union _)), "after compaction")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("upsertParquet re-applies an appended batch as one merge, in the same process") {
    val path = tempPath("replay_same")
    upsertById(idRows(b1: _*), path)
    upsertById(idRows(b2: _*), path) // appended; the ledger write is lost
    upsertById(idRows(b2: _*), path)
    assertTable(path, mergedOnce(idRows(b1: _*), idRows(b2: _*)), "replay")
  }

  test("upsertParquet re-applies an appended batch as one merge, in a fresh process") {
    val path = tempPath("replay_fresh")
    upsertById(idRows(b1: _*), path)
    upsertById(idRows(b2: _*), path)
    // a copy of the directory is a table no process has a record of
    val copy = tempPath("replay_fresh_copy")
    copyDir(path, copy)
    upsertById(idRows(b2: _*), copy)
    assertTable(copy, mergedOnce(idRows(b1: _*), idRows(b2: _*)), "fresh replay")
  }

  test("upsertParquet re-applies a batch whose files were half moved in") {
    val path = tempPath("replay_half")
    upsertById(idRows(b1: _*), path)
    val written = tempPath("replay_half_batch")
    idRows(b2: _*).repartition(4).write.parquet(written)
    val files = partFiles(written).keys.toSeq.sorted
    assert(files.size > 1, "the batch should span several files")
    files.take(files.size / 2).foreach { f =>
      java.nio.file.Files.move(java.nio.file.Paths.get(written, f),
        java.nio.file.Paths.get(path, f))
    }
    upsertById(idRows(b2: _*), path)
    assertTable(path, mergedOnce(idRows(b1: _*), idRows(b2: _*)), "half moved")
  }

  test("upsertParquet merges after a foreign part file appears in the table") {
    val path = tempPath("foreign")
    upsertById(idRows(b1: _*), path)
    val foreign = idRows((7L, 1L, 70.0))
    val written = tempPath("foreign_file")
    foreign.coalesce(1).write.parquet(written)
    partFiles(written).keys.foreach { f =>
      java.nio.file.Files.move(java.nio.file.Paths.get(written, f),
        java.nio.file.Paths.get(path, s"foreign-$f"))
    }
    val next = idRows((7L, 2L, 71.0))
    upsertById(next, path)
    assertTable(path, mergedOnce(idRows(b1: _*).union(foreign), next), "foreign file")
  }

  test("upsertParquet keeps the latest version of a key updated after several appends") {
    val path = tempPath("update_after_appends")
    val batches = Seq(b1, b2, Seq((10L, 1L, 100.0)), Seq((11L, 1L, 110.0)))
      .map(b => idRows(b: _*))
    batches.foreach(upsertById(_, path))
    val update = idRows((1L, 2L, 11.0), (10L, 0L, 0.0))
    upsertById(update, path)
    assertTable(path, mergedOnce(batches.reduce(_ union _), update), "update")
    val r = spark.read.parquet(path).filter("id IN (1, 10)").orderBy("id").collect()
    assert(r(0).getAs[Double]("price") == 11.0, "the newer version must win")
    assert(r(1).getAs[Double]("price") == 100.0, "an older version must lose")
  }

  /** The data files of a table directory, name → size. */
  private def fileSizes(path: String): Map[String, Long] =
    new java.io.File(path).listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.length).toMap

  private def copyDir(from: String, to: String): Unit = {
    val src = java.nio.file.Paths.get(from)
    java.nio.file.Files.walk(src).forEach { f =>
      java.nio.file.Files.copy(f, java.nio.file.Paths.get(to).resolve(src.relativize(f)),
        java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
    }
  }

  test("a fresh process appends its first key-disjoint batch, keeping every part file") {
    // a copy of a logged table, and a table written without a log: no
    // process has touched either
    val written = tempPath("fresh_src")
    upsertById(idRows(b1: _*), written)
    val logged = tempPath("fresh_logged")
    copyDir(written, logged)
    val plain = tempPath("fresh_plain")
    idRows(b1: _*).coalesce(1).write.parquet(plain)
    for (path <- Seq(logged, plain)) {
      val before = fileSizes(path)
      upsertById(idRows(b2: _*), path)
      val after = fileSizes(path)
      assert(before.forall { case (f, size) => after.get(f).contains(size) },
        s"$path: an existing part file was rewritten")
      assert(after.size > before.size, s"$path: the batch's files were not moved in")
      assertTable(path, mergedOnce(idRows(b1: _*), idRows(b2: _*)), path)
    }
  }

  test("upsertParquet rewrites only the part files of the day an update touches") {
    val path = tempPath("by_day")
    def rows(rs: (String, Long, Long, Double)*): Frame =
      rs.toDF("day", "id", "v", "price").withColumn("day", to_date(col("day")))
    def upsert(b: Frame): Unit = Sinks.upsertParquet(b, path, Seq("day", "id"), "v")
    // one upsert per day: the table is clustered by day
    Seq(rows(("2024-01-01", 1L, 1L, 10.0), ("2024-01-01", 2L, 1L, 20.0)),
      rows(("2024-01-02", 3L, 1L, 30.0)), rows(("2024-01-03", 4L, 1L, 40.0))).foreach(upsert)
    val dayOf = spark.read.parquet(path).select(col("_metadata.file_name"), col("day").cast("string"))
      .distinct().collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val before = partFiles(path)
    assert(dayOf.size == 3 && dayOf.values.toSet.size == 3, s"files by day: $dayOf")
    // update a 01-01 key and add one to 01-01: the other days stay
    val update = rows(("2024-01-01", 2L, 2L, 21.0), ("2024-01-01", 9L, 1L, 90.0))
    upsert(update)
    val after = partFiles(path)
    for ((f, day) <- dayOf)
      assert(after.get(f).contains(before(f)) == (day != "2024-01-01"),
        s"$day: its file was ${if (day == "2024-01-01") "kept" else "rewritten"}")
    upsert(update) // re-applied: idempotent
    val result = spark.read.parquet(path)
    assert(result.count() == 5)
    assert(result.groupBy("day", "id").count().filter("count > 1").isEmpty)
    assert(result.filter("id = 2").head.getAs[Double]("price") == 21.0,
      "id=2 should take the newer version")
    assert(result.filter("id = 9").count() == 1)
  }

  test("upsertParquet re-applies a day update idempotently, keeping the other days' files") {
    val path = tempPath("by_day_idem")
    def rows(rs: (String, Long, Long, Double)*): Frame =
      rs.toDF("day", "id", "v", "price").withColumn("day", to_date(col("day")))
    def upsert(b: Frame): Unit = Sinks.upsertParquet(b, path, Seq("day", "id"), "v")
    Seq(rows(("2024-01-01", 1L, 1L, 10.0)), rows(("2024-01-02", 2L, 1L, 20.0))).foreach(upsert)
    val day2 = spark.read.parquet(path).filter("id = 2").select(col("_metadata.file_name"))
      .collect().map(_.getString(0)).toSet
    val update = rows(("2024-01-01", 1L, 1L, 10.0))
    upsert(update)
    val once = rowsOf(spark.read.parquet(path))
    val before = partFiles(path)
    upsert(update)
    assert(rowsOf(spark.read.parquet(path)) == once, "the re-apply changed the table")
    assert(once.size == 2, s"one row per key: $once")
    assert(day2.nonEmpty && day2.forall(f => partFiles(path).get(f) == before.get(f)),
      "the re-apply rewrote a file of the other day")
  }

  test("upsertParquet compacts a table fragmented into tiny files, keeping its large file") {
    val path = tempPath("fragmented")
    // a table written without the sink: one large file, 300 one-row files
    idRows((10000L to 12000L).map(k => (k, 1L, k.toDouble)): _*)
      .coalesce(1).write.parquet(path)
    val large = fileSizes(path)
    idRows((1L to 300L).map(k => (k, 1L, k.toDouble)): _*)
      .coalesce(1).write.mode("append").option("maxRecordsPerFile", 1L).parquet(path)
    val before = fileSizes(path)
    assert(large.size == 1 && before.size == 301, s"${before.size} files")
    val batch = idRows((20000L to 20002L).map(k => (k, 1L, k.toDouble)): _*)
    val prior = rowsOf(spark.read.parquet(path))
    upsertById(batch, path)
    val after = fileSizes(path)
    assert(after.size <= 256 && after.size < before.size, s"${after.size} files")
    assert(large.forall { case (f, size) => after.get(f).contains(size) },
      "the large file was rewritten")
    val (kept, compacted) = before.partition { case (f, size) => after.get(f).contains(size) }
    assert(compacted.nonEmpty && compacted.values.max <= kept.values.min,
      "a larger file was compacted while a smaller one was kept")
    assertTable(path, (prior ++ rowsOf(batch)).sorted, "after compaction")
  }

  private class Stopped extends RuntimeException

  /** The part-file names the table's latest version lists. */
  private def listed(path: String): Set[String] =
    Sinks.readTable(spark, path).inputFiles.map(f => f.substring(f.lastIndexOf('/') + 1)).toSet

  test("upsertParquet recovers from a stop after each commit step") {
    val appended = idRows(b2: _*)
    val merged = idRows((2L, 2L, 21.0), (7L, 1L, 70.0))
    for ((batch, kind) <- Seq(appended -> "append", merged -> "merge");
         step <- Seq("staged", "committed", "revealed", "dropped")) {
      val clue = s"$kind, stopped after $step"
      val path = tempPath(s"stop_${kind}_$step")
      upsertById(idRows(b1: _*), path)
      val before = rowsOf(Sinks.readTable(spark, path))
      val after = mergedOnce(idRows(b1: _*), batch)
      Sinks.stopAt = s => if (s == step) throw new Stopped
      try intercept[Stopped](upsertById(batch, path)) finally Sinks.stopAt = _ => ()
      assert(rowsOf(Sinks.readTable(spark, path)) == (if (step == "staged") before else after),
        s"$clue: readTable is not the last committed version")
      upsertById(batch, path)
      assertTable(path, after, clue)
      assert(rowsOf(Sinks.readTable(spark, path)) == after, clue)
      assert(!new java.io.File(s"$path/_graft_stage").exists(), s"$clue: staged files remain")
      assert(partFiles(path).keySet == listed(path), s"$clue: an unlisted part file remains")
    }
  }

  test("streamUpsertExactlyOnce skips a replayed batch and re-applies after a checkpoint reset") {
    val input = java.nio.file.Files.createTempDirectory("replay_in")
    val batches = Seq(idRows(b1: _*), idRows(b2: _*))
    batches.zipWithIndex.foreach { case (b, i) =>
      val dir = input.resolve(s"b$i").toString
      b.coalesce(1).write.parquet(dir)
      val dst = input.resolve(f"part$i%02d.parquet")
      java.nio.file.Files.move(java.nio.file.Paths.get(dir, partFiles(dir).keys.head), dst)
      assert(dst.toFile.setLastModified(1700000000000L + i * 60000L))
    }
    val out = java.nio.file.Files.createTempDirectory("replay_out").toString
    def run(): Unit = {
      val q = Sinks.streamUpsertExactlyOnce(spark.readStream.schema(batches.head.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$input/*.parquet"),
        s"$out/table", s"$out/ckpt", Seq("id"), "v")
      try q.processAllAvailable() finally q.stop()
    }
    val expected = mergedOnce(batches.head, batches(1))
    run()
    val files = partFiles(s"$out/table")
    assertTable(s"$out/table", expected, "first run")
    // the commit of batch 1 is lost: the restarted query replays it
    Seq("1", ".1.crc").foreach(f => new java.io.File(s"$out/ckpt/commits/$f").delete())
    run()
    assert(partFiles(s"$out/table") == files, "the replayed batch touched the table")
    // a reset checkpoint numbers its batches from 0 again
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$out/ckpt"))
    run()
    assert(partFiles(s"$out/table") != files, "the reset checkpoint's batches were skipped")
    assertTable(s"$out/table", expected, "after the reset")
  }

  test("commitOnce re-runs the MERGE when the ledger is lost between two applications") {
    val dir = java.nio.file.Files.createTempDirectory("ledger_window").toString
    val url = s"jdbc:derby:$dir/db;create=true"
    val ledger = s"$dir/ckpt/graft.commit"
    val batch = Seq((1L, 1L, 10.0, "a"), (2L, 1L, 20.0, "b")).toDF("id", "v", "price", "tag")
    def applyOnce(): Boolean = Sinks.commitOnce(spark, ledger, 3L) {
      Sinks.upsertJdbc(batch, url, "win", Seq("id"), "v")
    }
    assert(applyOnce())
    val before = rowsOf(readJdbc(url, "win"))
    assert(!applyOnce(), "a recorded batch must be skipped")
    // on file: the ledger's overwriting rename deletes the old ledger first
    Seq("graft.commit", ".graft.commit.crc").foreach(f => new java.io.File(s"$dir/ckpt/$f").delete())
    assert(applyOnce(), "with no ledger the batch must be applied again")
    assert(rowsOf(readJdbc(url, "win")) == before, "the second MERGE changed the target")
    assert(readJdbc(url, "win").groupBy("id").count().filter("count > 1").isEmpty)
  }

  // --------------------------------------- upsertJdbc on a pre-existing target

  private def keyIndexes(url: String, table: String): Seq[Set[String]] = {
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val rs = conn.getMetaData.getIndexInfo(null, null, table, false, false)
      Iterator.continually(rs).takeWhile(_.next())
        .map(r => r.getString("INDEX_NAME") -> r.getString("COLUMN_NAME")).toSeq
        .groupBy(_._1).values.map(_.map(_._2).toSet).toSeq
    } finally conn.close()
  }

  private def ddl(url: String, sql: String*): Unit = {
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try sql.foreach(st.executeUpdate) finally st.close()
    } finally conn.close()
  }

  test("upsertJdbc adds the key index to a target pre-created without one") {
    val db = java.nio.file.Files.createTempDirectory("derby_pre").toString + "/db"
    val url = s"jdbc:derby:$db;create=true"
    ddl(url, """CREATE TABLE pre ("id" BIGINT, "kind" VARCHAR(16), "v" BIGINT, "price" DOUBLE)""",
      """INSERT INTO pre VALUES (1, 'x', 1, 10.0)""")
    assert(!keyIndexes(url, "PRE").contains(Set("id", "kind")))
    val batch = Seq((1L, "x", 2L, 11.0), (2L, "y", 1L, 20.0)).toDF("id", "kind", "v", "price")
    Sinks.upsertJdbc(batch, url, "pre", Seq("id", "kind"), "v")
    assert(keyIndexes(url, "PRE").contains(Set("id", "kind")), "no key index was added")
    Sinks.upsertJdbc(batch, url, "pre", Seq("id", "kind"), "v")
    assert(rowsOf(readJdbc(url, "pre")) == Seq("[1,x,2,11.0]", "[2,y,1,20.0]"))
  }

  test("upsertJdbc drops its staging table when the staging write fails") {
    val db = java.nio.file.Files.createTempDirectory("derby_stg").toString + "/db"
    val url = s"jdbc:derby:$db;create=true"
    // one char past Derby's VARCHAR(32672): Spark creates the staging
    // table, then its insert fails
    val batch = Seq((1L, 1L, "x" * 32673)).toDF("id", "v", "tag")
    intercept[Exception](Sinks.upsertJdbc(batch, url, "wide", Seq("id"), "v"))
    val conn = java.sql.DriverManager.getConnection(url)
    val staged = try {
      val rs = conn.createStatement().executeQuery(
        """SELECT TABLENAME FROM SYS.SYSTABLES WHERE TABLENAME LIKE 'WIDE\_STG\_%' ESCAPE '\'""")
      Iterator.continually(rs).takeWhile(_.next()).map(_.getString(1)).toList
    } finally conn.close()
    assert(staged.isEmpty, s"staging tables left behind: $staged")
  }

  test("upsertJdbc fails on a pre-existing target that holds duplicate keys") {
    val db = java.nio.file.Files.createTempDirectory("derby_dup").toString + "/db"
    val url = s"jdbc:derby:$db;create=true"
    ddl(url, """CREATE TABLE dup ("id" BIGINT, "v" BIGINT, "price" DOUBLE)""",
      """INSERT INTO dup VALUES (1, 1, 10.0)""", """INSERT INTO dup VALUES (1, 2, 12.0)""")
    val e = intercept[java.sql.SQLException](
      Sinks.upsertJdbc(idRows((2L, 1L, 20.0)), url, "dup", Seq("id"), "v"))
    assert(e.getSQLState == "23505", e.getMessage)
    assert(readJdbc(url, "dup").count() == 2, "a failed upsert must not write")
  }
}
