package graft.sources

import graft.lwes.{JournalWriter, LwesEvent}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** A13 streaming journal source + B17 watermarked windowed aggregation. */
class LwesStreamingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def writeFile(dir: String, name: String, from: Int, until: Int): Unit = {
    val w = JournalWriter.create(s"$dir/$name")
    (from until until).foreach { i =>
      w.write(LwesEvent("S::E")
        .setInt64("id", i.toLong)
        .setInt32("amount", i * 2)
        .setInt64(LwesEvent.ReceiptTime, 1700000000000L + i * 60000L))
    }
    w.close()
  }

  test("micro-batch stream picks up newly arrived journal files (A13)") {
    val dir = Files.createTempDirectory("lwes-stream").toString
    writeFile(dir, "a.gz", 0, 100)
    val stream = spark.readStream.format("lwes")
      .schema("id long, amount int").load(dir)
    val q = stream.writeStream.format("memory")
      .queryName("lwes_sink").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("lwes_sink").count() == 100)
      writeFile(dir, "b.gz", 100, 150)
      q.processAllAvailable()
      assert(spark.table("lwes_sink").count() == 150)
      assert(spark.table("lwes_sink").agg(sum("id")).head.getLong(0)
        == (0 until 150).map(_.toLong).sum)
    } finally q.stop()
  }

  test("watermarked tumbling-window aggregation over the stream (B17)") {
    val dir = Files.createTempDirectory("lwes-stream-w").toString
    writeFile(dir, "a.gz", 0, 120) // 1 event/minute -> 2 hours
    val stream = spark.readStream.format("lwes")
      .schema("id long, amount int, ReceiptTime long").load(dir)
      .withColumn("ts", timestamp_millis(col("ReceiptTime")))
    val agg = stream
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"), sum(col("amount")).as("total"))
    val q = agg.writeStream.format("memory")
      .queryName("lwes_win").outputMode("complete").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("lwes_win")
        .select(col("window.start").cast("long").as("start"), col("n"), col("total"))
        .orderBy("start").collect()
      assert(rows.length == 3) // 2h window span starting mid-hour -> 3 buckets
      assert(rows.map(_.getLong(1)).sum == 120)
      assert(rows.map(_.getLong(2)).sum == (0 until 120).map(_ * 2L).sum)
    } finally q.stop()
  }

  test("maxFilesPerTrigger bounds each micro-batch (admission control)") {
    val dir = Files.createTempDirectory("lwes-stream-mft").toString
    (0 until 5).foreach(i => writeFile(dir, s"f$i.gz", i * 10, (i + 1) * 10))
    val stream = spark.readStream.format("lwes")
      .schema("id long, amount int")
      .option("maxFilesPerTrigger", "2").load(dir)
    val q = stream.writeStream.format("memory")
      .queryName("lwes_mft").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("lwes_mft").count() == 50)
      // 5 files at 2 per trigger -> at least 3 batches
      assert(q.recentProgress.count(_.numInputRows > 0) >= 3)
      // ReportsSourceMetrics: mid-drain batches saw a positive backlog,
      // and the drained stream reports none left
      val backlogs = q.recentProgress.toSeq
        .map(_.sources.head.metrics.get("backlogFiles").toLong)
      assert(backlogs.exists(_ > 0), s"expected a mid-drain backlog: $backlogs")
      assert(backlogs.last == 0, s"drained stream must report 0 backlog: $backlogs")
      assert(q.lastProgress.sources.head.metrics.containsKey("backlogBytes"))
    } finally q.stop()
  }

  test("streaming admission prunes by ReceiptTime window (backfill over deep dirs)") {
    val dir = Files.createTempDirectory("lwes-stream-prune").toString
    import spark.implicits._
    val T0 = 1700000000000L
    val Hour = 3600000L
    // 6 "hourly" journals via the batch writer -> exact .t<min>-<max>. tags
    (0 until 6).foreach { h =>
      (0 until 10).map(i => (h * 100L + i, T0 + h * Hour + i * 1000L))
        .toDF("id", "ReceiptTime").coalesce(1)
        .write.format("lwes").option("eventName", "Pr::S")
        .mode("append").save(dir)
    }
    // plus an untagged legacy journal closed long before the window
    val w = JournalWriter.create(s"$dir/legacy.journal")
    (0 until 5).foreach(i => w.write(LwesEvent("Pr::S").setInt64("id", 900L + i)
      .setInt64(LwesEvent.ReceiptTime, T0 + i * 1000L)))
    w.close()
    new java.io.File(s"$dir/legacy.journal").setLastModified(T0 + 5000L)
    val ckpt = Files.createTempDirectory("lwes-stream-prune-ckpt").toString
    // backfill: only hours 4..5 wanted
    val q = spark.readStream.format("lwes")
      .schema("id long, ReceiptTime long")
      .option("eventName", "Pr::S")
      .option("receiptTimeMin", (T0 + 4 * Hour).toString)
      .option("timePruneSlackMs", "60000")
      .load(dir)
      .writeStream.format("memory").queryName("lwes_prune")
      .option("checkpointLocation", ckpt).outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try {
      q.awaitTermination(60000)
      // rows: hours 4 and 5 only (tagged prune) and no legacy rows
      // (heuristic mtime prune)
      assert(spark.table("lwes_prune").select("id").collect()
        .map(_.getLong(0)).sorted.toSeq == (400L to 409L) ++ (500L to 509L))
      // admitted-file count: the persisted batch logs list exactly the
      // 2 overlapping journals
      val logDir = {
        def find(d: java.io.File): Option[java.io.File] =
          if (d.getName == "lwes-file-batches") Some(d)
          else Option(d.listFiles()).toSeq.flatten.filter(_.isDirectory)
            .flatMap(find).headOption
        find(new java.io.File(ckpt)).get
      }
      val admitted = logDir.listFiles().filterNot(_.getName.startsWith("."))
        .flatMap(f => scala.io.Source.fromFile(f).getLines().filter(_.nonEmpty))
        .filterNot(_.startsWith("#")) // r16: per-batch window header line
      assert(admitted.length == 2, s"expected 2 admitted files: ${admitted.toSeq}")
      // source metrics surfaced the pruned count (5 of 7 listed files)
      assert(q.recentProgress.exists(p =>
        Option(p.sources.head.metrics.get("filesPruned")).exists(_.toLong == 5L)))
    } finally q.stop()
  }

  test("late file with an OLDER mtime than processed files is still read exactly once") {
    val dir = Files.createTempDirectory("lwes-stream-late").toString
    val ckpt = Files.createTempDirectory("lwes-stream-late-ckpt").toString
    val out = Files.createTempDirectory("lwes-stream-late-out").toString
    writeFile(dir, "a.gz", 0, 30)
    def start() = spark.readStream.format("lwes")
      .schema("id long, amount int").load(dir)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    def ids() = spark.read.parquet(out).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq
    val q = start()
    try {
      q.processAllAvailable()
      assert(ids() == (0L until 30L))
      // a copy that PRESERVES an old mtime (older than a.gz): with
      // count-into-sorted-listing offsets this would shift indices and
      // skip/duplicate files; path-set tracking must read it once.
      writeFile(dir, "b.gz", 30, 50)
      new java.io.File(s"$dir/b.gz").setLastModified(
        new java.io.File(s"$dir/a.gz").lastModified() - 3600000L)
      q.processAllAvailable()
      assert(ids() == (0L until 50L))
    } finally q.stop()
    // restart from checkpoint: a.gz/b.gz stay committed (not re-read),
    // the post-restart file is read exactly once
    writeFile(dir, "c.gz", 50, 60)
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(ids() == (0L until 60L))
    } finally q2.stop()
  }

  test("streaming lwes SINK: stream-in journals, stream-out journals, read back (A16)") {
    val src = Files.createTempDirectory("lwes-sink-src").toString
    val dst = Files.createTempDirectory("lwes-sink-dst").toString
    val ckpt = Files.createTempDirectory("lwes-sink-ckpt").toString
    writeFile(src, "a.gz", 0, 40)
    val q = spark.readStream.format("lwes")
      .schema("id long, amount int").load(src)
      .selectExpr("id", "amount * 10 AS amount10")
      .writeStream.format("lwes")
      .option("eventName", "Out::Ev")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start(dst)
    try {
      q.processAllAvailable()
      writeFile(src, "b.gz", 40, 60)
      q.processAllAvailable()
      val back = spark.read.format("lwes")
        .schema("id long, amount10 long")
        .option("eventName", "Out::Ev").load(dst)
      assert(back.count() == 60)
      assert(back.agg(sum("amount10")).head.getLong(0)
        == (0 until 60).map(_ * 20L).sum)
    } finally q.stop()
  }

  test("compaction merges a streamed sink's small files, preserving rows (A18)") {
    import graft.sources.lwes.Compact
    val src = Files.createTempDirectory("lwes-compact-src").toString
    val dst = Files.createTempDirectory("lwes-compact-dst").toString
    val ckpt = Files.createTempDirectory("lwes-compact-ckpt").toString
    val q = spark.readStream.format("lwes")
      .schema("id long, amount int").option("maxFilesPerTrigger", "1").load(src)
      .writeStream.format("lwes").option("eventName", "C::E")
      .option("checkpointLocation", ckpt).outputMode("append").start(dst)
    try {
      // 6 source files, 1 per trigger -> >= 6 sink journals
      (0 until 6).foreach { i => writeFile(src, s"f$i.gz", i * 10, (i + 1) * 10); q.processAllAvailable() }
    } finally q.stop()
    val (before, after) = Compact.compact(spark, dst, targetFiles = 2)
    assert(before >= 6 && after <= 2, s"$before -> $after")
    // event types survive compaction (read back via the type filter)
    val back = spark.read.format("lwes")
      .schema("id long, amount long").option("eventName", "C::E").load(dst)
    assert(back.count() == 60)
    assert(back.agg(sum("id")).head.getLong(0) == (0 until 60).map(_.toLong).sum)
  }

  test("sink auto-compaction keeps the file count bounded across epochs (A16+A18)") {
    val src = Files.createTempDirectory("lwes-autoc-src").toString
    val dst = Files.createTempDirectory("lwes-autoc-dst").toString
    val ckpt = Files.createTempDirectory("lwes-autoc-ckpt").toString
    val q = spark.readStream.format("lwes")
      .schema("id long, amount int").option("maxFilesPerTrigger", "1").load(src)
      .writeStream.format("lwes").option("eventName", "AC::E")
      .option("autoCompactTarget", "2")
      .option("autoCompactEveryEpochs", "3")
      .option("checkpointLocation", ckpt).outputMode("append").start(dst)
    try {
      // 9 source files, 1 per trigger -> 9 epochs; compaction fires on
      // every 3rd commit, so the sink never accumulates past a handful
      (0 until 9).foreach { i =>
        writeFile(src, s"f$i.gz", i * 10, (i + 1) * 10)
        q.processAllAvailable()
      }
    } finally q.stop()
    val visible = new java.io.File(dst).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
    assert(visible.length <= 4, // target 2 + epochs landed since the last firing
      s"auto-compaction left ${visible.length} files: ${visible.map(_.getName).toSeq}")
    // hash-stable reads: every row exactly once, event types preserved
    val back = spark.read.format("lwes")
      .schema("id long, amount long").option("eventName", "AC::E").load(dst)
    assert(back.count() == 90)
    assert(back.agg(sum("id")).head.getLong(0) == (0 until 90).map(_.toLong).sum)
    assert(back.agg(sum("amount")).head.getLong(0) == (0 until 90).map(_ * 2L).sum)
    // epoch manifests survive (replay protection for compacted epochs)
    assert(new java.io.File(dst).listFiles().count(_.getName.startsWith("_epoch-")) == 9)
  }

  test("malformed auto-compaction options degrade to a warning, never fail the epoch") {
    val src = Files.createTempDirectory("lwes-autocbad-src").toString
    val dst = Files.createTempDirectory("lwes-autocbad-dst").toString
    val ckpt = Files.createTempDirectory("lwes-autocbad-ckpt").toString
    val q = spark.readStream.format("lwes")
      .schema("id long, amount int").load(src)
      .writeStream.format("lwes").option("eventName", "AB::E")
      .option("autoCompactTarget", "2")
      .option("autoCompactEveryEpochs", "ten") // NumberFormatException bait
      .option("checkpointLocation", ckpt).outputMode("append").start(dst)
    try {
      writeFile(src, "f0.gz", 0, 10)
      q.processAllAvailable() // must not throw from commit()
      assert(q.isActive)
    } finally q.stop()
    val back = spark.read.format("lwes")
      .schema("id long").option("eventName", "AB::E").load(dst)
    assert(back.count() == 10)
  }

  test("compaction keeps late-appearing attributes and heterogeneous event types") {
    import graft.sources.lwes.Compact
    val dir = Files.createTempDirectory("lwes-compact-late").toString
    // 12 files; a new attribute 'extra' and a second event type appear
    // only in the LAST file — sampling-based inference would miss both
    (0 until 11).foreach { i =>
      val w = JournalWriter.create(s"$dir/f$i.gz")
      (0 until 20).foreach(j => w.write(
        LwesEvent("T::A").setInt64("id", (i * 20 + j).toLong)))
      w.close()
    }
    val w = JournalWriter.create(s"$dir/f11.gz")
    (0 until 20).foreach(j => w.write(
      LwesEvent("T::B").setInt64("id", (220 + j).toLong).setString("extra", s"x$j")))
    w.close()
    val (before, after) = Compact.compact(spark, dir, targetFiles = 1)
    assert(before == 12 && after == 1, s"$before -> $after")
    val bOnly = spark.read.format("lwes").schema("id long, extra string")
      .option("eventName", "T::B").load(dir)
    assert(bOnly.count() == 20)
    assert(bOnly.filter(col("extra").isNotNull).count() == 20)
    val all = spark.read.format("lwes").schema("id long").load(dir)
    assert(all.count() == 240)
  }

  test("second stream into the same sink directory does not collide with the first") {
    val src = Files.createTempDirectory("lwes-twoq-src").toString
    val dst = Files.createTempDirectory("lwes-twoq-dst").toString
    writeFile(src, "a.gz", 0, 30)
    def run(ckpt: String): Unit = {
      val q = spark.readStream.format("lwes")
        .schema("id long, amount int").load(src)
        .writeStream.format("lwes").option("eventName", "Q::E")
        .option("checkpointLocation", ckpt).outputMode("append").start(dst)
      try q.processAllAvailable() finally q.stop()
    }
    // two distinct queries (fresh checkpoints) write the same data:
    // with epoch-only names the second run's epoch 0 would be silently
    // dropped as an "already-committed replay"
    run(Files.createTempDirectory("lwes-twoq-c1").toString)
    run(Files.createTempDirectory("lwes-twoq-c2").toString)
    val back = spark.read.format("lwes").schema("id long")
      .option("eventName", "Q::E").load(dst)
    assert(back.count() == 60)
  }

  test("uncommitted sink epoch files are invisible until their manifest lands") {
    val dir = Files.createTempDirectory("lwes-manifest").toString
    writeFile(dir, "plain.gz", 0, 10)
    // an epoch-named file with NO _epoch manifest = a crashed mid-commit
    // attempt; readers must not observe it
    writeFile(dir, "part-qdeadbeef0123-e0-00000.gz", 100, 120)
    def read() = spark.read.format("lwes").schema("id long").load(dir)
    assert(read().count() == 10)
    // the commit marker lands -> the epoch becomes visible atomically
    Files.write(java.nio.file.Paths.get(dir, "_epoch-qdeadbeef0123-e0.manifest"),
      "part-qdeadbeef0123-e0-00000.gz\n".getBytes("UTF-8"))
    assert(read().count() == 30)
    // naming the file explicitly bypasses the gate (user override)
    writeFile(dir, "part-qdeadbeef0123-e1-00000.gz", 200, 205)
    assert(read().count() == 30)
    assert(spark.read.format("lwes").schema("id long")
      .load(s"$dir/part-qdeadbeef0123-e1-00000.gz").count() == 5)
  }

  test("v1 (unversioned) checkpoint offsets are rejected with an explicit error") {
    import graft.sources.lwes.LwesStreamOffset
    assert(LwesStreamOffset.fromJson("""{"v":2,"batches":7}""").batchCount == 7)
    assert(LwesStreamOffset(3).json() == """{"v":2,"batches":3}""")
    val ex = intercept[IllegalStateException](LwesStreamOffset.fromJson("5"))
    assert(ex.getMessage.contains("incompatible"))
  }

  test("epoch replay with a different partition layout removes the crashed attempt's files") {
    import graft.sources.lwes.{LwesCommitMessage, LwesStreamingWrite}
    import scala.jdk.CollectionConverters._
    spark.sparkContext // ensure an active session for hadoopConf()
    val dst = Files.createTempDirectory("lwes-replay").toString
    val queryId = "abcdef1234567890" // tag: qabcdef123456
    val tag = "qabcdef123456"
    // crashed attempt: promoted 2 of its files (partitions 0 and 7 of an
    // 8-partition layout), then died before writing the manifest
    writeFile(dst, s"part-$tag-e0-00000.gz", 0, 10)
    writeFile(dst, s"part-$tag-e0-00007.gz", 70, 80)
    // replay runs with TWO partitions; tasks parked pendings
    writeFile(dst, s".pending-part-$tag-e0-00000.gz", 0, 40)
    writeFile(dst, s".pending-part-$tag-e0-00001.gz", 40, 80)
    val schema = org.apache.spark.sql.types.StructType.fromDDL("id long, amount int")
    val opts = new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      Map("path" -> dst).asJava)
    val write = new LwesStreamingWrite(schema, opts, queryId)
    val msgs: Array[org.apache.spark.sql.connector.write.WriterCommitMessage] =
      Array(
        LwesCommitMessage(dst, 40,
          Seq((s"$dst/.pending-part-$tag-e0-00000.gz", s"$dst/part-$tag-e0-00000.gz"))),
        LwesCommitMessage(dst, 40,
          Seq((s"$dst/.pending-part-$tag-e0-00001.gz", s"$dst/part-$tag-e0-00001.gz"))))
    write.commit(0L, msgs)
    // stale partition 7 gone, manifest present, exactly the replay's rows
    assert(!new java.io.File(s"$dst/part-$tag-e0-00007.gz").exists())
    assert(new java.io.File(s"$dst/_epoch-$tag-e0.manifest").exists())
    val back = spark.read.format("lwes").schema("id long").load(dst)
    assert(back.count() == 80)
    assert(back.agg(sum("id")).head.getLong(0) == (0 until 80).map(_.toLong).sum)
    // a SECOND replay of the committed epoch drops its output entirely
    writeFile(dst, s".pending-part-$tag-e0-00000.gz", 0, 80)
    write.commit(0L, Array(LwesCommitMessage(dst, 80,
      Seq((s"$dst/.pending-part-$tag-e0-00000.gz", s"$dst/part-$tag-e0-00000.gz")))))
    assert(!new java.io.File(s"$dst/.pending-part-$tag-e0-00000.gz").exists())
    assert(spark.read.format("lwes").schema("id long").load(dst).count() == 80)
  }

  test("compaction skips files inside the stability horizon") {
    import graft.sources.lwes.Compact
    val dir = Files.createTempDirectory("lwes-compact-horizon").toString
    (0 until 3).foreach { i =>
      writeFile(dir, s"old$i.gz", i * 10, (i + 1) * 10)
      new java.io.File(s"$dir/old$i.gz").setLastModified(
        System.currentTimeMillis() - 3600000L)
    }
    writeFile(dir, "fresh.gz", 100, 110) // still being landed, maybe
    val (before, after) = Compact.compact(spark, dir, targetFiles = 1,
      minAgeMs = 60000L)
    assert(before == 3, s"horizon should exclude fresh.gz (got $before)")
    assert(after == 2, s"1 compacted + 1 fresh expected (got $after)")
    assert(new java.io.File(s"$dir/fresh.gz").exists())
    val back = spark.read.format("lwes").schema("id long").load(dir)
    assert(back.count() == 40)
  }

  test("corrupt journal tail ends the file, not the job") {
    val dir = Files.createTempDirectory("lwes-corrupt").toString
    writeFile(dir, "good.gz", 0, 50)
    // plain journal with a torn tail: 30 records + half a header
    writeFile(dir, "torn.journal", 100, 130)
    val f = new java.io.RandomAccessFile(s"$dir/torn.journal", "rw")
    f.seek(f.length()); f.write(Array[Byte](0, 99, 1, 2, 3)); f.close()
    val df = spark.read.format("lwes").schema("id long, amount int").load(dir)
    assert(df.count() == 80) // 50 + 30 survive, torn tail skipped
    // a micro-batch runs the same columnar decoder and counts the tear
    val q = spark.readStream.format("lwes").schema("id long, amount int")
      .load(dir).writeStream.format("memory").queryName("lwes_torn")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("lwes_torn").count() == 80)
      val plan = q.asInstanceOf[
        org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan
      assert(plan.toString.contains("ColumnarToRow"), plan.toString)
      val torn = graft.sources.lwes.LwesScan.scanMetricSum(plan, "tornFiles")
      assert(torn == 1L, s"tornFiles = $torn")
    } finally q.stop()
  }

  test("Trigger.AvailableNow drains the backlog in bounded batches and terminates") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = Files.createTempDirectory("lwes-avnow").toString
    (0 until 3).foreach(i => writeFile(dir, s"f$i.gz", i * 10, (i + 1) * 10))
    val q = spark.readStream.format("lwes")
      .schema("id long, amount int")
      .option("maxFilesPerTrigger", "1").load(dir)
      .writeStream.format("memory").queryName("lwes_avnow")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "query should self-terminate")
    assert(spark.table("lwes_avnow").count() == 30)
    // 3 files at 1/trigger -> 3 non-empty batches, then done
    assert(q.recentProgress.count(_.numInputRows > 0) == 3)
  }

  test("maxBytesPerTrigger bounds batches by size; oversized file still admitted") {
    val dir = Files.createTempDirectory("lwes-stream-mbt").toString
    (0 until 4).foreach(i => writeFile(dir, s"f$i.gz", i * 10, (i + 1) * 10))
    val oneFile = new java.io.File(s"$dir/f0.gz").length()
    val stream = spark.readStream.format("lwes")
      .schema("id long, amount int")
      .option("maxBytesPerTrigger", (oneFile + 1).toString).load(dir)
    val q = stream.writeStream.format("memory")
      .queryName("lwes_mbt").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("lwes_mbt").count() == 40)
      // cap ~1 file per batch -> at least 3 non-empty batches
      assert(q.recentProgress.count(_.numInputRows > 0) >= 3)
    } finally q.stop()
  }

  test("stream-stream interval join of two journal streams (B32)") {
    val dirA = Files.createTempDirectory("lwes-ssj-a").toString
    val dirB = Files.createTempDirectory("lwes-ssj-b").toString
    // stream A: events at t+0; stream B: matching events 30s later,
    // same id space — join B to A within [0, 2 min]
    val wA = JournalWriter.create(s"$dirA/a.gz")
    val wB = JournalWriter.create(s"$dirB/b.gz")
    (0 until 100).foreach { i =>
      val t0 = 1700000000000L + i * 60000L
      wA.write(LwesEvent("S::A").setInt64("id", i.toLong).setInt64("t", t0))
      wB.write(LwesEvent("S::B").setInt64("id", i.toLong).setInt64("t", t0 + 30000L))
    }
    wA.close(); wB.close()
    val a = spark.readStream.format("lwes").schema("id long, t long").load(dirA)
      .selectExpr("id AS a_id", "timestamp_millis(t) AS a_ts")
      .withWatermark("a_ts", "10 minutes")
    val b = spark.readStream.format("lwes").schema("id long, t long").load(dirB)
      .selectExpr("id AS b_id", "timestamp_millis(t) AS b_ts")
      .withWatermark("b_ts", "10 minutes")
    val joined = a.join(b,
      expr("a_id = b_id AND b_ts BETWEEN a_ts AND a_ts + INTERVAL 2 MINUTES"))
    val q = joined.writeStream.format("memory")
      .queryName("lwes_ssj").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("lwes_ssj").count() == 100)
      assert(spark.table("lwes_ssj")
        .selectExpr("sum(CAST(b_ts AS LONG) - CAST(a_ts AS LONG))")
        .head.getLong(0) == 100L * 30)
    } finally q.stop()
  }

  test("stateful running stats accumulate and dedup across micro-batches (B20)") {
    import graft.streaming.StreamOps
    import graft.streaming.StreamOps.EventRow
    import spark.implicits._
    val dir = Files.createTempDirectory("lwes-state").toString
    val ckpt = Files.createTempDirectory("lwes-state-ckpt").toString
    writeFile(dir, "b0.gz", 0, 40)
    val stream = spark.readStream.format("lwes")
      .schema("id long, amount int").load(dir)
      .selectExpr("id % 4 AS user_id", "id AS event_id", "CAST(amount AS DOUBLE) AS value")
      .as[EventRow]
    val stats = StreamOps.runningUserStats(spark, stream)
    val q = stats.writeStream.format("memory").queryName("lwes_state")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      q.processAllAvailable()
      // batch 2 overlaps [20, 40) -> duplicates must be dropped by state
      writeFile(dir, "b1.gz", 20, 60)
      q.processAllAvailable()
      val last = spark.table("lwes_state")
        .groupBy("user_id").agg(max("n_events").as("n"), max("total_value").as("v"))
        .orderBy("user_id").collect()
      assert(last.map(_.getLong(1)).toSeq == Seq(15L, 15L, 15L, 15L)) // 60 events over 4 users
      assert(last.map(_.getDouble(2)).sum == (0 until 60).map(_ * 2.0).sum)
    } finally q.stop()
  }

  test("dedupFirstSeen drops re-arrivals across micro-batches, first wins (C32)") {
    import graft.streaming.StreamOps
    import graft.streaming.StreamOps.DocRow
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val ckpt = Files.createTempDirectory("lwes-sdedup-ckpt").toString
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[DocRow]
    val out = StreamOps.dedupFirstSeen(spark, mem.toDS())
    val q = out.writeStream.format("memory").queryName("sdedup")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      // batch 1: keys a,b (b twice in-batch -> smaller id wins)
      mem.addData(DocRow(1, "a", "en", 10), DocRow(5, "b", "de", 20),
        DocRow(3, "b", "de", 20))
      q.processAllAvailable()
      // batch 2: a re-arrives (dropped in-state), c is new
      mem.addData(DocRow(9, "a", "en", 10), DocRow(7, "c", "fr", 30))
      q.processAllAvailable()
      // batch 3: everything a duplicate -> no output at all
      mem.addData(DocRow(11, "a", "en", 10), DocRow(12, "c", "fr", 30))
      q.processAllAvailable()
      val got = spark.table("sdedup").orderBy("doc_id")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(got == Seq((1L, "a"), (3L, "b"), (7L, "c")))
    } finally q.stop()
  }

  test("dedupFirstSeenTtl expires idle keys and renews leases on re-arrival (C32)") {
    import graft.streaming.StreamOps
    import graft.streaming.StreamOps.DocRow
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val ckpt = Files.createTempDirectory("lwes-sdedupttl-ckpt").toString
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[DocRow]
    // TTL long enough that in-lease duplicates cannot race expiry,
    // NOTE: a registered ProcessingTimeTimeout keeps scheduling no-data
    // batches, so the stream is never "idle" — poll the sink with a
    // deadline instead of processAllAvailable (which can block forever)
    val out = StreamOps.dedupFirstSeenTtl(spark, mem.toDS(), ttlMs = 3000L)
    val q = out.writeStream.format("memory").queryName("sdedup_ttl")
      .trigger(org.apache.spark.sql.streaming.Trigger
        .ProcessingTime("100 milliseconds"))
      .option("checkpointLocation", ckpt).outputMode("append").start()
    def awaitIds(expect: Seq[Long]): Seq[Long] = {
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      var got = Seq.empty[Long]
      while (got != expect && System.nanoTime() < deadline) {
        Thread.sleep(100)
        got = spark.table("sdedup_ttl").orderBy("doc_id")
          .collect().map(_.getLong(0)).toSeq
      }
      got
    }
    try {
      mem.addData(DocRow(1, "a", "en", 10))
      assert(awaitIds(Seq(1L)) == Seq(1L))
      // inside the lease: duplicate dropped (give it time to process)
      mem.addData(DocRow(2, "a", "en", 10))
      Thread.sleep(800)
      assert(awaitIds(Seq(1L)) == Seq(1L))
      Thread.sleep(6000) // let the 3s processing-time lease lapse
      // after expiry the key re-emits; unrelated key flows normally
      mem.addData(DocRow(7, "zzz", "de", 5))
      assert(awaitIds(Seq(1L, 7L)) == Seq(1L, 7L))
      mem.addData(DocRow(3, "a", "en", 10))
      val got = awaitIds(Seq(1L, 3L, 7L))
      assert(got == Seq(1L, 3L, 7L), s"got $got")
    } finally q.stop()
  }

  // local replay of the operator's signature: portable 48-bit simhash
  private def simSigs(texts: Seq[String]): Map[String, Long] = {
    import graft.operators.Dedup
    import spark.implicits._
    texts.distinct.toDF("text")
      .withColumn("sh", Dedup.simhashPortable(col("text")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  private def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  private def bands48(s: Long): Set[(Int, Long)] =
    (0 until 4).map(i => (i, (s >>> (12 * i)) & 0xfffL)).toSet

  private def runNearDup(docs: Seq[(Seq[graft.streaming.StreamOps.NearDocRow])],
      ckptName: String): Seq[Long] = {
    import graft.streaming.StreamOps
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val ckpt = Files.createTempDirectory(ckptName).toString
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[StreamOps.NearDocRow]
    val survivors = new scala.collection.mutable.ArrayBuffer[Long]()
    val q = StreamOps.nearDupBandVerdicts(spark, mem.toDS())
      .writeStream
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[StreamOps.BandVerdict], _: Long) =>
          val kept = StreamOps.keepUncollided(b.toDF())
            .select("doc_id").collect().map(_.getLong(0))
          survivors.synchronized { survivors ++= kept }
          ()
      }
      .option("checkpointLocation", ckpt).start()
    try {
      docs.foreach { batch =>
        mem.addData(batch: _*)
        q.processAllAvailable()
      }
      survivors.synchronized(survivors.sorted.toSeq)
    } finally q.stop()
  }

  test("streaming near-dup: hamming-verified drops chain through dropped docs; band reuse alone never drops (C32 ext)") {
    import graft.streaming.StreamOps.NearDocRow
    // find (t1, t2, t3): 0 < hamming(t1,t2) <= 3, hamming(t2,t3) <= 3,
    // hamming(t1,t3) > 3 — dropping t3 then proves the verified chain
    // runs through the DROPPED t2. Then v (an unrelated in-batch exact
    // pair, hamming > 3 from the trio) and u: shares a band with an
    // earlier-fed doc but hamming > 3 from ALL of them — u MUST
    // survive (the any-band-ever-seen definition this replaced dropped
    // it: its band space saturates). Deterministic search over suffix
    // variants of a base text.
    val base = "the quick brown fox jumps over the lazy dog and runs away home"
    val cands = (0 until 200).map(i => s"$base tail$i word$i")
    val sigs = simSigs(cands)
    val triple = (for {
      t1 <- cands.iterator
      t2 <- cands.iterator
      if t2 != t1 && sigs(t1) != sigs(t2) && hamming(sigs(t1), sigs(t2)) <= 3
      t3 <- cands.iterator
      if t3 != t1 && t3 != t2 && hamming(sigs(t2), sigs(t3)) <= 3 &&
        hamming(sigs(t1), sigs(t3)) > 3
    } yield (t1, t2, t3)).take(1).toList
    assert(triple.nonEmpty, "no chain triple found in 200 variants")
    val (t1, t2, t3) = triple.head
    val trio = Seq(t1, t2, t3)
    val v = cands.find { c =>
      !trio.contains(c) && trio.forall(t => hamming(sigs(t), sigs(c)) > 3)
    }
    assert(v.nonEmpty, "no unrelated text found in 200 variants")
    val fedBeforeU = trio :+ v.get
    val u = cands.find { c =>
      !fedBeforeU.contains(c) &&
        fedBeforeU.forall(t => hamming(sigs(t), sigs(c)) > 3) &&
        fedBeforeU.exists(t => (bands48(sigs(t)) & bands48(sigs(c))).nonEmpty)
    }
    assert(u.nonEmpty, "no band-reuse survivor found in 200 variants")

    val got = runNearDup(Seq(
      // batch 1: t1 (new) + an in-batch exact pair (min id 3 wins)
      Seq(NearDocRow(1, t1, "en", 10), NearDocRow(5, v.get, "en", 9),
        NearDocRow(3, v.get, "en", 9)),
      // batch 2: t2 within hamming 3 of t1 -> dropped
      Seq(NearDocRow(7, t2, "en", 11)),
      // batch 3: t3 within hamming 3 only of the DROPPED t2 -> dropped
      // (dropped docs record their signatures); u shares a band with
      // earlier docs but verifies far -> SURVIVES; exact re-arrival of
      // t1 -> dropped
      Seq(NearDocRow(9, t3, "en", 12), NearDocRow(11, u.get, "en", 10),
        NearDocRow(13, t1, "en", 10))),
      "lwes-sneardup-ckpt")
    assert(got == Seq(1L, 3L, 11L), s"got $got expect Seq(1, 3, 11)")
  }

  test("streaming near-dup saturation: >4096 distinct signatures, unique docs survive (C32 ext)") {
    import graft.streaming.StreamOps.NearDocRow
    // The replaced any-band-ever-seen definition hard-caps survivors at
    // 16384/4 = 4096 (each survivor consumes 4 unseen (band,value)
    // slots) and on this corpus kept only ~98 of 5000. The verified
    // operator must keep every doc with no earlier doc within hamming
    // <= 3 — computed here by exact sequential replay — and that count
    // exceeds the old cap, proving band-space saturation no longer
    // drops unique docs.
    val n = 5000
    val texts = (0 until n).map(i =>
      s"saturation doc $i payload p$i q${i * 7 + 1} r${i * 13 + 2} s${i * 29 + 3}")
    val sigMap = simSigs(texts)
    val sigs = texts.map(sigMap)
    val expected = (0 until n).filter { i =>
      (0 until i).forall(j => hamming(sigs(i), sigs(j)) > 3)
    }.map(_.toLong)
    assert(expected.length > 4096,
      s"corpus not saturation-proving: ${expected.length} expected survivors")

    val rows = (0 until n).map(i => NearDocRow(i.toLong, texts(i), "en", 10))
    val batches = rows.grouped((n + 2) / 3).toSeq // 3 doc_id-monotone batches
    val got = runNearDup(batches, "lwes-sneardup-sat-ckpt")
    assert(got.length == expected.length,
      s"got ${got.length} survivors, expected ${expected.length}")
    assert(got == expected, "survivor sets differ")
  }

  test("streaming near-dup TTL: lease expiry re-admits a signature (C32 ext)") {
    import graft.streaming.StreamOps
    import graft.streaming.StreamOps.NearDocRow
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val ckpt = Files.createTempDirectory("lwes-sneardupttl-ckpt").toString
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[NearDocRow]
    val survivors = new scala.collection.mutable.ArrayBuffer[Long]()
    val q = StreamOps.nearDupBandVerdicts(spark, mem.toDS(), ttlMs = Some(3000L))
      .writeStream
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[StreamOps.BandVerdict], _: Long) =>
          val kept = StreamOps.keepUncollided(b.toDF())
            .select("doc_id").collect().map(_.getLong(0))
          survivors.synchronized { survivors ++= kept }
          ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger
        .ProcessingTime("100 milliseconds"))
      .option("checkpointLocation", ckpt).start()
    def await(expect: Seq[Long]): Seq[Long] = {
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      var got = Seq.empty[Long]
      while (got != expect && System.nanoTime() < deadline) {
        Thread.sleep(100)
        got = survivors.synchronized(survivors.sorted.toSeq)
      }
      got
    }
    val txt = "completely original text about columnar execution engines today"
    try {
      mem.addData(NearDocRow(1, txt, "en", 10))
      assert(await(Seq(1L)) == Seq(1L))
      // inside the lease: exact near-dup dropped
      mem.addData(NearDocRow(2, txt, "en", 10))
      Thread.sleep(800)
      assert(await(Seq(1L)) == Seq(1L))
      Thread.sleep(6000) // let the 3s lease lapse on all 4 band keys
      mem.addData(NearDocRow(3, txt, "en", 10))
      val got = await(Seq(1L, 3L))
      assert(got == Seq(1L, 3L), s"got $got")
    } finally q.stop()
  }

  test("streaming keep-best-at-ingest: family argmax by quality within a wave, first-wave-wins across waves (C34 on C32 ext)") {
    import graft.streaming.StreamOps
    import graft.streaming.StreamOps.QNearDocRow
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    // a verified near pair (hamming <= 3) and an unrelated text
    val base = "the quick brown fox jumps over the lazy dog and runs away home"
    val cands = (0 until 200).map(i => s"$base tail$i word$i")
    val sigs = simSigs(cands)
    val pair = (for {
      t1 <- cands.iterator; t2 <- cands.iterator
      if t2 != t1 && sigs(t1) != sigs(t2) && hamming(sigs(t1), sigs(t2)) <= 3
    } yield (t1, t2)).take(1).toList
    assert(pair.nonEmpty, "no near pair found in 200 variants")
    val (t1, t2) = pair.head
    val v = cands.find(c => c != t1 && c != t2 &&
      hamming(sigs(c), sigs(t1)) > 3 && hamming(sigs(c), sigs(t2)) > 3)
    assert(v.nonEmpty, "no unrelated text found")
    val w = cands.find(c => c != t1 && c != t2 && c != v.get &&
      Seq(t1, t2, v.get).forall(t => hamming(sigs(c), sigs(t)) > 3))
    assert(w.nonEmpty, "no second unrelated text found")

    val ckpt = Files.createTempDirectory("lwes-skeepbest-ckpt").toString
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[QNearDocRow]
    val survivors = new scala.collection.mutable.ArrayBuffer[Long]()
    val q = StreamOps.nearDupKeepBestVerdicts(spark, mem.toDS())
      .writeStream
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[StreamOps.BandVerdict], _: Long) =>
          val kept = StreamOps.keepUncollided(b.toDF())
            .select("doc_id").collect().map(_.getLong(0))
          survivors.synchronized { survivors ++= kept }
          ()
      }
      .option("checkpointLocation", ckpt).start()
    try {
      // wave 1: the family {1 (q=1), 2 (q=9)} must keep doc 2 — the
      // quality argmax, NOT the first arrival; the unrelated doc 3 and
      // the exact-dup quality tie {5, 4} (smallest id wins) ride along
      mem.addData(
        QNearDocRow(1, t1, "en", 10, 1.0),
        QNearDocRow(2, t2, "en", 11, 9.0),
        QNearDocRow(3, v.get, "en", 9, 5.0),
        QNearDocRow(5, w.get, "en", 9, 4.0),
        QNearDocRow(4, w.get, "en", 9, 4.0))
      q.processAllAvailable()
      assert(survivors.synchronized(survivors.sorted.toSeq) == Seq(2L, 3L, 4L),
        s"wave-1 survivors ${survivors.sorted}")
      // wave 2: a BETTER copy of the old family arrives late — append
      // streams cannot retract doc 2, so doc 6 is dropped like any dup
      mem.addData(QNearDocRow(6, t1, "en", 10, 99.0))
      q.processAllAvailable()
      assert(survivors.synchronized(survivors.sorted.toSeq) == Seq(2L, 3L, 4L),
        s"wave-2 survivors ${survivors.sorted}")
    } finally q.stop()
  }

  test("streaming decontamination at ingest: exact verdicts, bloom implication, stateless (C13/C29 on streams)") {
    import graft.streaming.StreamOps
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val probeTxt = "alpha beta gamma delta epsilon zeta eta theta"
    val probes = Seq((100L, probeTxt)).toDF("probe_id", "text")
    val ckpt = Files.createTempDirectory("lwes-sdecon-ckpt").toString
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String, String, Long)]
    val out = new scala.collection.mutable.ArrayBuffer[StreamOps.DecontamDoc]()
    val q = StreamOps.decontaminateStream(spark,
        mem.toDS().toDF("doc_id", "text", "lang", "n_chars"), probes)
      .writeStream
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[StreamOps.DecontamDoc], _: Long) =>
          val rows = b.collect()
          out.synchronized { out ++= rows }
          ()
      }
      .option("checkpointLocation", ckpt).start()
    try {
      mem.addData(
        // full probe text embedded -> containment 1.0 -> contaminated
        (1L, s"prefix words $probeTxt suffix words", "en", 10L),
        // half the probe's shingles (6 of 6-shingle probe? craft: first
        // 5 tokens give 3 shingles of the probe's 6) -> containment 0.5
        (2L, "alpha beta gamma delta epsilon", "en", 10L),
        // unrelated -> clean, and the bloom should usually say no
        (3L, "totally unrelated content about spark physical plans", "en", 10L))
      q.processAllAvailable()
      val byId = out.synchronized(out.map(d => d.doc_id -> d).toMap)
      assert(byId(1L).contaminated, s"doc 1 must be contaminated: $byId")
      assert(byId(1L).bloom_hit, "contaminated implies bloom_hit")
      // probe has 8 tokens -> 6 shingles; doc 2 has 5 tokens -> 3 probe
      // shingles shared -> containment 3/6 = 0.5 >= 0.5 -> contaminated
      assert(byId(2L).contaminated, s"doc 2 at exactly threshold: $byId")
      assert(!byId(3L).contaminated, s"doc 3 clean: $byId")
      assert(out.synchronized(out.forall(d => !d.contaminated || d.bloom_hit)),
        "bloom false negatives are impossible")
      // stateless: re-feeding the clean doc keeps yielding clean (no
      // dedup state interference between decontam batches)
      mem.addData((4L, "totally unrelated content about spark physical plans", "en", 10L))
      q.processAllAvailable()
      assert(!out.synchronized(out.map(d => d.doc_id -> d).toMap)(4L).contaminated)
    } finally q.stop()
  }

  test("drainSessions: out-of-order buffering, sentinel drop, timeout flush (B20)") {
    import graft.streaming.StreamOps
    import graft.streaming.StreamOps.SessionEvent
    // Spark 4.1 moved MemoryStream under execution.streaming.runtime
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val ckpt = Files.createTempDirectory("lwes-sess-ckpt").toString
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = 1700000000000000L // µs
    def ev(uid: Long, eid: Long, tsUs: Long) =
      SessionEvent(uid, eid, tsUs, new java.sql.Timestamp(tsUs / 1000))
    val mem = MemoryStream[SessionEvent]
    val in = mem.toDS()
      .withWatermark("ts", "10 minutes")
    // user 1: two sessions (40-min gap); user 2: one session, delivered
    // OUT OF ORDER across batches — state buffering must reassemble it
    val gapUs = 1800000000L // 30 min
    val out = StreamOps.drainSessions(spark, in, gapUs,
      flushAtMs = base / 1000 + 3600000L) // flush point: base + 1h
    val q = out.writeStream.format("memory").queryName("drain_sessions")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      mem.addData(
        ev(1L, 10L, base), ev(1L, 11L, base + 60000000L), // s1: 0, +1min
        ev(2L, 20L, base + 120000000L)) //                    u2 later event
      q.processAllAvailable()
      mem.addData(
        ev(1L, 12L, base + 3600000000L), // s2: +60min (40-min gap after s1)
        ev(2L, 21L, base + 60000000L), //  u2 EARLIER event, late delivery
        ev(3L, -5L, base)) //              sentinel-marked: dropped in-state
      q.processAllAvailable()
      // nothing flushed yet: watermark is far below the flush point
      assert(spark.table("drain_sessions").isEmpty)
      // sentinel 1 advances the watermark past flushAt at END of batch;
      // sentinel 2's batch then fires the timeouts
      mem.addData(ev(0L, -1L, base + 9000000000000L))
      q.processAllAvailable()
      mem.addData(ev(0L, -1L, base + 9100000000000L))
      q.processAllAvailable()
      val r = spark.table("drain_sessions").orderBy("user_id").collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
      // user 3 had only a sentinel-marked row -> empty state -> no row
      assert(r.toSeq == Seq((1L, 2L, 3L), (2L, 1L, 2L)))
    } finally q.stop()
  }
}
