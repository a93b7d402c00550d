package graft.sources

import graft.lwes.{JournalWriter, LwesEvent}
import graft.sources.lwes.ColumnShape
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class LwesSourceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(): String = Files.createTempDirectory("lwes-src").toString

  private def writeMixedJournal(dir: String, n: Int, parts: Int = 3): Unit =
    (0 until parts).foreach { p =>
      val w = JournalWriter.create(s"$dir/part-$p.gz")
      (p until n by parts).foreach { i =>
        val name = if (i % 3 == 0) "Ad::Click" else "Ad::View"
        w.write(LwesEvent(name)
          .setInt64("id", i.toLong)
          .setString("page", s"/p/${i % 10}")
          .setInt32("score", i)
          .setBool("bot", i % 7 == 0)
          .setString("cost", (i * 0.25).toString)
          .setInt64(LwesEvent.ReceiptTime, 1700000000000L + i)
          .setIpAddr(LwesEvent.SenderIp, Array(10, 0, 0, (i % 200).toByte))
          .setUInt16(LwesEvent.SenderPort, 9000)
          .setUInt16(LwesEvent.SiteId, i % 5))
      }
      w.close()
    }

  test("dynamic partition pruning reaches the journal scan (A17 DPP)") {
    import spark.implicits._
    val dir = tmp()
    // fact: 5 event_type= partitions; dim: a filtered parquet table so
    // the only partition predicate lives on the DIM side of the join
    (0 until 500).map(i => (i.toLong, Seq("alpha", "beta", "gamma", "delta",
        "omega")(i % 5), i * 0.5))
      .toDF("id", "etype", "v").coalesce(1)
      .write.format("lwes").option("eventName", "Dp::E")
      .option("partitionBy", "etype").mode("append").save(dir)
    val dimPq = tmp() + "/dim.parquet"
    // the dim must look worth pruning on to Spark's DPP benefit
    // heuristic: a real table with a genuinely selective predicate
    (0 until 100).map(i => (i.toLong, Seq("alpha", "beta", "gamma", "delta",
        "omega")(i % 5)))
      .toDF("dim_id", "etype").write.parquet(dimPq)
    val fact = spark.read.format("lwes")
      .schema("id long, etype string, v double")
      .option("eventName", "Dp::E").load(dir)
    val dim = spark.read.parquet(dimPq)
      .filter(col("etype").isin("alpha", "omega"))
      .select(col("etype")).distinct()
    val joined = fact.join(broadcast(dim), Seq("etype"))
      .groupBy(col("etype")).agg(count(lit(1)).as("n"))
      .orderBy("etype")
    val rows = joined.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows == Seq(("alpha", 100L), ("omega", 100L)))
    val pruned = graft.sources.lwes.LwesScan
      .scansIn(joined.queryExecution.executedPlan)
      .map(_.partitionPrunedFileCount)
    // 3 of 5 partition files must be runtime-pruned (no static
    // partition predicate exists in the query, so the count is
    // attributable to the DPP filter alone)
    assert(pruned.exists(_ == 3L), s"filesPruned by DPP: $pruned")
  }

  test("small files bin-pack into shared tasks; large corpora don't explode task count") {
    val dir = tmp()
    val nFiles = 40
    (0 until nFiles).foreach { f =>
      val w = JournalWriter.create(s"$dir/tiny-$f.gz")
      (0 until 10).foreach(i => w.write(
        LwesEvent("B::E").setInt64("id", (f * 10 + i).toLong)))
      w.close()
    }
    val restore = Seq("spark.sql.files.maxPartitionBytes",
      "spark.sql.files.openCostInBytes")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      // openCost tiny + small maxPartitionBytes -> packing kicks in
      spark.conf.set("spark.sql.files.openCostInBytes", "16")
      spark.conf.set("spark.sql.files.maxPartitionBytes", "4096")
      val df = spark.read.format("lwes").schema("id long").load(dir)
      val parts = df.rdd.getNumPartitions
      assert(parts < nFiles && parts >= 1,
        s"$nFiles tiny files should share tasks, got $parts partitions")
      assert(df.collect().map(_.getLong(0)).sorted.toSeq ==
        (0 until nFiles * 10).map(_.toLong), "packing must not lose or dup rows")
      // default confs: the bytes-per-core floor packs toward
      // defaultParallelism bins — cores stay busy, task count bounded
      spark.conf.set("spark.sql.files.openCostInBytes", String.valueOf(4L << 20))
      spark.conf.set("spark.sql.files.maxPartitionBytes", String.valueOf(128L << 20))
      val dfDefault = spark.read.format("lwes").schema("id long").load(dir)
      val dp = spark.sparkContext.defaultParallelism
      val partsDefault = dfDefault.rdd.getNumPartitions
      assert(partsDefault >= dp && partsDefault < nFiles,
        s"default policy: ~parallelism($dp) bins, got $partsDefault")
      assert(dfDefault.count() == nFiles * 10)
      // a corpus with fewer files than cores keeps one file per task
      val smallDir = tmp()
      (0 until 3).foreach { f =>
        val w = JournalWriter.create(s"$smallDir/s-$f.gz")
        w.write(LwesEvent("B::E").setInt64("id", f.toLong)); w.close()
      }
      val dfSmall = spark.read.format("lwes").schema("id long").load(smallDir)
      assert(dfSmall.rdd.getNumPartitions == 3)
    } finally restore.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("array-typed attributes: write parity, read, inference, columnar (modern lwes tokens)") {
    import spark.implicits._
    val dir = tmp()
    // 5000 rows: the vectorized read crosses the 4096-row batch
    // boundary, exercising vector reset() with array child vectors
    (0 until 5000).map { i =>
      (i.toLong, Seq(i, i + 1), Seq(s"t$i", "x"), Seq(i * 0.5, i * 1.5),
        Array[Byte](i.toByte, (i + 1).toByte, 7))
    }.toDF("id", "nums", "tags", "vals", "blob").coalesce(1)
      .write.format("lwes").option("eventName", "Arr::E").mode("append").save(dir)
    // read with explicit array schema
    val back = spark.read.format("lwes")
      .schema("id long, nums array<int>, tags array<string>, vals array<double>, blob binary")
      .option("eventName", "Arr::E").load(dir)
      .orderBy("id").collect()
    assert(back.length == 5000)
    val r5 = back(5)
    assert(r5.getLong(0) == 5L)
    assert(r5.getSeq[Int](1) == Seq(5, 6))
    assert(r5.getSeq[String](2) == Seq("t5", "x"))
    assert(r5.getSeq[Double](3) == Seq(2.5, 7.5))
    assert(r5.getAs[Array[Byte]](4).toSeq == Seq[Byte](5, 6, 7))
    // schema inference discovers the array element types (A9 extended)
    val inferred = spark.read.format("lwes")
      .option("eventName", "Arr::E").load(dir).schema
    assert(inferred("nums").dataType == ArrayType(IntegerType, containsNull = false))
    assert(inferred("tags").dataType == ArrayType(StringType, containsNull = false))
    assert(inferred("vals").dataType == ArrayType(DoubleType, containsNull = false))
    assert(inferred("blob").dataType == BinaryType) // byte[] ≙ binary
    // a scalar-only projection of the SAME journal takes the vectorized
    // path (schema has no arrays) and must length-skip the array attrs
    val scalarDf = spark.read.format("lwes").schema("id long")
      .option("eventName", "Arr::E").load(dir)
    val scan = scalarDf.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s
    }.head
    assert(scan.supportsColumnar, "scalar projection must stay columnar")
    assert(scalarDf.agg(sum("id")).collect().head.getLong(0) == (0 until 5000).map(_.toLong).sum)
    // array-projecting scans are vectorized too (r15: elements append
    // to the child vector, explicit per-row offsets) and must be
    // BIT-IDENTICAL to the reference decode across every array column;
    // `tag_bytes` reads the string[] attribute as array<binary> (UTF-8
    // bytes per element)
    val arrDf = spark.read.format("lwes")
      .schema("id long, nums array<int>, tags array<string>, vals array<double>, " +
        "blob binary, tag_bytes array<binary>")
      .option("mapping", "tag_bytes:tags")
      .option("eventName", "Arr::E").load(dir)
    val arrScan = arrDf.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s
    }.head
    assert(arrScan.supportsColumnar, "array schemas take the vectorized path (r15)")
    val colRows = arrDf.orderBy("id").collect()
    assert(colRows.length == 5000)
    assert(colRows(5).getSeq[Array[Byte]](5).map(_.toSeq) ==
      Seq("t5".getBytes("UTF-8").toSeq, "x".getBytes("UTF-8").toSeq))
    def canon(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getSeq[Int](1), r.getSeq[String](2),
        r.getSeq[Double](3), r.getAs[Array[Byte]](4).toSeq,
        r.getSeq[Array[Byte]](5).map(_.toSeq))
    assert(colRows.map(canon).toSeq ==
      ColumnShape.referenceRows(arrDf).map(canon).sortBy(_._1),
      "columnar array read must equal the reference decode bit-for-bit")
    // decimal-element arrays are vectorized too since r16 (appended
    // with putDecimal's own width split)
    val decDf = spark.read.format("lwes")
      .schema("id long, nums array<decimal(20,0)>")
      .option("eventName", "Arr::E").load(dir)
    val decScan = decDf.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s
    }.head
    assert(decScan.supportsColumnar, "decimal-element arrays are vectorized (r16)")
    assert(decDf.orderBy("id").collect()
      .sameElements(ColumnShape.referenceRows(decDf).sortBy(_.getLong(0))),
      "columnar decimal-array read must equal the reference decode bit-for-bit")
  }

  test("bool array elements read into float/double columns: vectorized = row path (NULL)") {
    import spark.implicits._
    val dir = tmp()
    // classic bool arrays AND nullable bool arrays (holes) on the wire
    (0 until 200).map { i =>
      (i.toLong, Seq(i % 2 == 0, i % 3 == 0),
        Seq(Some(i % 2 == 0), if (i % 5 == 0) None else Some(true)))
    }.toDF("id", "flags", "nflags").coalesce(1)
      .write.format("lwes").option("eventName", "BoolArr::E")
      .mode("append").save(dir)
    // scalar Bool -> double is NULL (toCatalyst's asDouble has no
    // Boolean case; the columnar ColWriter mirrors it); the ARRAY element
    // conversion must agree with the reference decode too
    def canon(rows: Seq[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getLong(0),
        Option(r.getSeq[Any](1)).map(_.toList),
        Option(r.getSeq[Any](2)).map(_.toList)))
      .sortBy(_._1)
    val df = spark.read.format("lwes")
      .schema("id long, flags array<double>, nflags array<float>")
      .option("eventName", "BoolArr::E").load(dir)
    val col = canon(df.collect().toSeq)
    assert(col == canon(ColumnShape.referenceRows(df)),
      "bool-array -> float/double column must be identical in the " +
        "vectorized and reference decodes")
    // and the agreed-on semantics is NULL elements, like the scalar read
    assert(col.head._2.get.forall(_ == null))
    assert(col.head._3.get.forall(_ == null))
    // bool -> integral element reads keep the asLong 1/0 semantics in
    // both decodes (regression guard for the fix's scope)
    def ints(rows: Seq[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getLong(0), r.getSeq[Any](1).toList)).sortBy(_._1)
    val intDf = spark.read.format("lwes")
      .schema("id long, flags array<int>")
      .option("eventName", "BoolArr::E").load(dir)
    val ci = ints(intDf.collect().toSeq)
    assert(ci == ints(ColumnShape.referenceRows(intDf)))
    assert(ci.head._2 == List(1, 0) || ci.head._2 == List(1, 1))
  }

  test("array columns over element types no wire array fills are refused by name") {
    val dir = tmp()
    val w = JournalWriter.create(s"$dir/a.gz")
    w.write(LwesEvent("Arr::N").setInt64("id", 1L).setInt32Array("nums", Array(1, 2)))
    w.close()
    for (dt <- Seq("array<array<int>>", "array<map<string,int>>",
        "array<struct<a:int>>", "array<tinyint>")) {
      val df = spark.read.format("lwes").schema(s"id long, nums $dt").load(dir)
      val e = intercept[org.apache.spark.sql.AnalysisException](df.collect())
      assert(e.getMessage.contains("nums") &&
        e.getMessage.contains(DataType.fromDDL(dt).sql), e.getMessage)
      // a scan that does not project the column is unaffected
      assert(df.select("id").collect().map(_.getLong(0)).toSeq == Seq(1L))
    }
  }

  test("write via DataFrame then read back round-trips (A3, A10)") {
    import spark.implicits._
    val dir = tmp()
    val df = (0 until 100).map(i => (i.toLong, s"u$i", i * 1.5, i % 2 == 0))
      .toDF("id", "user", "amount", "flag")
    df.write.format("lwes").option("eventName", "Tx::Done").mode("append").save(dir)

    val back = spark.read.format("lwes")
      .schema("id long, user string, amount double, flag boolean").load(dir)
    assert(back.count() == 100)
    assert(back.agg(sum("id")).head.getLong(0) == (0 until 100).map(_.toLong).sum)
    // float/double ride as strings on the wire and parse back (A7)
    assert(back.agg(round(sum("amount"), 2)).head.getDouble(0) == 7425.0)
    assert(back.filter($"flag").count() == 50)
  }

  test("schema inference discovers attrs and header columns (A9)") {
    val dir = tmp()
    writeMixedJournal(dir, 300)
    val df = spark.read.format("lwes").load(dir)
    val names = df.schema.fieldNames.toSet
    assert(Set("id", "page", "score", "bot", "cost",
      "ReceiptTime", "SenderIP", "SenderPort", "SiteID").subsetOf(names))
    assert(df.schema("id").dataType == LongType)
    assert(df.schema("bot").dataType == BooleanType)
    assert(df.schema("SenderIP").dataType == StringType)
    assert(df.count() == 300)
  }

  test("eventName option filters to one type (A4)") {
    val dir = tmp()
    writeMixedJournal(dir, 300)
    val clicks = spark.read.format("lwes").option("eventName", "Ad::Click").load(dir)
    assert(clicks.count() == 100)
    // ids of clicks are multiples of 3
    assert(clicks.agg(max(expr("id % 3"))).head.get(0) == 0L)
  }

  test("mapping renames columns (A5) and header cols are queryable (A8)") {
    val dir = tmp()
    writeMixedJournal(dir, 100)
    val df = spark.read.format("lwes")
      .option("eventName", "Ad::View")
      .option("mapping", "event_id:id, site_id:SiteID, sender_ip:SenderIP")
      .load(dir)
    assert(df.schema.fieldNames.toSeq == Seq("event_id", "site_id", "sender_ip"))
    assert(df.schema("site_id").dataType == IntegerType)
    val r = df.agg(countDistinct("site_id"), min("sender_ip")).head
    assert(r.getLong(0) == 5)
    assert(r.getString(1) == "10.0.0.1")
  }

  test("multi-event mapping via Event::Name::Field (A6)") {
    val dir = tmp()
    writeMixedJournal(dir, 300)
    val df = spark.read.format("lwes")
      .option("mapping",
        "click_id:Ad::Click::id, view_page:Ad::View::page")
      .load(dir)
    // every matching event contributes a row; columns null for other types
    assert(df.count() == 300)
    assert(df.filter(col("click_id").isNotNull).count() == 100)
    assert(df.filter(col("view_page").isNotNull).count() == 200)
  }

  test("float/double conversion from string attrs (A7)") {
    val dir = tmp()
    writeMixedJournal(dir, 100)
    val df = spark.read.format("lwes")
      .schema("id long, cost double").option("eventName", "Ad::View").load(dir)
    val r = df.filter(col("id") === 10).head
    assert(r.getDouble(1) == 2.5)
  }

  test("column pruning reaches the scan (A11)") {
    val dir = tmp()
    writeMixedJournal(dir, 50)
    val df = spark.read.format("lwes").load(dir).select("id")
    val scans = df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s
    }
    assert(scans.nonEmpty)
    assert(scans.head.output.map(_.name) == Seq("id"))
    assert(df.agg(sum("id")).head.getLong(0) == (0 until 50).map(_.toLong).sum)
  }

  test("pushed attribute predicates short-circuit the parse, results identical") {
    val dir = tmp()
    writeMixedJournal(dir, 900)
    def read() = spark.read.format("lwes")
      .schema("id long, page string, score int, bot boolean, cost double, " +
        "ReceiptTime long").load(dir)
    // the filters land in the scan's pushed set
    val q = read()
      .filter(col("score") > 800 && col("page") === "/p/3" && col("cost") < 224.0)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThan(score,800)") &&
      plan.contains("EqualTo(page,/p/3)"),
      s"attr predicates missing from pushed filters:\n$plan")
    val a = q.orderBy("id").collect()
    // the rejection is visible in the scan metric too — the filter
    // work happened in the parser, not in Spark's residual
    val rq = q.agg(count(lit(1)))
    rq.collect()
    val nf = graft.sources.lwes.LwesScan
      .scanMetricSum(rq.queryExecution.executedPlan, "rowsFiltered")
    assert(nf > 0, s"rowsFiltered = $nf, expected > 0")
    assert(a.map(_.getLong(0)).toSeq ==
      (801 until 900).filter(i => i % 10 == 3 && i * 0.25 < 224.0).map(_.toLong))
    // header-injected column predicates only fire AFTER the header
    // overwrite (payload carries no ReceiptTime attr here, the header
    // does): equality on ReceiptTime must still match
    val hdr = read().filter(col("ReceiptTime") === 1700000000123L)
    assert(hdr.collect().map(_.getLong(0)).toSeq == Seq(123L))
    // missing-attr null semantics: a filter on a sometimes-absent attr
    // drops rows without it
    val dir2 = tmp()
    val w = JournalWriter.create(s"$dir2/m.gz")
    (0 until 50).foreach { i =>
      val ev = LwesEvent("Ad::Click").setInt64("id", i.toLong)
      if (i % 5 == 0) ev.setInt32("opt", i)
      w.write(ev)
    }
    w.close()
    val got2 = spark.read.format("lwes").schema("id long, opt int")
      .load(dir2).filter(col("opt") >= 20).orderBy("id").collect()
    assert(got2.map(_.getLong(0)).toSeq == Seq(20L, 25L, 30L, 35L, 40L, 45L))
  }

  test("pushed string ranges, LIKE-prefix, and IN short-circuit the parse (r16)") {
    val dir = tmp()
    writeMixedJournal(dir, 900)
    def read() = spark.read.format("lwes")
      .schema("id long, page string, score int, cost double").load(dir)
    def flt(df: org.apache.spark.sql.DataFrame) = df.filter(
      col("page").startsWith("/p/") &&
        col("page") >= "/p/3" && col("page") <= "/p/7" &&
        col("page").isin("/p/4", "/p/6", "/p/9") &&
        col("score").isin(84, 126, 446, 555))
    // the new shapes land in the scan's pushed set
    val plan = flt(read()).queryExecution.executedPlan.toString
    assert(plan.contains("StringStartsWith(page,/p/)") &&
      plan.contains("In(page") && plan.contains("In(score") &&
      plan.contains("GreaterThanOrEqual(page,/p/3)"),
      s"string/In predicates missing from pushed filters:\n$plan")
    val a = flt(read()).orderBy("id").collect()
    assert(a.map(_.getLong(0)).toSeq == Seq(84L, 126L, 446L))
    // and the rejection happened IN the parser
    val q = flt(read()).agg(count(lit(1)))
    q.collect()
    val nf = graft.sources.lwes.LwesScan
      .scanMetricSum(q.queryExecution.executedPlan, "rowsFiltered")
    assert(nf > 0, s"rowsFiltered = $nf, expected > 0")
  }

  test("pushed LIKE '%x%' / LIKE '%x' short-circuit the parse (r18)") {
    val dir = tmp()
    writeMixedJournal(dir, 900)
    def read() = spark.read.format("lwes")
      .schema("id long, page string, score int, cost double").load(dir)
    def flt(df: org.apache.spark.sql.DataFrame) = df.filter(
      col("page").contains("p/4") && col("page").endsWith("/4"))
    val plan = flt(read()).queryExecution.executedPlan.toString
    assert(plan.contains("StringContains(page,p/4)") &&
      plan.contains("StringEndsWith(page,/4)"),
      s"contains/endsWith missing from pushed filters:\n$plan")
    val a = flt(read()).orderBy("id").collect()
    // pages are /p/0../p/9 — only /p/4 survives both probes
    assert(a.nonEmpty && a.map(_.getLong(0)).forall(_ % 10 == 4))
    assert(a.length == 90, s"expected 90 /p/4 rows, got ${a.length}")
    val q = flt(read()).agg(count(lit(1)))
    q.collect()
    val nf = graft.sources.lwes.LwesScan
      .scanMetricSum(q.queryExecution.executedPlan, "rowsFiltered")
    assert(nf > 0, s"rowsFiltered = $nf, expected > 0")
  }

  test("partitioned dt= layout yields partition column (A14)") {
    val dir = tmp()
    writeMixedJournal(s"$dir/dt=2026-01-01", 60)
    writeMixedJournal(s"$dir/dt=2026-01-02", 60)
    val df = spark.read.format("lwes").load(dir)
    assert(df.schema.fieldNames.contains("dt"))
    assert(df.count() == 120)
    assert(df.filter(col("dt") === "2026-01-02").count() == 60)
    val byDt = df.groupBy("dt").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byDt == Map("2026-01-01" -> 60L, "2026-01-02" -> 60L))
  }

  test("scan reports statistics and pushes LIMIT into the parser (A17)") {
    val dir = tmp()
    writeMixedJournal(dir, 600)
    val df = spark.read.format("lwes").schema("id long, score int").load(dir)
    // statistics: logical plan sizeInBytes must come from file lengths,
    // not the conservative defaultSizeInBytes
    val stats = df.queryExecution.optimizedPlan.stats
    val onDisk = new java.io.File(dir).listFiles.map(_.length).sum
    assert(stats.sizeInBytes == BigInt(onDisk) * 4, s"$stats vs $onDisk")
    // limit: reads stop early per partition; result still correct
    assert(df.limit(7).count() == 7)
    assert(df.limit(10000).count() == 600)
  }

  test("runtime filtering prunes partition files after planning (DPP for journals)") {
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val dir = tmp()
    writeMixedJournal(s"$dir/dt=2026-01-01", 30)
    writeMixedJournal(s"$dir/dt=2026-01-02", 30)
    writeMixedJournal(s"$dir/dt=2026-01-03", 30)
    // unit level: build the scan, hand it a runtime filter, re-plan.
    // The session must exist before driving the scan API directly
    // (inferSchema resolves the active session), and pruning is
    // asserted on FILE counts — partitions are bin-packed, so their
    // count is a packing decision, not the pruning contract.
    spark.sparkContext
    def filesIn(parts: Array[org.apache.spark.sql.connector.read.InputPartition]): Int =
      parts.map {
        case _: graft.sources.lwes.LwesInputPartition => 1
        case m: graft.sources.lwes.LwesFilesPartition => m.files.length
      }.sum
    val opts = new CaseInsensitiveStringMap(Map("path" -> dir).asJava)
    val schema = graft.sources.lwes.LwesDataSource.inferSchema(opts)
    val scan = new graft.sources.lwes.LwesScanBuilder(schema, opts).build()
      .asInstanceOf[graft.sources.lwes.LwesScan]
    val before = filesIn(scan.planInputPartitions())
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.EqualTo("dt", "2026-01-02")))
    val after = filesIn(scan.planInputPartitions())
    assert(before == 3 * after && after > 0, s"$before -> $after")
    // end-to-end: the scan declares dt as runtime-filterable, so a join
    // against a filtered dim still returns correct results
    val dim = Seq("2026-01-02").toDF("d")
    val joined = spark.read.format("lwes").load(dir)
      .join(dim, col("dt") === col("d"))
    assert(joined.count() == 30)
  }

  test("loading explicit FILE paths derives no partition columns at all") {
    val dir = tmp()
    writeMixedJournal(s"$dir/dt=2026-01-01", 30)
    val files = new java.io.File(s"$dir/dt=2026-01-01").listFiles
      .filterNot(_.getName.startsWith(".")).map(_.getAbsolutePath)
    val df = spark.read.format("lwes").load(files: _*)
    assert(!df.schema.fieldNames.contains("dt"), df.schema.treeString)
    assert(df.count() == 30)
  }

  test("k=v segments ABOVE the load root are not partition columns (A14)") {
    val dir = tmp()
    // root itself lives under a k=v-looking directory; only dt= (below
    // the root) is a real partition column
    writeMixedJournal(s"$dir/run=3/journals/dt=2026-01-01", 30)
    val df = spark.read.format("lwes").load(s"$dir/run=3/journals")
    assert(df.schema.fieldNames.contains("dt"))
    assert(!df.schema.fieldNames.contains("run"))
    assert(df.filter(col("dt") === "2026-01-01").count() == 30)
  }

  test("eventNameColumn writes heterogeneous journals, read back per type (A6 write parity)") {
    import spark.implicits._
    val dir = tmp()
    Seq((1L, "Ev::click", 1.5), (2L, "Ev::view", 2.5), (3L, "Ev::click", 3.5))
      .toDF("id", "etype", "value")
      .write.format("lwes").option("eventNameColumn", "etype")
      .mode("append").save(dir)
    val clicks = spark.read.format("lwes").schema("id long, value double")
      .option("eventName", "Ev::click").load(dir)
    assert(clicks.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
    // the name column itself is not an attribute on the wire
    val all = spark.read.format("lwes").load(dir)
    assert(!all.schema.fieldNames.contains("etype"))
    // multi-event mapping sees both types in one frame
    val multi = spark.read.format("lwes")
      .schema("click_v double, view_v double")
      .option("mapping", "click_v:Ev::click::value, view_v:Ev::view::value")
      .load(dir)
    assert(multi.agg(sum("click_v"), sum("view_v")).head match {
      case r => r.getDouble(0) == 5.0 && r.getDouble(1) == 2.5
    })
  }

  test("read-side eventNameColumn exposes each event's wire type") {
    val dir = tmp()
    writeMixedJournal(dir, 90) // Ad::Click / Ad::View mix
    val df = spark.read.format("lwes")
      .option("eventNameColumn", "etype").load(dir)
    assert(df.schema.fieldNames.contains("etype"))
    val byType = df.groupBy("etype").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType == Map("Ad::Click" -> 30L, "Ad::View" -> 60L))
    // explicit schema works too, and the column survives projection
    val df2 = spark.read.format("lwes").schema("id long, etype string")
      .option("eventNameColumn", "etype").load(dir)
    assert(df2.filter(col("etype") === "Ad::Click").count() == 30)
  }

  test("write-side codecs: deflate and bz2 journals round-trip (A10)") {
    import spark.implicits._
    for (comp <- Seq("deflate", "bz2")) {
      val dir = tmp()
      (1L to 300L).map(i => (i, s"v$i")).toDF("id", "v")
        .write.format("lwes").option("eventName", "C::E")
        .option("compression", comp).mode("append").save(dir)
      val files = new java.io.File(dir).listFiles.map(_.getName).filterNot(_.startsWith("."))
      val wantExt = if (comp == "bz2") ".bz2" else ".deflate"
      assert(files.nonEmpty && files.forall(_.endsWith(wantExt)), files.mkString(","))
      val back = spark.read.format("lwes").schema("id long, v string").load(dir)
      assert(back.count() == 300)
      assert(back.agg(sum("id")).head.getLong(0) == (1L to 300L).sum)
    }
  }

  test("overwrite mode truncates previous journal files (A10)") {
    import spark.implicits._
    val dir = tmp()
    val df1 = (0 until 10).map(i => (i.toLong, s"a$i")).toDF("id", "v")
    df1.write.format("lwes").option("eventName", "E").mode("append").save(dir)
    val df2 = (0 until 5).map(i => (i.toLong, s"b$i")).toDF("id", "v")
    df2.write.format("lwes").option("eventName", "E").mode("overwrite").save(dir)
    val back = spark.read.format("lwes").schema("id long, v string").load(dir)
    assert(back.count() == 5)
    assert(back.agg(min("v")).head.getString(0) == "b0")
  }

  test("uint64 >= 2^63: long wraps (reference parity), decimal(20,0) opt-in is unsigned-exact (A7)") {
    val dir = tmp()
    val big = java.lang.Long.parseUnsignedLong("18446744073709551615") // 2^64-1 == -1L
    val w = JournalWriter.create(s"$dir/u64.gz")
    w.write(LwesEvent("U::E").setInt64("id", 1L).setUInt64("ctr", big))
    w.write(LwesEvent("U::E").setInt64("id", 2L).setUInt64("ctr",
      java.lang.Long.parseUnsignedLong("9223372036854775808"))) // 2^63
    w.write(LwesEvent("U::E").setInt64("id", 3L).setUInt64("ctr", 42L))
    w.close()
    // default: raw bits into LongType — wraps negative, like the
    // reference's getInt64 (EventSerDe.java:258-268)
    val asLong = spark.read.format("lwes").load(dir)
    assert(asLong.schema("ctr").dataType == LongType)
    assert(asLong.orderBy("id").select("ctr").collect().map(_.getLong(0)).toSeq
      == Seq(-1L, Long.MinValue, 42L))
    // opt-in: inference yields decimal(20,0), values unsigned-exact
    val asDec = spark.read.format("lwes").option("uint64As", "decimal").load(dir)
    assert(asDec.schema("ctr").dataType == DecimalType(20, 0))
    assert(asDec.orderBy("id").select("ctr").collect()
      .map(_.getDecimal(0).toBigInteger.toString).toSeq
      == Seq("18446744073709551615", "9223372036854775808", "42"))
    // explicit decimal schema works without the option, and the write
    // path round-trips decimals back to uint64 raw bits
    val dir2 = tmp()
    asDec.write.format("lwes").option("eventName", "U::E").mode("append").save(dir2)
    val back = spark.read.format("lwes")
      .schema("id long, ctr decimal(20,0)").load(dir2)
    assert(back.orderBy("id").select("ctr").collect()
      .map(_.getDecimal(0).toBigInteger.toString).toSeq
      == Seq("18446744073709551615", "9223372036854775808", "42"))
    // out-of-uint64-range decimals fail NAMED, never wrap (r16):
    // decimal(20,0) holds 10^20-1 but the wire tops out at 2^64-1
    import spark.implicits._
    val dir3 = tmp()
    val over = spark.sql(
      "SELECT 1L AS id, CAST('20000000000000000000' AS DECIMAL(20,0)) AS ctr")
    val e = intercept[Exception] {
      over.write.format("lwes").option("eventName", "U::E")
        .mode("append").save(dir3)
    }
    def root(t: Throwable): String = {
      var x: Throwable = t; val sb = new StringBuilder
      while (x != null) { sb.append(Option(x.getMessage).getOrElse("")); x = x.getCause }
      sb.toString
    }
    assert(root(e).contains("out of uint64 range"))
  }
}
