package graft.sources

import graft.lwes.{Esf, LwesType}
import graft.sources.lwes.EsfValidationException
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** ESF event-template support: the public Event Specification Format
  * grammar parses (comments, qualifiers, defaults, arrays, meta
  * merging), `.option("esf", path)` derives the READ schema with no
  * sampling pass, and the WRITE path rejects template violations with
  * named [[EsfValidationException]]s instead of generic cast errors.
  */
class EsfSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val template =
    """# a comment
      |MetaEventInfo
      |{
      |  uint64 ReceiptTime;
      |  ip_addr SenderIP;
      |  uint16 SenderPort;
      |  uint16 SiteID;
      |}
      |
      |User::Login   # trailing comment
      |{
      |  required string username;
      |  int64 ts = 0;
      |  uint16 attempts;
      |  float score;
      |  double balance;
      |  int32 codes[8];
      |  nullable string tags[4];
      |}
      |
      |User::Logout
      |{
      |  required string username;
      |  int64 duration;
      |}
      |""".stripMargin

  private def esfFile(): String = {
    val dir = Files.createTempDirectory("esf").toString
    Files.writeString(Paths.get(dir, "t.esf"), template)
    s"$dir/t.esf"
  }

  test("grammar: events, qualifiers, defaults, arrays, meta merging") {
    val db = Esf.parse(template)
    assert(db.eventNames == Seq("User::Login", "User::Logout"))
    val login = db.attrMapFor("User::Login").get
    assert(login("username").required)
    assert(login("ts").default.contains("0"))
    assert(login("attempts").token == LwesType.UInt16)
    assert(login("score").token == LwesType.Float)
    assert(login("codes").token == LwesType.Int32Array)
    assert(login("codes").arrayLen.contains(8))
    // nullable qualifier honored (r17): the declared token IS the
    // N_*_ARRAY wire token, not a silently-dropped annotation
    assert(login("tags").nullable && login("tags").token == LwesType.NStrArray)
    // meta attrs merged after the event's own, in declaration order
    assert(db.attrsFor("User::Logout").get.map(_.name) ==
      Seq("username", "duration", "ReceiptTime", "SenderIP", "SenderPort", "SiteID"))
  }

  test("grammar: parse errors are named with line numbers") {
    val e1 = intercept[IllegalArgumentException](
      Esf.parse("Ev {\n  int95 x;\n}"))
    assert(e1.getMessage.contains("unknown esf type 'int95'"))
    val e2 = intercept[IllegalArgumentException](
      Esf.parse("Ev {\n  int32 x\n}"))
    assert(e2.getMessage.contains("expected ';'") &&
      e2.getMessage.contains("line 3"))
  }

  test("esf-driven read schema matches the template, no sampling pass") {
    val dir = Files.createTempDirectory("esf-read").toString // EMPTY dir
    val df = spark.read.format("lwes")
      .option("eventName", "User::Login")
      .option("esf", esfFile()).load(dir)
    val s = df.schema
    assert(s.fieldNames.take(7).toSeq ==
      Seq("username", "ts", "attempts", "score", "balance", "codes", "tags"))
    assert(s("username").dataType == StringType)
    assert(s("attempts").dataType == IntegerType)
    assert(s("score").dataType == FloatType)
    assert(s("balance").dataType == DoubleType)
    assert(s("codes").dataType == ArrayType(IntegerType, containsNull = false))
    // meta-merged header columns present too
    assert(s.fieldNames.contains("ReceiptTime") && s.fieldNames.contains("SenderIP"))
    assert(df.count() == 0) // empty dir reads as an empty table
  }

  test("template-typed write round-trips with native float/double tokens") {
    import spark.implicits._
    val dir = Files.createTempDirectory("esf-rt").toString
    Seq(("ann", 3L, 2, 1.5f, 2.25, Seq(1, 2)),
        ("bob", 4L, 7, -0.5f, 9.75, Seq(3)))
      .toDF("username", "ts", "attempts", "score", "balance", "codes")
      .write.format("lwes").option("eventName", "User::Login")
      .option("esf", esfFile()).mode("append").save(dir)
    val back = spark.read.format("lwes")
      .option("eventName", "User::Login").option("esf", esfFile()).load(dir)
      .select("username", "attempts", "score", "balance", "codes")
      .orderBy("username").collect()
    assert(back.map(_.getString(0)).toSeq == Seq("ann", "bob"))
    assert(back(0).getInt(1) == 2 && back(1).getInt(1) == 7)
    assert(back(0).getFloat(2) == 1.5f) // native float token, not a string
    assert(back(0).getDouble(3) == 2.25)
    assert(back(0).getSeq[Int](4) == Seq(1, 2))
  }

  test("write: out-of-template attribute fails with a named error") {
    import spark.implicits._
    val dir = Files.createTempDirectory("esf-bad").toString
    val e = intercept[Exception] {
      Seq(("ann", 1L)).toDF("username", "not_in_template")
        .write.format("lwes").option("eventName", "User::Login")
        .option("esf", esfFile()).mode("append").save(dir)
    }
    val msg = rootMessage(e)
    assert(msg.contains("esf validation") && msg.contains("not_in_template"))
  }

  test("write: incompatible column type fails with a named error") {
    import spark.implicits._
    val dir = Files.createTempDirectory("esf-bad2").toString
    val e = intercept[Exception] {
      Seq(("ann", "not-a-long")).toDF("username", "ts")
        .write.format("lwes").option("eventName", "User::Login")
        .option("esf", esfFile()).mode("append").save(dir)
    }
    val msg = rootMessage(e)
    assert(msg.contains("esf validation") && msg.contains("'ts'") &&
      msg.contains("int64"))
  }

  test("write: undeclared event name fails with a named error") {
    import spark.implicits._
    val dir = Files.createTempDirectory("esf-bad3").toString
    val e = intercept[Exception] {
      Seq(("ann", 1L)).toDF("username", "ts")
        .write.format("lwes").option("eventName", "User::Unknown")
        .option("esf", esfFile()).mode("append").save(dir)
    }
    val msg = rootMessage(e)
    assert(msg.contains("esf validation") && msg.contains("User::Unknown"))
  }

  test("write: NULL required attribute fails with a named error") {
    val dir = Files.createTempDirectory("esf-bad4").toString
    val df = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(null: String, 1L)),
      StructType(Seq(StructField("username", StringType, nullable = true),
        StructField("ts", LongType, nullable = false))))
    val e = intercept[Exception] {
      df.write.format("lwes").option("eventName", "User::Login")
        .option("esf", esfFile()).mode("append").save(dir)
    }
    val msg = rootMessage(e)
    assert(msg.contains("esf validation") && msg.contains("required") &&
      msg.contains("username"))
  }

  test("write: eventNameColumn rows validate per encountered event") {
    import spark.implicits._
    val dir = Files.createTempDirectory("esf-dyn").toString
    // heterogeneous journal: the DF schema is the UNION of both events'
    // columns; a NULL column is an unset attribute, so rows pass as
    // long as their NON-null values are declared for their event
    Seq(("ann", Some(1L), None: Option[Long], "User::Login"),
        ("bob", None: Option[Long], Some(2L), "User::Logout"))
      .toDF("username", "ts", "duration", "ev")
      .write.format("lwes").option("eventNameColumn", "ev")
      .option("esf", esfFile()).mode("append").save(dir)
    // ...but ts is only declared on Login, so a Logout row carrying a
    // non-null ts must fail — per-name lenient validation, still named
    val e = intercept[Exception] {
      Seq(("eve", Some(9L), None: Option[Long], "User::Logout"))
        .toDF("username", "ts", "duration", "ev")
        .write.format("lwes").option("eventNameColumn", "ev")
        .option("esf", esfFile()).mode("append").save(dir)
    }
    assert(rootMessage(e).contains("esf validation"))
  }

  test("write: an array over its declared max length fails with a named error") {
    import spark.implicits._
    val dir = Files.createTempDirectory("esf-bad5").toString
    // codes is declared int32 codes[8]
    val e = intercept[Exception] {
      Seq(("ann", (1 to 9).toList)).toDF("username", "codes")
        .write.format("lwes").option("eventName", "User::Login")
        .option("esf", esfFile()).mode("append").save(dir)
    }
    val msg = rootMessage(e)
    assert(msg.contains("esf validation") && msg.contains("9 elements") &&
      msg.contains("max 8"))
    // at the cap is fine
    Seq(("ann", (1 to 8).toList)).toDF("username", "codes")
      .write.format("lwes").option("eventName", "User::Login")
      .option("esf", esfFile()).mode("append").save(dir)
  }

  private val defaultsTemplate =
    """Deft::Ev
      |{
      |  required int64 id;
      |  string prio = "low";
      |  int64 retries = 0;
      |  double score = 1.5;
      |  boolean flagged = false;
      |  uint16 bucket = 7;
      |  int32 dims[4] = 1,2,3;
      |  string tags[4] = "a","b";
      |  ip_addr host = "10.0.0.1";
      |}
      |""".stripMargin

  private def defaultsEsfFile(): String = {
    val dir = Files.createTempDirectory("esf-dfl").toString
    Files.writeString(Paths.get(dir, "d.esf"), defaultsTemplate)
    s"$dir/d.esf"
  }

  test("defaults: missing attributes materialize declared defaults on read, both paths") {
    import spark.implicits._
    val dir = Files.createTempDirectory("esf-dfl-read").toString
    // written WITHOUT the template: null prio/bucket → attr unset on
    // the wire; retries/score/flagged/dims/tags/host have no column
    Seq((1L, Some("high"), Some(2)), (2L, None, Some(5)), (3L, Some("mid"), None))
      .toDF("id", "prio", "bucket")
      .write.format("lwes").option("eventName", "Deft::Ev")
      .mode("append").save(dir)
    val rows = spark.read.format("lwes")
      .option("eventName", "Deft::Ev")
      .option("esf", defaultsEsfFile()).load(dir)
      .select("id", "prio", "retries", "score", "flagged", "bucket",
        "dims", "tags", "host")
      .orderBy("id").collect()
    assert(rows.map(_.getString(1)).toSeq == Seq("high", "low", "mid"))
    assert(rows.map(_.getLong(2)).toSeq == Seq(0L, 0L, 0L))
    assert(rows.map(_.getDouble(3)).toSeq == Seq(1.5, 1.5, 1.5))
    assert(rows.map(_.getBoolean(4)).toSeq == Seq(false, false, false))
    assert(rows.map(_.getInt(5)).toSeq == Seq(2, 5, 7)) // present values win
    assert(rows.map(_.getSeq[Int](6)).toSeq ==
      Seq(Seq(1, 2, 3), Seq(1, 2, 3), Seq(1, 2, 3)))
    assert(rows.map(_.getSeq[String](7)).toSeq ==
      Seq(Seq("a", "b"), Seq("a", "b"), Seq("a", "b")))
    assert(rows.map(_.getString(8)).toSeq ==
      Seq("10.0.0.1", "10.0.0.1", "10.0.0.1"))
  }

  test("defaults: the write path encodes declared defaults for unset attributes") {
    val dir = Files.createTempDirectory("esf-dfl-write").toString
    // one row with prio NULL (unset column), no other default-bearing
    // columns at all — the template supplies every value on the WIRE
    val df = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(7L, null: String)),
      StructType(Seq(StructField("id", LongType, nullable = false),
        StructField("prio", StringType, nullable = true))))
    df.write.format("lwes").option("eventName", "Deft::Ev")
      .option("esf", defaultsEsfFile()).mode("append").save(dir)
    // read back WITHOUT the template: the defaults must be real wire
    // attributes, not a read-side fill
    val r = spark.read.format("lwes").option("eventName", "Deft::Ev")
      .load(dir)
      .select("id", "prio", "retries", "score", "flagged", "bucket",
        "dims", "tags")
      .head()
    assert(r.getLong(0) == 7L)
    assert(r.getString(1) == "low")
    assert(r.getLong(2) == 0L)
    assert(r.getDouble(3) == 1.5)
    assert(!r.getBoolean(4))
    assert(r.getInt(5) == 7)
    assert(r.getSeq[Int](6) == Seq(1, 2, 3))
    assert(r.getSeq[String](7) == Seq("a", "b"))
  }

  test("defaults: per-EVENT defaults apply in a multi-event union read, both paths") {
    import spark.implicits._
    val dir = Files.createTempDirectory("esf-dfl-multi").toString
    val esfDir = Files.createTempDirectory("esf-dfl-multi-t").toString
    // the same attribute name carries DIFFERENT defaults per event —
    // each record must fill ITS OWN event's default, never a sibling's
    Files.writeString(Paths.get(esfDir, "m.esf"),
      """Ev::A { required int64 id; string src = "a-side"; int64 w = 10; }
        |Ev::B { required int64 id; string src = "b-side"; }
        |""".stripMargin)
    val esf = s"$esfDir/m.esf"
    Seq((1L, "Ev::A"), (2L, "Ev::B"), (3L, "Ev::A"))
      .toDF("id", "ev")
      .write.format("lwes").option("eventNameColumn", "ev")
      .mode("append").save(dir) // no template: src/w unset on the wire
    val rows = spark.read.format("lwes")
      .option("esf", esf) // union schema over both declared events
      .option("eventNameColumn", "ev")
      .load(dir)
      .select("id", "src", "w", "ev").orderBy("id").collect()
    assert(rows.map(_.getString(1)).toSeq ==
      Seq("a-side", "b-side", "a-side"))
    // w is declared (with a default) only on Ev::A: B rows stay NULL
    assert(rows.map(r => if (r.isNullAt(2)) -1L else r.getLong(2)).toSeq ==
      Seq(10L, -1L, 10L))
  }

  test("defaults: pushed predicates see the materialized default, both paths") {
    import spark.implicits._
    val dir = Files.createTempDirectory("esf-dfl-pred").toString
    // retries is NEVER on the wire (no column) — its value exists only
    // through the template default, so a pushed filter on it decides
    // row survival from the materialized default alone
    Seq(1L, 2L, 3L).toDF("id")
      .write.format("lwes").option("eventName", "Deft::Ev")
      .mode("append").save(dir)
    val esf = defaultsEsfFile()
    def read() = spark.read.format("lwes")
      .option("eventName", "Deft::Ev")
      .option("esf", esf).load(dir)
    assert(read().filter(col("retries") === 0L).count() == 3,
      "default-matching predicate kept rows")
    assert(read().filter(col("retries") === 1L).count() == 0,
      "default-missing predicate dropped rows")
    assert(read().filter(col("prio") === "low").count() == 3,
      "string default predicate")
    assert(read().filter(col("prio").startsWith("hi")).count() == 0,
      "string prefix vs default")
  }

  test("defaults: the STREAMING reader materializes declared defaults too") {
    import spark.implicits._
    val dir = Files.createTempDirectory("esf-dfl-stream").toString
    Seq((1L, Some("high")), (2L, None: Option[String]))
      .toDF("id", "prio")
      .write.format("lwes").option("eventName", "Deft::Ev")
      .mode("append").save(dir) // no template: prio unset on row 2
    val out = Files.createTempDirectory("esf-dfl-stream-out").toString
    val ckpt = Files.createTempDirectory("esf-dfl-stream-ckpt").toString
    val q = spark.readStream.format("lwes")
      .option("eventName", "Deft::Ev")
      .option("esf", defaultsEsfFile())
      .load(dir)
      .select("id", "prio", "retries", "score")
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val r = spark.read.parquet(out).orderBy("id").collect()
    assert(r.map(_.getString(1)).toSeq == Seq("high", "low")) // default fill
    assert(r.map(_.getLong(2)).toSeq == Seq(0L, 0L))
    assert(r.map(_.getDouble(3)).toSeq == Seq(1.5, 1.5))
  }

  test("defaults: literal forms — spaced arrays, quoted commas, raw-bits uint64") {
    import graft.lwes.{LwesAttr, LwesType}
    def dflt(tpl: String, attr: String): LwesAttr = {
      val db = Esf.parse(tpl)
      Esf.typedDefault(db.attrMapFor(db.eventNames.head).get(attr)).get
    }
    // a spaced array literal reads naturally (tokens run to the ';')
    assert(dflt("Ev { int64 dims[4] = 1, 2, 3; }", "dims")
      .value.asInstanceOf[Array[Long]].toSeq == Seq(1L, 2L, 3L))
    // per-element quoting: "a","b" is two elements; "a,b" is ONE
    // string containing a comma
    assert(dflt("""Ev { string t[4] = "a","b"; }""", "t")
      .value.asInstanceOf[Array[String]].toSeq == Seq("a", "b"))
    assert(dflt("""Ev { string t[4] = "a,b"; }""", "t")
      .value.asInstanceOf[Array[String]].toSeq == Seq("a,b"))
    // negative uint64 literal = raw-bits (the write path's contract)
    assert(dflt("Ev { uint64 mask = -1; }", "mask").value == -1L)
    assert(dflt("Ev { uint64 big = 18446744073709551615; }", "big").value == -1L)
    // a missing semicolon after a default must FAIL the parse — the
    // literal scan never swallows the next declaration or event block
    val e1 = intercept[IllegalArgumentException](
      Esf.parse("Ev {\n  string s = \"x\"\n  int64 b;\n}"))
    assert(e1.getMessage.contains("expected ';'"))
    val e2 = intercept[IllegalArgumentException](
      Esf.parse("Ev { string s = \"x\" }\nEv2 { required int64 id; }"))
    assert(e2.getMessage.contains("expected ';'"))
    // spaced garbage is not a literal either ('1 2' is not 12)
    val e3 = intercept[IllegalArgumentException](
      Esf.parse("Ev {\n  int64 x = 1 2;\n}"))
    assert(e3.getMessage.contains("expected ';'"))
  }

  test("defaults: a malformed default literal fails at template load, named") {
    val e1 = intercept[IllegalArgumentException](
      Esf.parse("Ev {\n  int64 x = abc;\n}"))
    assert(e1.getMessage.contains("malformed default") &&
      e1.getMessage.contains("'x'"))
    val e2 = intercept[IllegalArgumentException](
      Esf.parse("Ev {\n  uint16 y = 70000;\n}"))
    assert(e2.getMessage.contains("malformed default") &&
      e2.getMessage.contains("out of range"))
    val e3 = intercept[IllegalArgumentException](
      Esf.parse("Ev {\n  int32 z[2] = 1,2,3;\n}"))
    assert(e3.getMessage.contains("malformed default") &&
      e3.getMessage.contains("over the declared max"))
  }

  test("a template byte attr round-trips through its OWN derived schema") {
    import spark.implicits._
    val tdir = Files.createTempDirectory("esf-byte").toString
    Files.writeString(Paths.get(tdir, "b.esf"),
      "B::Ev { required int64 id; byte level; }")
    val esf = s"$tdir/b.esf"
    val dir = Files.createTempDirectory("esf-byte-w").toString
    // the derived read schema upcasts byte to ShortType (classic
    // parity) — that schema must be WRITABLE back against the template
    val schema = spark.read.format("lwes").option("eventName", "B::Ev")
      .option("esf", esf).load(dir).schema
    assert(schema("level").dataType == ShortType)
    Seq((1L, 127.toShort), (2L, (-128).toShort)).toDF("id", "level")
      .write.format("lwes").option("eventName", "B::Ev")
      .option("esf", esf).mode("append").save(dir)
    val back = spark.read.format("lwes").option("eventName", "B::Ev")
      .option("esf", esf).load(dir).orderBy("id").collect()
    assert(back.map(_.getShort(1)).toSeq == Seq(127.toShort, (-128).toShort))
    // ...and a short outside [-128, 127] fails named, never truncates
    val e = intercept[Exception] {
      Seq((3L, 300.toShort)).toDF("id", "level")
        .write.format("lwes").option("eventName", "B::Ev")
        .option("esf", esf).mode("append").save(dir)
    }
    assert(rootMessage(e).contains("out of range") &&
      rootMessage(e).contains("level"))
  }

  test("a declared byte[] rejects array<smallint> columns named (no raw-byte reinterpretation)") {
    import spark.implicits._
    val tdir = Files.createTempDirectory("esf-bytearr").toString
    Files.writeString(Paths.get(tdir, "ba.esf"),
      "BA::Ev { required int64 id; byte tags[4]; }")
    val esf = s"$tdir/ba.esf"
    val dir = Files.createTempDirectory("esf-bytearr-w").toString
    // the SCALAR byte-as-ShortType allowance must not leak into the
    // array recursion: setAttrAs writes byte[] via toByteArray(), which
    // reads raw bytes — a short-element array would silently corrupt
    val e = intercept[Exception] {
      Seq((1L, Seq(1.toShort, 2.toShort))).toDF("id", "tags")
        .write.format("lwes").option("eventName", "BA::Ev")
        .option("esf", esf).mode("append").save(dir)
    }
    assert(rootMessage(e).contains("esf validation") &&
      rootMessage(e).contains("byte[]"))
    // the tinyint-element shape is the declared one and round-trips
    Seq((1L, Array[Byte](1, 2))).toDF("id", "tags")
      .write.format("lwes").option("eventName", "BA::Ev")
      .option("esf", esf).mode("append").save(dir)
    val r = spark.read.format("lwes").schema("id long, tags binary")
      .option("eventName", "BA::Ev").load(dir).head()
    assert(r.getAs[Array[Byte]](1).toSeq == Seq[Byte](1, 2))
  }

  test("write: an out-of-range value for a declared narrow width fails named") {
    import spark.implicits._
    val tdir = Files.createTempDirectory("esf-range").toString
    Files.writeString(Paths.get(tdir, "r.esf"),
      "Rng::Ev { required int64 id; uint16 port; uint16 ports[4]; }")
    val esf = s"$tdir/r.esf"
    // scalar: int 70000 into declared uint16 is a template violation,
    // NOT a silent '& 0xffff' wrap to 4464
    val dir1 = Files.createTempDirectory("esf-range-w1").toString
    val e1 = intercept[Exception] {
      Seq((1L, 70000)).toDF("id", "port")
        .write.format("lwes").option("eventName", "Rng::Ev")
        .option("esf", esf).mode("append").save(dir1)
    }
    assert(rootMessage(e1).contains("out of range") &&
      rootMessage(e1).contains("port") && rootMessage(e1).contains("uint16"))
    // array element: same check per element
    val e2 = intercept[Exception] {
      Seq((1L, Seq(1, 99999))).toDF("id", "ports")
        .write.format("lwes").option("eventName", "Rng::Ev")
        .option("esf", esf).mode("append").save(dir1)
    }
    assert(rootMessage(e2).contains("out of range") &&
      rootMessage(e2).contains("ports"))
    // boundary values pass and round-trip exactly
    val dir2 = Files.createTempDirectory("esf-range-w2").toString
    Seq((1L, 65535, Seq(0, 65535))).toDF("id", "port", "ports")
      .write.format("lwes").option("eventName", "Rng::Ev")
      .option("esf", esf).mode("append").save(dir2)
    val r = spark.read.format("lwes").option("eventName", "Rng::Ev")
      .option("esf", esf).load(dir2).select("port", "ports").head()
    assert(r.getInt(0) == 65535 && r.getSeq[Int](1) == Seq(0, 65535))
  }

  test("streaming read: esf supplies the schema for readStream") {
    import spark.implicits._
    val dir = Files.createTempDirectory("esf-stream").toString
    Seq(("ann", 3L), ("bob", 4L)).toDF("username", "ts")
      .write.format("lwes").option("eventName", "User::Login")
      .option("esf", esfFile()).mode("append").save(dir)
    val out = Files.createTempDirectory("esf-stream-out").toString
    val ckpt = Files.createTempDirectory("esf-stream-ckpt").toString
    val q = spark.readStream.format("lwes")
      .option("eventName", "User::Login")
      .option("esf", esfFile()) // no .schema(...) — the template drives it
      .load(dir)
      .select("username", "ts")
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val r = spark.read.parquet(out).orderBy("username").collect()
    assert(r.map(x => (x.getString(0), x.getLong(1))).toSeq ==
      Seq(("ann", 3L), ("bob", 4L)))
  }

  test("streaming read: esf declares the schema over an EMPTY directory, then tails") {
    import spark.implicits._
    val dir = Files.createTempDirectory("esf-stream-empty").toString
    // declare-then-tail: the A24 no-sampling property composed with the
    // A13 streaming source — the stream exists BEFORE any journal does
    val stream = spark.readStream.format("lwes")
      .option("eventName", "User::Login")
      .option("esf", esfFile())
      .load(dir) // EMPTY directory — sampling would have failed here
    assert(stream.schema.fieldNames.take(2).toSeq == Seq("username", "ts"))
    // journals land only AFTER the stream was declared
    Seq(("cat", 8L), ("dog", 9L)).toDF("username", "ts")
      .write.format("lwes").option("eventName", "User::Login")
      .option("esf", esfFile()).mode("append").save(dir)
    val out = Files.createTempDirectory("esf-stream-empty-out").toString
    val ckpt = Files.createTempDirectory("esf-stream-empty-ckpt").toString
    val q = stream.select("username", "ts")
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val r = spark.read.parquet(out).orderBy("username").collect()
    assert(r.map(x => (x.getString(0), x.getLong(1))).toSeq ==
      Seq(("cat", 8L), ("dog", 9L)))
  }

  test("SQL DDL: CREATE TABLE USING lwes OPTIONS(esf ...) drives the catalog") {
    val dir = Files.createTempDirectory("esf-sql").toString
    val esf = esfFile().replace("\\", "\\\\")
    spark.sql(s"""CREATE TABLE esf_logins USING lwes
      OPTIONS (path '$dir', eventName 'User::Login', esf '$esf')""")
    try {
      // schema comes from the template through the catalog
      val cols = spark.table("esf_logins").schema.fieldNames.take(3).toSeq
      assert(cols == Seq("username", "ts", "attempts"))
      spark.sql("INSERT INTO esf_logins (username, ts, attempts) " +
        "VALUES ('zoe', 5, 2)")
      val r = spark.sql(
        "SELECT username, ts, attempts FROM esf_logins").collect()
      assert(r.map(x => (x.getString(0), x.getLong(1), x.getInt(2))).toSeq ==
        Seq(("zoe", 5L, 2)))
    } finally spark.sql("DROP TABLE esf_logins")
  }

  private def rootMessage(e: Throwable): String = {
    var t: Throwable = e
    val sb = new StringBuilder
    while (t != null) { sb.append(Option(t.getMessage).getOrElse("")); t = t.getCause }
    sb.toString
  }
}
