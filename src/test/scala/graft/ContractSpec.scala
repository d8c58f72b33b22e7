package graft

import org.apache.spark.sql.types._

/** The testdata schema tripwire (VERDICT r6 #2): the contract holds
  * against the real testdata, and a deliberately perturbed schema
  * produces ONE labeled failure naming table+column, not a fan-out of
  * analysis errors. */
class ContractSpec extends SparkSuite {

  test("contract holds for the shipped testdata (all three SFs)") {
    assert(Contract.violations(spark, SparkSuite.Sf0001).isEmpty)
    assert(Contract.violations(spark, SparkSuite.Sf001).isEmpty)
    assert(Contract.violations(spark, "/root/testdata/sf0.1").isEmpty)
  }

  test("every events.ts vintage normalizeTs handles is accepted") {
    val base = Contract.actualSchemas(spark, SparkSuite.Sf0001)
    for (t <- Seq(LongType, TimestampType, TimestampNTZType)) {
      val perturbed = base.updated("events", StructType(
        base("events").fields.map(f =>
          if (f.name == "ts") f.copy(dataType = t) else f)))
      assert(Contract.violationsOf(perturbed).isEmpty, s"ts as $t")
    }
  }

  test("a perturbed column type is one labeled violation") {
    val base = Contract.actualSchemas(spark, SparkSuite.Sf0001)
    val perturbed = base.updated("events", StructType(
      base("events").fields.map(f =>
        if (f.name == "ts") f.copy(dataType = StringType) else f)))
    val v = Contract.violationsOf(perturbed)
    assert(v.size == 1)
    assert(v.head.startsWith("events.ts:"))
    assert(v.head.contains("string"))
  }

  test("a missing column and a missing table are labeled") {
    val base = Contract.actualSchemas(spark, SparkSuite.Sf0001)
    val noCol = base.updated("orders", StructType(
      base("orders").fields.filterNot(_.name == "o_orderdate")))
    assert(Contract.violationsOf(noCol)
      .exists(_.startsWith("orders.o_orderdate: column missing")))
    val noTable = base - "documents"
    assert(Contract.violationsOf(noTable)
      .exists(_.startsWith("documents: table missing")))
  }

  test("normalizeTs: every vintage of the same instant reads identically") {
    // the r6 bug class as a property: a ns-long file, a µs TIMESTAMP
    // file, and a µs TIMESTAMP_NTZ file carrying the SAME instants must
    // normalize to the same values. Post-epoch only (the testdata
    // contract): `div 1000` truncates toward zero, which equals the
    // floor DuckDB applies only for non-negative nanos.
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.TimestampNTZType
    val micros: Seq[Long] = Seq(0L, 1L, 999999L, 1700000000123456L) ++
      SparkSuite.samples(
        org.scalacheck.Gen.chooseNum(0L, 4102444800000000L), 40)
    val nanos = micros.flatMap(u => Seq(u * 1000, u * 1000 + 999))
    def instants(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      graft.Tables.normalizeTs(df)
        .select(unix_micros(col("ts"))).collect().map(_.getLong(0)).sorted
    val fromNs = instants(nanos.toDF("ts"))
    val fromTs = instants(nanos.map(_ / 1000).toDF("x")
      .select(timestamp_micros(col("x")).as("ts")))
    val fromNtz = instants(nanos.map(_ / 1000).toDF("x")
      .select(timestamp_micros(col("x")).cast(TimestampNTZType).as("ts")))
    assert(fromNs == fromTs && fromTs == fromNtz)
  }

  test("preflight throws one remediation-labeled error on drift") {
    // point preflight at a dir that lacks the contracted tables
    val tmp = java.nio.file.Files.createTempDirectory("drift").toString
    // one valid-but-wrong table so the read itself succeeds
    spark.range(3).selectExpr("id as r_regionkey", "cast(id as string) as r_name")
      .write.mode("overwrite").parquet(s"$tmp/region.parquet")
    val e = intercept[IllegalStateException](Contract.preflight(spark, tmp))
    assert(e.getMessage.contains("TESTDATA SCHEMA DRIFT"))
    assert(e.getMessage.contains("region.r_regionkey")) // bigint, not int
  }

  test("mm-family ASCII payload invariant holds at every SF, and the " +
      "check catches a multi-byte payload") {
    // The mm family's oracle parity treats CHAR positions as BYTE
    // offsets: DuckDB md5/substr/length over the text payload vs
    // Spark substring/length agree only while every documents.text is
    // single-byte (mm_decode_stub head_hex, mm_frame_sample and
    // mm_dedup_frames chunk md5s, mm_resize truncation, mm_scene_cuts
    // window sums). That is a FIXTURE invariant, not a law — pin it
    // here so a regenerated multi-byte corpus fails one labeled test
    // instead of producing silent byte/char drift in five queries.
    import org.apache.spark.sql.functions.col
    val multiByte = (df: org.apache.spark.sql.DataFrame) =>
      df.filter(Contract.nonAscii(col("text")))
    for (sf <- Seq(SparkSuite.Sf0001, SparkSuite.Sf001,
        "/root/testdata/sf0.1")) {
      val n = multiByte(Tables.documents(spark, sf)).count()
      assert(n == 0, s"$sf: $n multi-byte documents.text payloads — the " +
        "mm family's char≡byte oracle parity no longer holds; convert " +
        "the mm oracles to char semantics before trusting them")
    }
    // self-test: the predicate must actually catch a multi-byte payload
    // (an always-zero tripwire pins nothing)
    import spark.implicits._
    val bad = Seq("plain ascii", "café au lait").toDF("text")
    assert(multiByte(bad).count() == 1)
  }

  test("asciiPreflight names a multi-byte documents payload") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("multibyte").toString
    Seq((1L, "plain ascii"), (2L, "café au lait")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$tmp/documents.parquet")
    Contract.asciiPreflight(spark, SparkSuite.Sf0001) // the shipped corpus passes
    val e = intercept[IllegalStateException](Contract.asciiPreflight(spark, tmp))
    assert(e.getMessage.contains("mm-family ASCII invariant broken"))
    assert(e.getMessage.contains(": 1 documents.text rows"))
  }

  /** Jobs started while `body` runs (after the listener bus drains). */
  private def jobsDuring(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet(): Unit
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      org.apache.spark.GraftTestBus.drain(sc)
      n.set(0)
      body
      org.apache.spark.GraftTestBus.drain(sc)
      n.get
    } finally sc.removeSparkListener(l)
  }

  test("after preflight, building readers runs no schema-inference job") {
    Contract.preflight(spark, SparkSuite.Sf0001)
    val d = SparkSuite.Sf0001
    val jobs = jobsDuring {
      Contract.expected.keys.foreach(t => Tables.read(spark, d, t))
      Tables.events(spark, d)
      Tables.charge(spark, d)
      graft.streaming.Feeds.source(spark, d, "events")
      graft.streaming.Feeds.source(spark, d, "documents")
    }
    assert(jobs == 0)
  }

  /** A fresh copy of the sf0.001 tables: a dir no session has read. */
  private def freshCopy(): String = {
    val tmp = java.nio.file.Files.createTempDirectory("fresh")
    new java.io.File(SparkSuite.Sf0001).listFiles().foreach(f =>
      java.nio.file.Files.copy(f.toPath, tmp.resolve(f.getName)))
    tmp.toString
  }

  test("preflight and every reader on a fresh dir start no Spark job") {
    assert(jobsDuring(Contract.preflight(spark, freshCopy())) == 0)
    // a second copy, so the readers run on a dir preflight never saw
    val unseen = freshCopy()
    val jobs = jobsDuring {
      Contract.expected.keys.foreach(t => Tables.read(spark, unseen, t))
      Tables.events(spark, unseen)
      graft.streaming.Feeds.source(spark, unseen, "events")
      graft.streaming.Feeds.source(spark, unseen, "documents")
    }
    assert(jobs == 0)
  }

  test("the footer schema is the schema Spark infers, for every table") {
    val sf01 = new java.io.File(SparkSuite.Sf001).getParent + "/sf0.1"
    for (d <- Seq(SparkSuite.Sf0001, SparkSuite.Sf001, sf01);
        t <- Contract.expected.keys) {
      val footer = Tables.schema(spark, d, t)
      assert(footer == spark.read.parquet(s"$d/$t.parquet").schema, s"$d/$t")
    }
    // a Spark-written directory table, with _SUCCESS and .crc files and
    // non-null columns (the inferred schema is nullable)
    val tmp = java.nio.file.Files.createTempDirectory("dirtable").toString
    spark.range(10).selectExpr("id", "cast(id as int) as k",
        "array(cast(id as float)) as v", "named_struct('a', id) as s")
      .repartition(3).write.parquet(s"$tmp/t.parquet")
    assert(Tables.schema(spark, tmp, "t") ==
      spark.read.parquet(s"$tmp/t.parquet").schema)
  }

  test("a dir preflight never saw reads its schema without a job") {
    val tmp = java.nio.file.Files.createTempDirectory("unseen").toString
    spark.range(3).selectExpr("cast(id as int) as r_regionkey",
        "cast(id as string) as r_name")
      .write.parquet(s"$tmp/region.parquet")
    assert(jobsDuring(Tables.region(spark, tmp)) == 0)
    assert(jobsDuring(Tables.region(spark, tmp)) == 0)
    assert(Tables.region(spark, tmp).count() == 3)
    assert(Tables.schema(spark, tmp, "region").fieldNames.toSeq ==
      Seq("r_regionkey", "r_name"))
  }

  test("a table path with no data file fails loudly") {
    val tmp = java.nio.file.Files.createTempDirectory("nodata")
    java.nio.file.Files.createDirectory(tmp.resolve("region.parquet"))
    java.nio.file.Files.createFile(tmp.resolve("region.parquet/_SUCCESS"))
    val e = intercept[IllegalArgumentException](
      Tables.schema(spark, tmp.toString, "region"))
    assert(e.getMessage.contains("no parquet data file"))
    assert(Contract.violations(spark, tmp.toString)
      .contains("region: table missing from testdata dir"))
  }
}
