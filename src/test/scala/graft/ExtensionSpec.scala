package graft

import graft.SparkSuite.{Sf0001, Sf001}
import graft.functions.{Fns, PosEntry, PosIdAggregator}
import graft.sources.{RestSource, Sinks}
import org.apache.spark.sql.functions._

/** Extension-surface coverage (SURVEY §2.11 + §7.3): native Catalyst
  * expression ≡ built-in combo ≡ UDF, typed Aggregator ≡ built-in
  * ordered concat, REST source plumbing, sink patterns. */
class ExtensionSpec extends SparkSuite {
  import spark.implicits._

  test("due_date native expression ≡ built-in combo (codegen path)") {
    val df = Tables.charge(spark, Sf001).filter(col("id") % 53 === 0)
      .join(broadcast(Tables.terms(spark, Sf001)), Seq("customerId"))
    val cmp = df.select(
      Fns.dueDate(col("date"), col("termsType"), col("termsDays")).as("a"),
      call_function("due_date", col("date"), col("termsType"),
        col("termsDays")).as("b"))
    assert(cmp.count() > 0)
    assert(cmp.filter(col("a") =!= col("b")).count() == 0)
  }

  test("due_date works from SQL and keeps the null-terms EOM branch") {
    val r = spark.sql(
      """SELECT due_date(DATE'2024-01-31', CAST(NULL AS STRING), 5) AS d,
        |       due_date(DATE'2023-12-15', 'OFFOLLOWINGMONTH', 31) AS roll,
        |       due_date(CAST(NULL AS DATE), 'DAYSAFTERBILLDATE', 5) AS n
        |""".stripMargin).head
    assert(r.getDate(0).toString == "2024-02-29")
    assert(r.getDate(1).toString == "2024-01-31")
    assert(r.isNullAt(2))
  }

  test("bloom_might_contain: no false negatives, useful fpp, codegen'd") {
    import graft.plans.BloomMightContain
    val members = (0L until 500L).map(_ * 7)
    val bloom = org.apache.spark.util.sketch.BloomFilter.create(1000, 0.03)
    members.foreach(bloom.putLong)
    val bytes = BloomMightContain.serialize(bloom)
    val probe = (0L until 10000L).toDF("k")
      .select(col("k"),
        call_function("bloom_might_contain", col("k"), lit(bytes)).as("hit"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    // a Bloom filter NEVER misses a member…
    members.foreach(m => assert(probe(m), s"false negative on $m"))
    // …and at fpp 3% the non-member pass-through must stay a small slice
    val nonMembers = (0L until 10000L).filterNot(members.toSet)
    val fp = nonMembers.count(probe)
    assert(fp < nonMembers.size / 10, s"$fp/${nonMembers.size} false positives")
    // null keys stay null, not false
    val n = spark.sql("SELECT bloom_might_contain(CAST(NULL AS BIGINT), " +
      s"X'${bytes.map("%02x".format(_)).mkString}')").collect()(0)
    assert(n.isNullAt(0))
  }

  test("join_bloom_pruned: prunes the fact scan, result exactly unfiltered twin") {
    val d = Sf001
    val sel = Tables.orders(spark, d).filter(col("o_totalprice") > 495000)
      .select("o_orderkey")
    // un-bloomed twin: the plain selective join
    val twin = Tables.lineitem(spark, d)
      .join(sel, col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_orderkey")
      .agg(count(lit(1)).as("n_lines"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = SparkEntry.queries("join_bloom_pruned")(spark, d)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == twin)
    // the bloom filter must actually prune: rows surviving the scan
    // filter ≪ the table, ≥ the true matches
    val bytes = graft.plans.BloomMightContain.serialize(
      sel.stat.bloomFilter("o_orderkey", 100000L, 0.03))
    val full = Tables.lineitem(spark, d).count()
    val kept = Tables.lineitem(spark, d)
      .filter(call_function("bloom_might_contain",
        col("l_orderkey"), lit(bytes))).count()
    val trueMatches = Tables.lineitem(spark, d)
      .join(sel, col("l_orderkey") === col("o_orderkey")).count()
    assert(kept >= trueMatches)
    assert(kept < full / 10,
      s"bloom kept $kept of $full rows — not pruning")
  }

  test("vector_dot codegen'd expression ≡ the composed higher-order " +
      "fold bit-for-bit on real embeddings; nulls and mismatches null") {
    // bit-identity against the exact composed form it replaced, over
    // every corpus vector × a literal double plane AND float × float
    val planeArr = array((1 to operators.Vectors.Dim)
      .map(j => lit(operators.Vectors.plane(3, j))): _*)
    val e = Tables.embeddings(spark, Sf001)
    val cmp = e.select(
      call_function("vector_dot", col("embedding"), planeArr).as("fast"),
      aggregate(zip_with(col("embedding"), planeArr,
        (x, h) => x.cast("double") * h), lit(0.0),
        (acc, v) => acc + v).as("slow"),
      call_function("vector_dot", col("embedding"), col("embedding"))
        .as("self"),
      aggregate(zip_with(col("embedding"), col("embedding"),
        (x, y) => x.cast("double") * y.cast("double")), lit(0.0),
        (acc, v) => acc + v).as("selfSlow"))
      .collect()
    cmp.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1), "float×double fold diverges")
      assert(r.getDouble(2) == r.getDouble(3), "float×float fold diverges")
      assert(r.getDouble(2) >= 0.0)
    }
    // SQL surface + null/mismatch contract
    val edge = spark.sql(
      """SELECT vector_dot(CAST(NULL AS ARRAY<DOUBLE>), array(1.0d)) AS a,
        |       vector_dot(array(1.0d, 2.0d), array(3.0d)) AS b,
        |       vector_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS c
        |""".stripMargin).collect().head
    assert(edge.isNullAt(0) && edge.isNullAt(1) && edge.getDouble(2) == 11.0)
    // wrong element type is an analysis-time failure, not a wrong answer
    val err = intercept[Exception] {
      spark.sql("SELECT vector_dot(array('x'), array('y'))").collect()
    }
    assert(err.getMessage.contains("vector_dot"))
  }

  test("vector_sqdist codegen'd expression ≡ the composed (x−c)² fold " +
      "bit-for-bit on real PQ sub-vectors") {
    val cb = array((0 until operators.Vectors.PqSub)
      .map(j => lit(operators.Vectors.pqCb(2, 1, j))): _*)
    val sub = slice(col("embedding"),
      2 * operators.Vectors.PqSub + 1, operators.Vectors.PqSub)
    val cmp = Tables.embeddings(spark, Sf001).select(
      call_function("vector_sqdist", sub, cb).as("fast"),
      aggregate(zip_with(sub, cb, (x, c) =>
        (x.cast("double") - c) * (x.cast("double") - c)),
        lit(0.0), (acc, v) => acc + v).as("slow"))
      .collect()
    cmp.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1), "sqdist fold diverges")
      assert(r.getDouble(0) >= 0.0)
    }
    val edge = spark.sql(
      "SELECT vector_sqdist(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS a")
      .collect().head
    assert(edge.getDouble(0) == 8.0)
  }

  test("PosIdAggregator UDAF ≡ built-in ordered string concat") {
    val posIdUdaf = udaf(PosIdAggregator)
    val src = Tables.charge(spark, Sf0001)
      .filter(col("customerId") === Tables.StoreId && col("tranType") === 13)
      .select(col("date"), col("tranTimeStamp").as("ts"), col("id"),
        concat(Fns.refConcat(col("terminalId"), col("seqNo")), lit(" - "),
          Fns.dateLocale(col("tranTimeStamp")), lit("\n")).as("s"))
    val viaUdaf = src
      .groupBy("date")
      .agg(posIdUdaf(col("ts"), col("id"), col("s")).as("posId"))
    val viaBuiltin = SparkEntry.queries("agg_string_concat")(spark, Sf0001)
    val a = viaUdaf.orderBy("date").collect().map(r => (r.get(0), r.get(1)))
    val b = viaBuiltin.collect().map(r => (r.get(0), r.get(1)))
    assert(a.nonEmpty && a.sameElements(b))
  }

  test("REST source: pushed filter string + parsed rows + cardinality guard") {
    assert(RestSource.whereString("Day Dockets", "2024-01-15") ==
      """Contact.Name=="Day Dockets"&&DateString=="2024-01-15"""")
    val df = RestSource.fetchInvoices(spark, RestSource.cannedServer,
      "Day Dockets", "2024-01-15")
    assert(df.count() == 3)
    // exactly-one guard catches the multi-match case (apiFunctions.ts:148-170)
    intercept[Guards.CardinalityException] {
      Guards.requireExactlyOne(df, "invoice")
    }
    Guards.requireExactlyOne(
      df.filter(col("invoiceID") === "inv-2024-01-15-1"), "invoice")
  }

  test("JSON log sink resolves name collisions with letter suffixes") {
    val dir = java.nio.file.Files.createTempDirectory("logs").toString
    val df = Seq(("ok", 1)).toDF("status", "n")
    val p1 = Sinks.writeJsonLog(df, dir, "resp-2024-01-15")
    val p2 = Sinks.writeJsonLog(df, dir, "resp-2024-01-15")
    val p3 = Sinks.writeJsonLog(df, dir, "resp-2024-01-15")
    assert(p1.endsWith("resp-2024-01-15.json"))
    assert(p2.endsWith("resp-2024-01-15a.json"))
    assert(p3.endsWith("resp-2024-01-15b.json"))
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(p1)).contains("\"status\":\"ok\""))
  }

  test("batched push sink batches per partition") {
    val df = spark.range(100).toDF("id").repartition(4)
    val batches = Sinks.batchedPush(df, batchSize = 10)(_ => ())
    // 100 rows over 4 partitions, batch 10 → at least 10, at most 13
    assert(batches >= 10 && batches <= 13, s"got $batches")
  }

  test("validated push surfaces per-element outcomes (summarizeErrors:false)") {
    val df = spark.range(20).toDF("id").repartition(2)
    // canned partially-rejecting transport: every element whose id is
    // divisible by 7 comes back with a validation error
    val outcomes = Sinks.batchedPushValidated(df, batchSize = 6) { batch =>
      batch.map(el =>
        if (el.matches(""".*"id":(0|7|14)\}.*""")) Some("Account code invalid")
        else None)
    }
    try {
      assert(outcomes.count() == 20) // one outcome row per element
      val bad = outcomes.filter(!col("ok")).collect()
      assert(bad.length == 3)
      assert(bad.forall(_.getString(4) == "Account code invalid"))
      assert(outcomes.filter(col("ok")).count() == 17)
      assert(outcomes.filter(col("ok") && col("error").isNotNull).isEmpty)
    } finally outcomes.unpersist()
  }

  test("validated push refuses a transport with wrong outcome arity") {
    val df = spark.range(10).toDF("id").repartition(1)
    val ex = intercept[org.apache.spark.SparkException] {
      Sinks.batchedPushValidated(df, batchSize = 5)(_ => Seq(None))
    }
    assert(ex.getMessage.contains("exactly one outcome per") ||
      Option(ex.getCause).exists(_.getMessage.contains("exactly one outcome per")))
  }

  test("DataSourceV2 REST connector pushes equality filters to the server") {
    import graft.sources.RestTableProvider
    val df = spark.read.format(classOf[RestTableProvider].getName)
      .option("contactName", "Day Dockets").load()
      .filter(col("dateString") === "2024-02-02")
    val rows = df.collect()
    // the where-string the "server" received carries the pushed date —
    // pushdown happened at the connector, not post-scan in Spark
    assert(RestTableProvider.lastRequestedParams("where")
      .contains("DateString==\"2024-02-02\""))
    assert(rows.nonEmpty)
    assert(rows.forall(_.getString(1) == "2024-02-02"))
    // non-pushable predicates still evaluate correctly in Spark
    val filtered = spark.read.format(classOf[RestTableProvider].getName).load()
      .filter(col("dateString") === "2024-03-03" && col("total") > 150.0)
      .collect()
    assert(filtered.forall(_.getDouble(4) > 150.0))
    // and the physical plan shows the pushed filter
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("RuntimeFilters") || plan.contains("PushedFilters") ||
      df.queryExecution.optimizedPlan.toString.contains("RelationV2"))
  }

  test("DSv2 REST connector: unfiltered scan is the full table, status stays Spark-side") {
    import graft.sources.RestTableProvider
    // no filter -> the whole catalog, not a defaulted one-date slice
    val all = spark.read.format(classOf[RestTableProvider].getName).load()
      .collect()
    assert(all.length == RestSource.CatalogDates.size * 3)
    assert(all.map(_.getString(1)).distinct.sorted.toSeq ==
      RestSource.CatalogDates)
    assert(!RestTableProvider.lastRequestedParams.contains("where"))
    // status equality is NOT claimed by the connector (the transport
    // ignores `statuses`), so Spark re-filters and the result is right:
    // the canned server only ever emits SUBMITTED
    val draft = spark.read.format(classOf[RestTableProvider].getName).load()
      .filter(col("status") === "DRAFT")
    assert(draft.count() == 0)
    val submitted = spark.read.format(classOf[RestTableProvider].getName).load()
      .filter(col("status") === "SUBMITTED" &&
        col("dateString") === "2024-01-16")
    assert(submitted.count() == 3)
  }

  test("GraftExtensions wires a session end-to-end: SQL functions, strategy, rule") {
    // build a SECOND session over the same SparkContext with the
    // extensions class — the cluster-deploy path
    // (spark.sql.extensions=graft.plans.GraftExtensions), which
    // getOrCreate alone cannot exercise (it returns the active session)
    import org.apache.spark.sql.SparkSession
    val base = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession() // getOrCreate falls back to it too
    val ext = SparkSession.builder().master("local[4]")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    try {
      assert(ext ne base)
      // (1) injected SQL function, with arity errors surfaced properly
      val d = ext.sql("SELECT due_date(DATE'2024-01-31', CAST(NULL AS STRING), 5) AS d")
        .head.getDate(0).toString
      assert(d == "2024-02-29")
      val err = intercept[Exception] {
        ext.sql("SELECT due_date(DATE'2024-01-31', 'X')").collect()
      }
      assert(err.getMessage.contains("3 arguments") ||
        err.getMessage.contains("expects 3"), err.getMessage)
      // …and the other four: the three vector folds and the bloom probe
      val bloom = org.apache.spark.util.sketch.BloomFilter.create(10, 0.03)
      bloom.putLong(7L)
      val hex = graft.plans.BloomMightContain.serialize(bloom)
        .map("%02x".format(_)).mkString
      val v = ext.sql(
        s"""SELECT vector_dot(array(1.0f, 2.0f), array(3.0d, 4.0d)) AS dot,
           |       vector_sqdist(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS sq,
           |       vector_l2sq(array(1L, 2L), array(3L, 5L)) AS l2,
           |       bloom_might_contain(7L, X'$hex') AS hit
           |""".stripMargin).head
      assert(v.getDouble(0) == 11.0 && v.getDouble(1) == 8.0 &&
        v.getLong(2) == 13L && v.getBoolean(3))
      // (2) injected planner strategy: topK plans without install()
      import ext.implicits._
      val df = Seq(("a", 2.0, 1L), ("a", 5.0, 2L), ("b", 1.0, 3L))
        .toDF("g", "v", "id")
      val top = graft.plans.TopKPerKey.topK(df, Seq("g"),
        Seq("v" -> true, "id" -> false), 1)
      assert(top.collect().map(r => (r.getString(0), r.getDouble(1))).sorted
        .toSeq == Seq(("a", 5.0), ("b", 1.0)))
      // (3) injected optimizer rule: the as-of node lowers without install()
      val left = Seq((1L, 5L), (1L, 15L)).toDF("k", "ts")
      val right = Seq((1L, 10L, 1.5)).toDF("k", "ts", "v")
      val asof = graft.plans.AsOfJoinPlan.asOf(left, right, Seq("k"), "ts", Seq("v"))
        .orderBy("ts").collect().map(r => Option(r.get(3)))
      assert(asof.toSeq == Seq(None, Some(1.5)))
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.setActiveSession(base)
      SparkSession.setDefaultSession(base)
    }
  }

  test("vector_l2sq codegen'd expression ≡ the composed integer " +
      "(x−c)² fold on real quantized embeddings; nulls and mismatches") {
    // the exact composed form ivfDataFitTopK used: xq = floor(x·1000)
    // as ARRAY<BIGINT> against a literal long centroid
    val xq = transform(col("embedding"),
      x => floor(x.cast("double") * 1000).cast("long"))
    val cen = array((1 to operators.Vectors.Dim).map(j =>
      lit((j * 37 % 200 - 100).toLong)): _*)
    val cmp = Tables.embeddings(spark, Sf001).select(
      call_function("vector_l2sq", xq, cen).as("fast"),
      aggregate(zip_with(xq, cen, (x, c) => (x - c) * (x - c)),
        lit(0L), (acc, v) => acc + v).as("slow"))
      .collect()
    assert(cmp.nonEmpty)
    cmp.foreach { r =>
      assert(r.getLong(0) == r.getLong(1), "integer L2 fold diverges")
      assert(r.getLong(0) >= 0L)
    }
    val edge = spark.sql(
      """SELECT vector_l2sq(CAST(NULL AS ARRAY<BIGINT>), array(1L)) AS a,
        |       vector_l2sq(array(1L, 2L), array(3L)) AS b,
        |       vector_l2sq(array(1L, 2L), array(3L, 4L)) AS c
        |""".stripMargin).collect().head
    assert(edge.isNullAt(0) && edge.isNullAt(1) && edge.getLong(2) == 8L)
    val err = intercept[Exception] {
      spark.sql("SELECT vector_l2sq(array(1.0d), array(2.0d))").collect()
    }
    assert(err.getMessage.contains("vector_l2sq"))
  }

  test("registerAll is idempotent: one rule, one strategy") {
    graft.plans.Functions.registerAll(spark)
    graft.plans.Functions.registerAll(spark)
    val x = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    assert(x.extraOptimizations
      .count(_.isInstanceOf[graft.plans.AsOfJoinPlan.Lowering]) == 1)
    assert(x.extraStrategies.count(_ eq graft.plans.TopKStrategy) == 1)
  }

  test("every graft SQL function names itself and its arity on a wrong-arity call") {
    def msgs(t: Throwable): List[String] =
      if (t == null) Nil else Option(t.getMessage).toList ::: msgs(t.getCause)
    Seq(
      ("vector_dot", "array(1.0d)", 2),
      ("vector_sqdist", "array(1.0d), array(1.0d), array(1.0d)", 2),
      ("vector_l2sq", "array(1L)", 2),
      ("due_date", "DATE'2024-01-31', 'X'", 3),
      ("bloom_might_contain", "1L", 2)).foreach { case (fn, args, n) =>
      val err = intercept[Exception](spark.sql(s"SELECT $fn($args)").collect())
      assert(msgs(err).exists(_.contains(s"$fn expects $n arguments")),
        s"$fn: ${msgs(err)}")
    }
  }

  test("property: each vector fold's eval and its generated code ≡ the " +
      "composed aggregate(zip_with) fold, bit for bit") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.{Column, Row}
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types._
    import org.scalacheck.Gen
    import graft.plans.{VectorDot, VectorL2Sq, VectorSqDist}
    // lengths 0..80; either side null 1 time in 10; the right side one
    // element longer or shorter 1 time in 8
    def pairs[A, B](ga: Gen[A], gb: Gen[B]): Gen[(Option[Seq[A]], Option[Seq[B]])] =
      for {
        n <- Gen.choose(0, 80)
        skew <- Gen.frequency(14 -> 0, 1 -> 1, 1 -> -1)
        a <- Gen.listOfN(n, ga)
        b <- Gen.listOfN(math.max(0, n + skew), gb)
        na <- Gen.choose(0, 9)
        nb <- Gen.choose(0, 9)
      } yield (Option.when(na > 0)(a), Option.when(nb > 0)(b))
    def bits(v: Option[Any]): Option[Long] = v.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case l: Long => l
    }
    // returns the composed results, for the coverage checks below
    def check(name: String, ta: DataType, tb: DataType,
        rows: Seq[(Option[Seq[Any]], Option[Seq[Any]])],
        kernel: (Expression, Expression) => Expression,
        step: (Column, Column) => Column, zero: Column): Seq[Option[Any]] = {
      val schema = StructType(Seq(StructField("id", IntegerType),
        StructField("a", ArrayType(ta)), StructField("b", ArrayType(tb))))
      val df = spark.createDataFrame(rows.zipWithIndex.map { case ((a, b), i) =>
        Row(i, a.orNull, b.orNull) }.asJava, schema)
      val want = df.orderBy("id")
        .select(aggregate(zip_with(col("a"), col("b"), step), zero, _ + _))
        .collect().map(r => Option(r.get(0))).toSeq
      val k = kernel(BoundReference(0, ArrayType(ta), nullable = true),
        BoundReference(1, ArrayType(tb), nullable = true))
      val generated = GenerateUnsafeProjection.generate(Seq(k))
      rows.zip(want).zipWithIndex.foreach { case (((a, b), w), i) =>
        val in = InternalRow(a.map(new GenericArrayData(_)).orNull,
          b.map(new GenericArrayData(_)).orNull)
        val out = generated(in)
        val cg = if (out.isNullAt(0)) None else Some(out.get(0, k.dataType))
        assert(bits(Option(k.eval(in))) == bits(w), s"$name eval, sample $i")
        assert(bits(cg) == bits(w), s"$name codegen, sample $i")
      }
      want
    }
    val f = Gen.choose(-1000.0f, 1000.0f)
    val d = Gen.choose(-1000.0, 1000.0)
    val dbl = (x: Column) => x.cast("double")
    val dotStep = (x: Column, y: Column) => dbl(x) * dbl(y)
    val sqStep = (x: Column, y: Column) => (dbl(x) - dbl(y)) * (dbl(x) - dbl(y))
    val fd = SparkSuite.samples(pairs(f, d), 60)
    val ff = SparkSuite.samples(pairs(f, f), 60, 1000L)
    for ((name, kernel, step) <- Seq(
        ("vector_dot", VectorDot, dotStep),
        ("vector_sqdist", VectorSqDist, sqStep))) {
      val got = check(s"$name float×double", FloatType, DoubleType, fd,
        kernel, step, lit(0.0)) ++
        check(s"$name float×float", FloatType, FloatType, ff,
          kernel, step, lit(0.0))
      assert(got.exists(_.isEmpty) && got.count(_.isDefined) > 60)
    }
    // half the elements up to ±4e9, so squares and sums wrap; the
    // composed form wraps only with ANSI arithmetic off
    val big = Gen.oneOf(Gen.choose(-1000L, 1000L),
      Gen.choose(-4000000000L, 4000000000L))
    val ll = SparkSuite.samples(pairs(big, big), 60, 2000L)
    val key = "spark.sql.ansi.enabled"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, false)
    val l2 = try check("vector_l2sq", LongType, LongType, ll, VectorL2Sq,
      (x, y) => (x - y) * (x - y), lit(0L))
    finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    val wrapped = ll.zip(l2).count {
      case ((Some(a), Some(b)), Some(v)) =>
        a.zip(b).map { case (x, y) => BigInt(x - y).pow(2) }.sum != BigInt(v.asInstanceOf[Long])
      case _ => false
    }
    assert(wrapped > 0, "no sample overflowed a long")
  }

  test("only plans/Functions.scala wires extensions into a session") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    // whole-file text, so a call split across lines is caught too
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"missing source dir $root")
    val hooks = ("createOrReplaceTempFunction|functionRegistry|injectFunction|" +
      "injectOptimizerRule|injectPlannerStrategy|extraStrategies|" +
      "extraOptimizations|getActiveSession").r
    val files = Files.walk(root)
    val offenders = try for {
      f <- files.iterator.asScala.toSeq
      if f.toString.endsWith(".scala") &&
        root.relativize(f).toString != "graft/plans/Functions.scala"
      text = Files.readString(f)
      m <- hooks.findAllMatchIn(text)
    } yield s"${root.relativize(f)}:${text.take(m.start).count(_ == '\n') + 1}: ${m.matched}"
    finally files.close()
    assert(offenders.isEmpty,
      "register through graft.plans.Functions:\n" + offenders.mkString("\n"))
  }
}
