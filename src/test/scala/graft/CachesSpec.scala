package graft

import org.apache.spark.sql.functions._

/** The shared-persist registry must actually release — the r5
  * "session-lifetime persist without unpersist" leak, pinned. The
  * assertions target THIS suite's own entries via lookupCachedData
  * (other suites share the session and may hold their own caches —
  * e.g. the Graph CC memo — so global cache-manager emptiness is not
  * ours to assert). */
class CachesSpec extends SparkSuite {

  private def cached(df: org.apache.spark.sql.DataFrame): Boolean =
    spark.sharedState.cacheManager.lookupCachedData(
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).nonEmpty

  /** agg_winsorized_dist's plan reads a cached stage (its memoized rank
    * stage — the query has no other shared stage). */
  private def winsorizedReadsCache(): Boolean = {
    val df = SparkEntry.queries("agg_winsorized_dist")(spark, SparkSuite.Sf0001)
    df.count()
    df.queryExecution.withCachedData.collectFirst {
      case _: org.apache.spark.sql.execution.columnar.InMemoryRelation => ()
    }.nonEmpty
  }

  test("queries register their shared stages; releaseAll uncaches them") {
    val before = Caches.registered
    // a query whose shared shingle stage goes through the registry
    SparkEntry.queries("dedup_ngram_jaccard")(spark, SparkSuite.Sf001).count()
    assert(Caches.registered > before,
      "query did not register its shared stage")
    val probe = Tables.events(spark, SparkSuite.Sf0001)
      .select(col("event_id")).distinct()
    Caches.shared(probe).count()
    assert(cached(probe), "shared() did not persist")
    Caches.releaseAll()
    assert(Caches.registered == 0)
    assert(!cached(probe), "releaseAll left the registered plan cached")
  }

  test("enforceBudget FIFO-evicts oldest stages until under the ceiling") {
    Caches.releaseAll()
    def mk(c: String) = Tables.events(spark, SparkSuite.Sf0001)
      .select(col(c)).distinct()
    val first = Caches.shared(mk("event_id")); first.count()
    val second = Caches.shared(mk("user_id")); second.count()
    assert(Caches.storageBytes(spark) > 0L)
    // generous ceiling: no-op
    assert(Caches.enforceBudget(spark, Long.MaxValue) == 0)
    assert(cached(first) && cached(second))
    // zero ceiling: everything goes, oldest first, registry drains
    val evicted = Caches.enforceBudget(spark, 0L)
    assert(evicted >= 2, s"expected both stages evicted, got $evicted")
    assert(!cached(first) && !cached(second))
    assert(Caches.registered == 0)
  }

  test("a stage the budget evicted stays evicted: its next consumer " +
      "neither persists nor registers it") {
    Caches.releaseAll()
    def mk() = Tables.events(spark, SparkSuite.Sf0001)
      .select(col("event_id")).distinct()
    val first = Caches.shared(mk()); first.count()
    assert(Caches.enforceBudget(spark, 0L) >= 1)
    assert(Caches.evictions >= 1)
    val again = Caches.shared(mk()); again.count()
    assert(!(again eq first))
    assert(!again.storageLevel.useMemory && !cached(again),
      "the next consumer persisted an evicted stage again")
    assert(Caches.registered == 0)
    // releaseAll ends the batch: the stage may be shared again
    Caches.releaseAll()
    assert(Caches.evictions == 0)
    val fresh = Caches.shared(mk()); fresh.count()
    assert(cached(fresh) && Caches.registered == 1)
    Caches.releaseAll()
  }

  test("re-registering the same canonical plan is idempotent on release") {
    def mk() = Tables.events(spark, SparkSuite.Sf0001)
      .select(col("user_id")).distinct()
    val a = mk(); val b = mk()
    Caches.shared(a).count()
    Caches.shared(b).count()
    Caches.releaseAll()
    assert(!cached(a) && !cached(b),
      "duplicate registration left the plan cached after release")
  }

  test("releaseAll drops the memoized winsorized rank stage; the next " +
      "run caches and registers it again") {
    Caches.releaseAll()
    assert(winsorizedReadsCache(), "first run did not read its rank stage")
    Caches.releaseAll()
    assert(winsorizedReadsCache(),
      "after releaseAll the memo served an unpersisted rank stage")
    assert(Caches.registered == 1, "rank stage was not registered again")
  }

  test("enforceBudget drops the memoized winsorized rank stage too") {
    Caches.releaseAll()
    assert(winsorizedReadsCache())
    assert(Caches.enforceBudget(spark, 0L) >= 1)
    assert(Caches.registered == 0)
    assert(winsorizedReadsCache(),
      "after eviction the memo served an unpersisted rank stage")
    assert(Caches.registered == 1)
  }

  test("releaseAll uncaches nearCloneClusters; the next call rebuilds it") {
    val a = operators.Graph.nearCloneClusters(spark, SparkSuite.Sf0001)
    a.count()
    assert(cached(a))
    Caches.releaseAll()
    assert(!cached(a), "releaseAll left the CC labels cached")
    val b = operators.Graph.nearCloneClusters(spark, SparkSuite.Sf0001)
    assert(!(b eq a), "memo served the released frame")
    assert(b.storageLevel.useMemory && cached(b),
      "rebuilt CC labels are not persisted")
  }

  test("shared registers two equal plans once") {
    Caches.releaseAll()
    def mk() = Tables.events(spark, SparkSuite.Sf0001)
      .select(col("event_id")).distinct()
    val before = Caches.registered
    Caches.shared(mk())
    Caches.shared(mk())
    assert(Caches.registered == before + 1)
    Caches.releaseAll()
  }

  test("shared keeps each caller's column names over one cached plan") {
    // canonicalization drops output names, so both frames read one
    // cached stage; each caller must still get its own columns back
    Caches.releaseAll()
    def mk(name: String) = Tables.events(spark, SparkSuite.Sf0001)
      .select(col("event_id").as(name)).distinct()
    assert(Caches.shared(mk("a")).columns.toSeq == Seq("a"))
    assert(Caches.shared(mk("b")).columns.toSeq == Seq("b"))
    Caches.releaseAll()
  }

  test("a memo build may call memo again") {
    val outer = Caches.memo(spark, "caches-spec-outer") {
      Caches.memo(spark, "caches-spec-inner")(1) + 1
    }
    assert(outer == 2)
    assert(Caches.memo(spark, "caches-spec-inner")(99) == 1)
    assert(Caches.memo(spark, "caches-spec-outer")(99) == 2)
  }

  /** Lines of `files` containing any of `patterns`, as `file:line: text`. */
  private def offenders(files: Seq[java.io.File],
      patterns: Seq[String]): Seq[String] = for {
    f <- files
    (line, i) <- java.nio.file.Files.readAllLines(f.toPath)
      .toArray(Array.empty[String]).toSeq.zipWithIndex
    if patterns.exists(line.contains)
  } yield s"${f.getName}:${i + 1}: ${line.trim}"

  test("operators and streaming materialize only through Caches") {
    val dirs = Seq("src/main/scala/graft/operators",
      "src/main/scala/graft/streaming").map(new java.io.File(_))
    dirs.foreach(d => assert(d.isDirectory, s"missing source dir $d"))
    val found = offenders(
      dirs.flatMap(_.listFiles().toSeq.filter(_.getName.endsWith(".scala"))),
      Seq("localCheckpoint(", "ConcurrentHashMap"))
    assert(found.isEmpty,
      "materialize through graft.Caches (shared / memo / cut):\n" +
        found.mkString("\n"))
  }

  test("the mains cache nothing: sharing is decided where a stage is " +
      "defined") {
    val mains = Seq("Bench", "Verify", "Explain")
      .map(m => new java.io.File(s"src/main/scala/graft/$m.scala"))
    mains.foreach(f => assert(f.isFile, s"missing source file $f"))
    val found = offenders(mains, Seq("Caches.shared(", ".persist(", ".cache()"))
    assert(found.isEmpty,
      "share a stage in its definition (Caches.shared), not in a main:\n" +
        found.mkString("\n"))
  }

  test("a stage shared in its definition is one frame per session, " +
      "persisted once") {
    Caches.releaseAll()
    val stages = Seq[(org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame](
      operators.TextOps.nearCloneShingles, operators.TextOps.minhashSig,
      operators.TextOps.minhashCandidates, operators.TextOps.lmSuffStats,
      operators.TextOps.distinctBigramShingles,
      operators.TextOps.hashedShingles, Tables.charge, Tables.tillTotals,
      Tables.deptSales, operators.Rollup.frame)
    for (stage <- stages) {
      val first = stage(spark, SparkSuite.Sf0001)
      val before = Caches.registered
      val again = stage(spark, SparkSuite.Sf0001)
      assert(again eq first, "a second build returned another frame")
      assert(Caches.registered == before, "a second build registered again")
      assert(cached(first))
    }
    Caches.releaseAll()
  }
}
