package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: times every SparkEntry query at the target
  * scale factor, prints ONE JSON line (and writes the same line to a
  * file — the sbt-stdout handoff lost the line in round 1, so the file
  * is the durable channel). A small untimed warm-up first
  * (JVM/codegen/filesystem init would otherwise be charged entirely to
  * whichever query runs first).
  *
  * Bench caches nothing itself: a stage is shared where it is defined
  * (see [[Caches]]), so Bench times the plans the tests guard.
  *
  * Failure reporting: a query that throws records a NEGATIVE duration
  * (its time-to-failure) and lands in the `errors` array; failed time
  * is excluded from `value`, so a regression can never read as a
  * speedup.
  */
object Bench {

  private val json = new com.fasterxml.jackson.databind.ObjectMapper

  /** `s` as a JSON string literal, control characters escaped. */
  private[graft] def jstr(s: String): String = json.writeValueAsString(s)

  /** The per-query seconds of an artifact's `queries` object, empty
    * when there is none. */
  private[graft] def queriesMap(txt: String): Map[String, Double] =
    Option(json.readTree(txt).get("queries")).toSeq
      .flatMap(_.properties.asScala)
      .map(e => e.getKey -> e.getValue.asDouble).toMap

  /** Fork a fresh JVM running this same Bench main restricted to
    * `names` at `cpus` threads/partitions, and return its per-query
    * medians (the fresh-session numbers the adjudicator records as
    * `isolated`). Empty map on any failure — a missing number is
    * honest; a contaminated one is not. A child median < 0 (the query
    * failed INSIDE the fresh JVM, recorded as time-to-failure) is
    * clamped to the documented -1 sentinel so "fork failed" and "query
    * failed in fork" read identically as not-a-measurement instead of
    * an ambiguous negative duration (ADVICE r13). */
  private def freshSessionTimes(names: Seq[String], sfDir: String,
      cpus: String): Map[String, Double] = {
    var tmpOut: java.nio.file.Path = null
    var tmpLog: java.nio.file.Path = null
    var keepLog = true // kept on failure, deleted on success (ADVICE r13)
    try {
      tmpOut = java.nio.file.Files.createTempFile("graft_adj_", ".json")
      tmpLog = java.nio.file.Files.createTempFile("graft_adj_", ".log")
      val javaBin = java.nio.file.Paths
        .get(System.getProperty("java.home"), "bin", "java").toString
      // replicate this JVM exactly (sbt's forked `run` passes
      // --add-opens, -Xmx, -D flags on the command line) minus agents,
      // which cannot be meaningfully duplicated into a child
      val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.toSeq
        .filterNot(a => a.startsWith("-agentlib") || a.startsWith("-javaagent"))
      val cmd = Seq(javaBin) ++ jvmArgs ++
        Seq("-cp", System.getProperty("java.class.path"), "graft.Bench")
      val pb = new ProcessBuilder(cmd.asJava)
      pb.environment().put("SPARK_GRAFT_ONLY", names.mkString(","))
      pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
      pb.environment().put("SPARK_GRAFT_CPUS", cpus)
      pb.environment().put("SPARK_GRAFT_BENCH_OUT", tmpOut.toString)
      pb.environment().put("SPARK_GRAFT_ADJUDICATE", "0") // no recursion
      // child stdout/stderr must not interleave with the parent's
      // stdout JSON protocol — capture to a log kept on failure
      pb.redirectOutput(tmpLog.toFile)
      pb.redirectErrorStream(true)
      val proc = pb.start()
      val done = proc.waitFor(20, java.util.concurrent.TimeUnit.MINUTES)
      if (!done) {
        proc.destroyForcibly()
        System.err.println(
          s"[bench] adjudication fork timed out; log: $tmpLog")
        return Map.empty
      }
      if (proc.exitValue() != 0) {
        System.err.println(s"[bench] adjudication fork exited " +
          s"${proc.exitValue()}; log: $tmpLog")
        return Map.empty
      }
      val txt = new String(java.nio.file.Files.readAllBytes(tmpOut), "UTF-8")
      val parsed = queriesMap(txt)
        .map { case (k, v) => k -> (if (v < 0) -1.0 else v) }
      keepLog = parsed.isEmpty // empty parse is a failure worth a log
      parsed
    } catch { case t: Throwable =>
      System.err.println(s"[bench] adjudication fork failed: ${t.getMessage}")
      Map.empty
    } finally {
      try {
        if (tmpOut != null) java.nio.file.Files.deleteIfExists(tmpOut)
        if (!keepLog && tmpLog != null)
          java.nio.file.Files.deleteIfExists(tmpLog)
        ()
      } catch { case _: Throwable => () }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = SparkEntry.cpus
    val spark = SparkEntry.session()

    // schema tripwire: report drift loudly but keep benching — a partial
    // bench with a labeled cause beats an empty file (Verify, by
    // contrast, hard-fails in preflight)
    try Contract.violations(spark, sfDir).foreach(v =>
      System.err.println(s"[bench] SCHEMA DRIFT: $v"))
    catch { case t: Throwable =>
      System.err.println(s"[bench] schema preflight failed: ${t.getMessage}") }

    // warm-up (untimed): session init, parquet footer reads, codegen of
    // a representative join+sort+agg pipeline
    try {
      SparkEntry.queries("lim_first")(spark, sfDir).count()
      SparkEntry.queries("fn_gst")(spark, sfDir).count()
    } catch { case _: Throwable => () }

    // profiling aids (driver bench uses the defaults): SPARK_GRAFT_ONLY
    // comma-list restricts the query set; SPARK_GRAFT_REPEAT=N times
    // each query N times (default 3). PROTOCOL (VERDICT r7 #1, amended
    // r10 and r11): after the untimed pre-pass below, each query runs
    // REPEAT timed passes BACK-TO-BACK and the headline per-query
    // second (and `value`, their sum) is the per-query MEDIAN — so a
    // single driver run carries its own variance control instead of
    // comparing one lucky/unlucky pass against a median baseline.
    // r10 showed why: with a single timed pass, trivial one-shuffle
    // aggregates at the front of the pass read 3-5× their baseline
    // (GC/page-cache churn right after 338 untimed executions) and ~19
    // of the 25 flagged "regressions" were this protocol artifact, not
    // code. The min-of-N is emitted ALONGSIDE (`steady_total`,
    // `queries_steady`), never as the headline.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val repeat = sys.env.getOrElse("SPARK_GRAFT_REPEAT", "3").toInt
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // Untimed PRE-PASS of every selected query (VERDICT r9 #5): the
    // two-query warm-up above absorbs session init but not the long
    // JIT/codegen ramp — in driver runs the first ~dozen alphabetical
    // queries read as fake 6–9× regressions (flt_eq4 0.33→2.16 s on a
    // trivial scan) because they pay C2 compilation of the whole
    // scan/shuffle machinery. Running each query once untimed means
    // the timed pass hits Spark's generated-class cache (keyed on the
    // generated source, so the SAME query recompiles nothing) and
    // steady JIT state, symmetrically for baseline recording and
    // driver runs alike — per-query deltas then measure code, not ramp
    // position. Disabled with SPARK_GRAFT_PREPASS=0. A query that
    // throws in the pre-pass is noted once (ADVICE r10) and its timed
    // passes stop at the first failure, so a deterministic breakage
    // costs two time-to-failures, not REPEAT+1.
    val prepass = sys.env.getOrElse("SPARK_GRAFT_PREPASS", "1") == "1"
    if (prepass) selected.foreach { case (name, fn) =>
      try { fn(spark, sfDir).count(); () } catch { case t: Throwable =>
        System.err.println(s"[bench] pre-pass error in $name: " +
          Option(t.getMessage).getOrElse(t.getClass.getName)
            .replaceAll("\\s+", " ").take(200))
      }
    }
    // the shared stages the pre-pass built, under the configured
    // storage ceiling (SPARK_GRAFT_CACHE_BUDGET_MB, VERDICT r10 #6 and
    // r12 #4: the sf10 leg held 8.75 GB of them); no-op without the env
    // var. Caches also enforces it as each stage registers, and an
    // evicted stage stays evicted for the batch.
    val cacheBudgetMb: Long =
      sys.env.get("SPARK_GRAFT_CACHE_BUDGET_MB").map(_.toLong).getOrElse(-1L)
    Caches.enforceBudget(spark)
    // one timed query execution: (seconds [negative = time-to-failure],
    // rows, errMsg)
    def timedPass(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (Double, Long, Option[String]) = {
      val t0 = System.nanoTime()
      try {
        val n = fn(spark, sfDir).count()
        ((System.nanoTime() - t0) / 1e9, n, None)
      } catch { case t: Throwable =>
        (-(System.nanoTime() - t0) / 1e9, -1L,
          Some(Option(t.getMessage).getOrElse(t.getClass.getName)
            .replaceAll("\\s+", " ").take(300)))
      }
    }
    def medianOf(good: Seq[Double]): Double = {
      val s = good.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    // (name, medianSec [negative = time-to-failure], steadySec, firstErr,
    //  rowsOut [-1 = never succeeded])
    val results = selected
      .map { case (name, fn) =>
        var firstErr: Option[String] = None
        var rowsOut = -1L
        val secs = scala.collection.mutable.ArrayBuffer.empty[Double]
        var pass = 0
        var broken = false
        while (pass < repeat && !broken) {
          val (sec, n, err) = timedPass(fn)
          // keep the FIRST message: r6's 46-query outage was opaque
          // precisely because the exception was discarded here
          if (err.isDefined && firstErr.isEmpty) firstErr = err
          if (n >= 0) rowsOut = n
          secs += sec
          // a failure before any success is deterministic breakage —
          // don't pay time-to-failure REPEAT times. A failure AFTER a
          // success (transient) also stops the loop but the successes
          // already recorded keep the query out of `errors`.
          if (sec < 0) broken = true
          pass += 1
        }
        val good = secs.filter(_ >= 0)
        val steady = if (good.nonEmpty) good.min else secs.min
        // headline = median of the successful timed passes; negative
        // (time-to-failure) only when NO pass succeeded, so `queries`,
        // `value` and `errors` can never contradict each other
        val median = if (good.isEmpty) secs.min else medianOf(good.toSeq)
        (name, median, steady, firstErr, rowsOut)
      }

    // ── self-adjudication (VERDICT r11 #1, fresh-session r12 #1) ───────
    // Four rounds running, driver-artifact per-query flags (r10: 25,
    // r11: 3, r12: 4) dissolved on the judge's ISOLATED re-measure —
    // the flags were contention inside the 346-query sweep
    // (GC/page-cache churn), not code. Adjudicate here: any query
    // reading >2x its BENCH_BASELINE entry (and >0.5s absolute over —
    // bench_guard's floors) is RE-TIMED in a FORKED FRESH JVM (see
    // freshSessionTimes), same median-of-REPEAT protocol. The artifact
    // records both numbers plus the run's host factor (median cur/base
    // ratio over stable baselines — bench_guard's estimator), so a >2x
    // row is self-explaining data, not judge archaeology. Skipped when
    // the baseline's sf differs from this run's (a scale leg measured
    // against an sf0.1 baseline would "flag" every query).
    val baselinePath = sys.env.getOrElse("SPARK_GRAFT_BASELINE",
      "/root/repo/BENCH_BASELINE.json")
    // the baseline's recorded execution environment (VERDICT r13 #1):
    // streaming state-store fixed cost scales with partition count
    // (judge: stream_join_feed 2.25 s @4 cpus vs 6.34 s @32, same
    // JVM/code/data), so a cpus-mismatched comparison measures the
    // environment, not the code. -1 = baseline predates the field.
    var baselineCpus: String = null
    val baseline: Map[String, Double] = try {
      val txt = java.nio.file.Files.readString(
        java.nio.file.Paths.get(baselinePath))
      val root = json.readTree(txt)
      baselineCpus = Option(root.get("cpus")).map(_.asText).orNull
      val sfOk = Option(root.get("sf")).exists(_.asText == sfDir)
      if (!sfOk) Map.empty else queriesMap(txt)
    } catch { case _: Throwable => Map.empty }
    val hostFactor: Double = {
      val ratios = results.collect { case (n, sec, _, _, _)
        if sec >= 0 && baseline.get(n).exists(_ >= 0.2) =>
        sec / baseline(n)
      }.sorted
      if (ratios.isEmpty) 1.0 else math.max(1.0, ratios(ratios.size / 2))
    }
    // FRESH-SESSION adjudication (VERDICT r12 #1): r11's in-JVM re-time
    // (System.gc + 500 ms settle) was still sweep-contaminated — shared
    // caches resident, 346×4 executions of page-cache/JIT/checkpoint
    // history behind it; BENCH_r12 recorded stream_join_feed "isolated"
    // 6.23 s where a fresh JVM measures 2.11 s. The only uncontaminated
    // re-measure is the judge's own protocol: a FORKED fresh JVM running
    // this same main restricted to the flagged set (same warm-up, same
    // pre-pass, same median-of-REPEAT), its
    // per-query medians read back from its artifact file. The fork
    // reuses this JVM's exact flags and classpath, so the child differs
    // in exactly one variable: no sweep behind it. SPARK_GRAFT_ADJUDICATE=0
    // in the child stops recursion; a fork that fails or times out
    // records isolated = -1 (loudly, on stderr) rather than shipping a
    // number measured in the wrong environment.
    val flagged: Seq[(String, Double)] = results
      .collect { case (name, sec, _, _, _)
        if sec >= 0 && baseline.get(name)
          .exists(b => sec > 2 * b && sec > b + 0.5) => (name, sec) }
    val adjudicate = sys.env.getOrElse("SPARK_GRAFT_ADJUDICATE", "1") == "1"
    // Drop the parent's shared cached stages BEFORE forking (ADVICE
    // r13): the parent holds up to the full shared-stage footprint
    // (8.75 GB observed at sf10) while the child starts with the same
    // -Xmx — concurrent peak would otherwise ~double and the child can
    // be measured under host memory pressure, the exact contamination
    // the fresh-JVM re-measure exists to remove. Everything after this
    // point only formats the already-collected results. The batch-end
    // storage footprint is measured FIRST — releasing would zero it.
    val storageMem = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum
    val cacheEvicted = Caches.evictions
    if (cacheEvicted > 0) System.err.println(
      s"[bench] cache budget evicted $cacheEvicted shared stage(s)")
    if (flagged.nonEmpty && adjudicate) {
      Caches.releaseAll()
      try spark.catalog.clearCache() catch { case _: Throwable => () }
    }
    val isolated: Map[String, Double] =
      if (flagged.isEmpty || !adjudicate) Map.empty
      else freshSessionTimes(flagged.map(_._1), sfDir, cpus)
    // When the baseline was recorded at a DIFFERENT cpu count, an
    // isolated re-time in THIS run's environment still can't clear an
    // environment-driven flag (r13: the fork faithfully reproduced the
    // 32-vs-4 mismatch). Re-time once more at the baseline's recorded
    // cpus so the artifact carries a genuinely like-for-like number.
    val isolatedBaseEnv: Map[String, Double] =
      if (flagged.isEmpty || !adjudicate || baselineCpus == null ||
          baselineCpus == cpus) Map.empty
      else freshSessionTimes(flagged.map(_._1), sfDir, baselineCpus)
    val adjudicated: Seq[(String, Double, Double, Double)] =
      if (!adjudicate) Seq.empty
      else flagged.map { case (name, sec) =>
        (name, sec, isolated.getOrElse(name, -1.0), baseline(name))
      }
    val qs = results.map { case (k, v, _, _, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val qsSteady = results.map { case (k, _, v, _, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // rows_out (VERDICT r11 #3): output cardinality per query, so a
    // scale leg's >10x wall ratios carry their output ratios as data
    // (sim_range_search x43 wall at x417 rows was judge archaeology in
    // r11) — the count is free, it IS the benched action
    val rowsOut = results.map { case (k, _, _, _, n) => "\"" + k + "\":" + n }
      .mkString("{", ",", "}")
    // error = NO repeat succeeded (steady < 0) — under REPEAT=1 this is
    // the first (only) pass, matching the driver's read of `queries`
    val errors = results.filter(_._3 < 0).map(r => "\"" + r._1 + "\"")
      .mkString("[", ",", "]")
    val errorMsgs = results.collect { case (k, _, _, Some(m), _) => "\"" + k + "\":" + jstr(m) }
      .mkString("{", ",", "}")
    def f3(v: Double) = String.format(java.util.Locale.ROOT, "%.3f", v)
    val adjJson = adjudicated.map { case (k, c, i, b) =>
      val baseEnv = isolatedBaseEnv.get(k)
        .map(v => s""","isolated_base_env":${f3(v)}""").getOrElse("")
      "\"" + k + s"""\":{"contended":${f3(c)},"isolated":${f3(i)}$baseEnv,"baseline":${f3(b)}}"""
    }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val steadyTotal = results.map(_._3).filter(_ >= 0).sum
    val warmth = if (prepass) "prewarmed" else "cold"
    val protocol =
      if (repeat == 1) s"$warmth-single-pass"
      else s"$warmth-median-of-$repeat"
    // storageMem (the batch-end shared-cache footprint) and
    // cacheEvicted were captured above, before the pre-fork release
    // execution environment (VERDICT r13 #1): cpus/shuffle partitions/
    // master are the axis that manufactured five rounds of streaming
    // false-flags (baseline @4 cpus vs sweeps @32) — every artifact
    // now records them so bench_guard can refuse mismatched compares
    val envJson =
      s""""cpus":"$cpus","shuffle_partitions":"$cpus","master":"local[$cpus]","state_store":"hdfs","baseline_cpus":${if (baselineCpus == null) "null" else "\"" + baselineCpus + "\""}"""
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","protocol":"$protocol",$envJson,"steady_total":$steadyTotal,"queries":$qs,"queries_steady":$qsSteady,"rows_out":$rowsOut,"host_factor":${f3(hostFactor)},"adjudicated":$adjJson,"adjudication":"fresh-jvm","errors":$errors,"error_msgs":$errorMsgs,"storage_mem_bytes":$storageMem,"cache_budget_mb":$cacheBudgetMb,"cache_evicted":$cacheEvicted,"sf":"$sfDir"}"""
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "/root/repo/BENCH_LOCAL.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out), line)
    catch { case _: Throwable => () }
    // per-run-named copy (VERDICT r14 #1/#2): the r14 driver's 8-cpu
    // scaling run OVERWROTE the 32-cpu run's BENCH_LOCAL.json, losing
    // the full-sweep per-query map and its host_factor — the evidence
    // needed to apportion a 232-vs-152 s gap between host load and
    // code. A cpus-suffixed sibling survives same-session runs at
    // different core counts; the unsuffixed path stays the contract.
    try {
      val byCpu =
        if (out.endsWith(".json")) out.dropRight(5) + s"_c$cpus.json"
        else out + s"_c$cpus"
      java.nio.file.Files.writeString(java.nio.file.Paths.get(byCpu), line)
      ()
    } catch { case _: Throwable => () }
    // batch done — release every session-shared persisted stage
    // (Caches scaladoc: releasing between repeats would defeat the
    // steady-state sharing, so the release lives HERE, not per query)
    Caches.releaseAll()
    // Stop Spark BEFORE printing so no shutdown log lines land between
    // the JSON and process exit; then emit the full JSON followed by a
    // short greppable total — the driver's tail capture truncated the
    // long line's head in rounds 1-2, so the short line is the durable
    // stdout channel (BENCH_LOCAL.json stays the durable file channel).
    spark.stop()
    println(line)
    println(s"BENCH_TOTAL_SEC=$total")
    // The driver keeps only the last ~2000 stdout chars and JSON-parses a
    // line from that window; the full line above is ~3.3k chars, so its
    // head is always cut. Emit a LAST line that is a complete, parseable
    // JSON summary small enough to fit in the window: total + the slowest
    // queries (3 decimals) + a pointer to the full per-query file.
    val slowest = results.filter(_._2 >= 0).sortBy(-_._2).take(20)
    val qsCompact = slowest
      .map { case (k, v, _, _, _) => "\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    // Self-adjudicating summary fields (VERDICT r14 #1/#2): the driver
    // keeps only this tail line, and its r14 PERF diff was structurally
    // top-20-overlap — 9 improvements read as "dropped", 8 contention-
    // inflated rows as "new", and the geomean covered an 11-query
    // intersection. Carry the FULL-REGISTRY comparison and the run's
    // host diagnosis in the compact line itself so a driver tail alone
    // distinguishes host load from code regression:
    //   vs_baseline_total   Σnow / Σbaseline over every query present
    //                       in both (same sf enforced above); -1 unless
    //                       the baseline was recorded at this run's cpus
    //   vs_baseline_geomean geometric mean of per-query now/baseline,
    //                       same cpus condition
    //   n_flagged           queries >2x baseline (+0.5s floor) this run
    //   n_isolated_at_base  flagged queries whose fresh-JVM re-time
    //                       clears the same threshold (= host noise);
    //                       -1 when adjudication is off
    val common = results.collect { case (n, sec, _, _, _)
      if sec >= 0 && baseline.get(n).exists(_ > 0) => (sec, baseline(n)) }
    val comparable = common.nonEmpty && baselineCpus == cpus
    val vsBaseTotal =
      if (!comparable) -1.0 else common.map(_._1).sum / common.map(_._2).sum
    val vsBaseGeo =
      if (!comparable) -1.0
      else math.exp(common.map(c => math.log(c._1 / c._2)).sum / common.size)
    val nIsolatedAtBase =
      if (!adjudicate) -1
      else adjudicated.count { case (_, _, iso, b) =>
        iso >= 0 && !(iso > 2 * b && iso > b + 0.5) }
    println(s"""{"metric":"total","value":${f3(total)},"unit":"sec","protocol":"$protocol","cpus":"$cpus","steady_total":${f3(steadyTotal)},"host_factor":${f3(hostFactor)},"vs_baseline_total":${f3(vsBaseTotal)},"vs_baseline_geomean":${f3(vsBaseGeo)},"n_baseline_common":${common.size},"n_flagged":${flagged.size},"n_isolated_at_base":$nIsolatedAtBase,"queries":$qsCompact,"n_queries":${results.size},"queries_full":"$out","errors":$errors,"sf":"$sfDir"}""")
    System.out.flush()
  }
}
