package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Empirical naive-vs-skew-safe comparison (VERDICT r11 #4): times each
  * skew-mitigation kernel against its NAIVE form on a given sf dir —
  * meant to run on the `--skew` testdata (tools/gen_sf.py), the first
  * data that actually carries a hot join key, a giant day and a
  * celebrity user. Until r12 the salted/distributed twins were proven
  * correct by spec fixtures but never MEASURED against real skew.
  *
  * Probes (each timed prewarmed median-of-3, result rows counted so
  * both forms provably compute the same answer):
  *   - join:     lineitem ⋈ part on the hot l_partkey — plain shuffle
  *               join vs [[operators.Skew.saltedJoin]] ×16. Broadcast is
  *               disabled for BOTH sides (the salted shape exists for
  *               dims too big to broadcast) and AQE's skew-join
  *               mitigation is left ON for the naive side — the probe
  *               measures the salting against Spark's own best effort,
  *               not against a strawman.
  *   - distinct: per-day COUNT(DISTINCT user_id) over events (giant
  *               day + celebrity user) — single-shot groupBy vs the
  *               hash-salted two-phase form (agg_skew_distinct's shape).
  *   - rank:     global row_number over events (value, event_id) — the
  *               partition-less Window (one task holds the corpus) vs
  *               [[operators.Ranking.globalRowNumber]]'s range-
  *               partition + zipWithIndex, sized by this probe's
  *               session (shuffle partitions = cpus, AQE coalescing).
  *
  * Prints ONE JSON line and writes it to SPARK_GRAFT_PROBE_OUT
  * (default /root/repo/SKEWPROBE.json).
  */
object SkewProbe {

  private def time3(f: () => Long): (Double, Long) = {
    f() // warm-up (untimed)
    val runs = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      val n = f()
      ((System.nanoTime() - t0) / 1e9, n)
    }
    (runs.map(_._1).sorted.apply(1), runs.head._2)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/repo/testdata_skew")
    val cpus = SparkEntry.cpus
    // the salted-join scenario: a dimension too big to broadcast
    val spark = SparkEntry.session("spark.sql.autoBroadcastJoinThreshold" -> "-1")

    val li = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_partkey", "l_quantity")
    val part = Tables.part(spark, sfDir).select("p_partkey", "p_retailprice")
      .withColumnRenamed("p_partkey", "l_partkey")
    def joinNaive(): Long =
      li.join(part, Seq("l_partkey")).count()
    def joinSalted(): Long =
      operators.Skew.saltedJoin(li, part, "l_partkey", 16).count()
    // STATIC-planned variants: AQE's skew-join split is a runtime
    // re-plan — available on Spark, absent on engines/statics that plan
    // once. Disabling it measures the world explicit salting exists
    // for; the AQE-on naive run is kept alongside so the artifact also
    // shows Spark's own mitigation (an honest probe beats a strawman).
    def static[T](f: () => T): () => T = () => {
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
      try f() finally
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    }

    // sum-based result extraction everywhere below: a bare count() lets
    // Catalyst PRUNE the unused window/aggregate expression and the
    // probe would time a plan that never does the skewed work; summing
    // the computed column both forces it and proves the two forms
    // compute the same answer. (Exception: for the RANK probe a plain
    // sum(rn) is n(n+1)/2 under ANY permutation — see the
    // order-sensitive checksum at the probe itself, ADVICE r12.)
    val ev = Tables.events(spark, sfDir)
      .select(col("ts").cast("date").as("day"), col("user_id"))
    def distinctNaive(): Long =
      ev.groupBy("day").agg(count_distinct(col("user_id")).as("nd"))
        .agg(sum("nd")).head.getLong(0)
    def distinctSalted(): Long =
      ev.withColumn("__salt", pmod(hash(col("user_id")), lit(16)))
        .groupBy(col("day"), col("__salt"))
        .agg(count_distinct(col("user_id")).as("__pd"))
        .groupBy("day").agg(sum("__pd").as("nd"))
        .agg(sum("nd")).head.getLong(0)

    val ranked = Tables.events(spark, sfDir).select("value", "event_id")
    // order-SENSITIVE checksum (ADVICE r12): sum(rn) is n(n+1)/2 under
    // ANY permutation, so require(rn == rs) on it only verified
    // cardinality. sum((rn · event_id) mod p) discriminates orderings —
    // the two forms agree iff each event_id carries the same rank
    // (modulo p-collisions conspiring across millions of rows, which
    // would require a systematic rank permutation preserving the sum —
    // not a failure mode either implementation can produce silently).
    // (value, event_id) is a TOTAL order (event_id unique), so both
    // rankings are deterministic and comparable. The mod keeps every
    // term < 1e9 so the running sum stays far from int64 overflow.
    val rankChecksum = sum(pmod(col("rn").cast("long") * col("event_id"),
      lit(1000000007L)))
    def rankNaive(): Long = {
      import org.apache.spark.sql.expressions.Window
      ranked.withColumn("rn", row_number().over(
          Window.orderBy("value", "event_id")))
        .agg(rankChecksum).head.getLong(0)
    }
    def rankDist(): Long =
      operators.Ranking.globalRowNumber(ranked, Seq("value", "event_id"))
        .withColumn("rn", col("row_num"))
        .agg(rankChecksum).head.getLong(0)

    // the registered giant-group twins: one window task sorts a whole
    // hot group (agg_winsorized) vs zero-Window distributed ranks
    // (agg_winsorized_dist) — both 3-row outputs over the same data
    def winsorizeNaive(): Long =
      SparkEntry.queries("agg_winsorized")(spark, sfDir).count()
    def winsorizeDist(): Long =
      SparkEntry.queries("agg_winsorized_dist")(spark, sfDir).count()

    // crossover scan: the fixture's 25% hot key loses to naive locally
    // (the salted dim replication costs more than the straggler saves
    // when the whole join is ~1 s) — derive hotter keys from the same
    // data to find where salting starts paying. At cluster scale the
    // crossover moves far left: the hot task doesn't just straggle, it
    // spills/OOMs, which a local[n] probe cannot exhibit.
    def hotter(pct: Int): (() => Long, () => Long) = {
      val li2 = li.withColumn("l_partkey",
        when(pmod(col("l_orderkey"), lit(100)) < pct, lit(0L))
          .otherwise(col("l_partkey")))
      (static(() => li2.join(part, Seq("l_partkey")).count()),
        static(() =>
          operators.Skew.saltedJoin(li2, part, "l_partkey", 16).count()))
    }
    val (hot50n, hot50s) = hotter(50)
    val (hot75n, hot75s) = hotter(75)

    def f3(v: Double) = String.format(java.util.Locale.ROOT, "%.3f", v)
    val probes = Seq(
      ("join_aqe", joinNaive _, joinSalted _),
      ("join_static", static(joinNaive _), static(joinSalted _)),
      ("join_static_hot50", hot50n, hot50s),
      ("join_static_hot75", hot75n, hot75s),
      ("distinct", distinctNaive _, distinctSalted _),
      ("rank", rankNaive _, rankDist _),
      ("winsorize", winsorizeNaive _, winsorizeDist _))
    val body = probes.map { case (name, naive, safe) =>
      val (tn, rn) = time3(naive)
      val (ts, rs) = time3(safe)
      require(rn == rs, s"$name: naive rows $rn != skew-safe rows $rs")
      s""""$name":{"naive_sec":${f3(tn)},"safe_sec":${f3(ts)},"speedup":${f3(tn / ts)},"rows":$rn}"""
    }.mkString(",")
    val line = s"""{"probes":{$body},"sf":"$sfDir","cpus":$cpus}"""
    val out = sys.env.getOrElse("SPARK_GRAFT_PROBE_OUT",
      "/root/repo/SKEWPROBE.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out), line)
    catch { case _: Throwable => () }
    spark.stop()
    println(line)
  }
}
