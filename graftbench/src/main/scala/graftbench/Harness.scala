package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.graftbench.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.{Caches, Contract, SparkEntry}

/** One benchmark run in a fresh JVM. `run.py` chooses the queries and
  * their order from the seed; this side times them and writes raw
  * measurements as JSON. All statistics are computed in `run.py`.
  *
  * Layers are timed from outside, at graft's public entry points:
  * build = `SparkEntry.queries(name)(spark, dir)`, planning =
  * `df.queryExecution.executedPlan`, execution = a full materialisation
  * through the `noop` sink. With `--trace 1` a SparkListener and a
  * StreamingQueryListener count work per layer; the listener bus is
  * drained at every layer boundary, outside the timed intervals.
  *
  * Args: --data DIR --queries a,b,c|* --passes N
  * --cpus C --trace 0|1 --out FILE, and optionally
  * --dump DIR, which also writes every checked result as parquet plus
  * oracle_sql.json, the layout tools/oracle_check.py reads.
  */
object Harness {

  def main(args: Array[String]): Unit = {
    val jvmStartAgo =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val mainT0 = System.nanoTime()
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val dir = opt("data")
    val names =
      if (opt("queries") == "*") SparkEntry.allNames.sorted
      else opt("queries").split(",").toSeq
    val warmPasses = opt("passes").toInt
    val cpus = opt("cpus")
    val trace = opt("trace") == "1"
    val registry = SparkEntry.queries
    val unknown = names.filterNot(registry.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")

    // set-up, timed from JVM start
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.plans.Functions.registerAll(spark)
    val t1 = System.nanoTime()
    Contract.preflight(spark, dir)
    val t2 = System.nanoTime()
    val beforeMain = jvmStartAgo + (t0 - mainT0) / 1e9
    val setup = Json.obj(
      "total_s" -> (beforeMain + (t2 - t0) / 1e9),
      "session_s" -> (beforeMain + (t1 - t0) / 1e9),
      "preflight_s" -> (t2 - t1) / 1e9)
    val sc = spark.sparkContext
    val counters = if (trace) Some(new Counters) else None
    counters.foreach { c =>
      sc.addSparkListener(c.spark)
      spark.streams.addListener(c.streaming)
    }

    // One execution of one query. Returns a per-query trace row.
    def execute(name: String, pass: Int): Json = {
      val fields = scala.collection.mutable.LinkedHashMap[String, Any](
        "name" -> name, "pass" -> pass)
      def snap(): Map[String, Long] = counters.map { c =>
        BusDrain(sc); c.snapshot()
      }.getOrElse(Map.empty)
      val jvm0 = if (trace) Jvm.sample() else Map.empty[String, Double]
      try {
        val c0 = snap()
        val t0 = System.nanoTime()
        val df = registry(name)(spark, dir)
        val t1 = System.nanoTime()
        val c1 = snap()
        val t2 = System.nanoTime()
        val plan = df.queryExecution.executedPlan
        val t3 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val t4 = System.nanoTime()
        val c2 = snap()
        fields ++= Seq("build_s" -> (t1 - t0) / 1e9, "plan_s" -> (t3 - t2) / 1e9,
          "exec_s" -> (t4 - t3) / 1e9, "total_s" -> ((t1 - t0) + (t4 - t2)) / 1e9)
        if (trace) {
          fields ++= c1.map { case (k, v) => s"build.$k" -> (v - c0(k)) }
          fields ++= c2.map { case (k, v) => s"exec.$k" -> (v - c1(k)) }
          fields ++= Plans.counts(plan)
          val jvm1 = Jvm.sample()
          fields ++= jvm1.map { case (k, v) => k -> (v - jvm0(k)) }
        }
      } catch { case t: Throwable => fields += "error" -> message(t) }
      Json.obj(fields.toSeq: _*)
    }

    val rows = Seq.newBuilder[Json]
    val passes = Seq.newBuilder[Json]
    def pass(p: Int): Double = {
      val host0 = Jvm.host()
      val jvm0 = Jvm.sample()
      val t0 = System.nanoTime()
      names.foreach(n => rows += execute(n, p))
      val wall = (System.nanoTime() - t0) / 1e9
      val jvm1 = Jvm.sample()
      val host1 = Jvm.host()
      passes += Json.obj((Seq[(String, Any)]("pass" -> p, "wall_s" -> wall) ++
        jvm1.map { case (k, v) => k -> (v - jvm0(k)) } ++
        host1.map { case (k, v) => k -> (v - host0(k)) }): _*)
      wall
    }
    // pass 0 is the cold first pass; --passes warm passes follow
    val firstPass = pass(0)
    (1 to warmPasses).foreach(pass)
    val cacheBytes = Caches.storageBytes(spark)
    val cacheStages = sc.getRDDStorageInfo.count(_.isCached)
    counters.foreach { c =>
      BusDrain(sc)
      sc.removeSparkListener(c.spark)
      spark.streams.removeListener(c.streaming)
    }

    // untimed correctness step: row count and order-insensitive hash
    val dump = opt.get("dump")
    val check = names.map { n =>
      n -> (try {
        val df = registry(n)(spark, dir)
        val (count, hash) = ResultHash(df.collect())
        dump.foreach(d => df.coalesce(1).write.mode("overwrite").parquet(s"$d/$n"))
        Json.obj("rows" -> count, "hash" -> hash)
      } catch { case t: Throwable => Json.obj("error" -> message(t)) })
    }

    dump.foreach { d =>
      val sql = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
      Files.writeString(Paths.get(d, "oracle_sql.json"),
        Json.obj(sql.toSeq.sortBy(_._1): _*).render)
    }
    val out = Json.obj(
      "setup" -> setup,
      "first_pass_s" -> firstPass,
      "warm_passes" -> warmPasses,
      "passes" -> passes.result(),
      "queries" -> rows.result(),
      "check" -> Json.obj(check: _*),
      "cache_bytes" -> cacheBytes,
      "cache_stages" -> cacheStages,
      "heap_max_bytes" -> Runtime.getRuntime.maxMemory,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"))
    Files.writeString(Paths.get(opt("out")), out.render)
    Caches.releaseAll()
    spark.stop()
  }

  private def message(t: Throwable): String =
    Option(t.getMessage).getOrElse(t.getClass.getName).replaceAll("\\s+", " ").take(300)

  /** Counters fed by the listeners; read only after a bus drain. */
  final class Counters {
    private val c = Seq("jobs", "stages", "tasks", "task_ms", "shuffle_write_bytes",
      "spill_bytes", "input_bytes", "output_bytes", "batches", "input_rows",
      "add_batch_ms", "commit_ms").map(_ -> new AtomicLong).toMap
    // last reported state size per streaming run; folded into the
    // counters when the run terminates
    private val lastState = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, (Long, Long)]
    private val stateRows = new AtomicLong
    private val stateBytes = new AtomicLong

    def snapshot(): Map[String, Long] =
      c.map { case (k, v) => k -> v.get } ++
        Map("state_rows" -> stateRows.get, "state_bytes" -> stateBytes.get)

    val spark: SparkListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = c("jobs").incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        c("stages").incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        c("tasks").incrementAndGet()
        val m = e.taskMetrics
        if (m != null) {
          c("task_ms").addAndGet(m.executorRunTime)
          c("shuffle_write_bytes").addAndGet(m.shuffleWriteMetrics.bytesWritten)
          c("spill_bytes").addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
          c("input_bytes").addAndGet(m.inputMetrics.bytesRead)
          c("output_bytes").addAndGet(m.outputMetrics.bytesWritten)
        }
      }
    }

    val streaming: StreamingQueryListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        c("batches").incrementAndGet()
        c("input_rows").addAndGet(p.numInputRows)
        val d = p.durationMs
        c("add_batch_ms").addAndGet(Option(d.get("addBatch")).map(_.longValue).getOrElse(0L))
        c("commit_ms").addAndGet(Seq("walCommit", "commitOffsets")
          .flatMap(k => Option(d.get(k))).map(_.longValue).sum)
        lastState.put(p.runId, (p.stateOperators.map(_.numRowsTotal).sum,
          p.stateOperators.map(_.memoryUsedBytes).sum))
      }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        Option(lastState.remove(e.runId)).foreach { case (r, b) =>
          stateRows.addAndGet(r); stateBytes.addAndGet(b)
        }
    }
  }

  /** Plan fingerprint of an executed plan, subqueries included. */
  object Plans {
    def counts(plan: SparkPlan): Seq[(String, Any)] = {
      val nodes = all(plan)
      Seq("exchanges" -> nodes.count(_.isInstanceOf[Exchange]),
        "cache_scans" -> nodes.count(_.isInstanceOf[InMemoryTableScanExec]))
    }
    private def all(p: SparkPlan): Seq[SparkPlan] = p.collectWithSubqueries {
      case n => n
    }.flatMap {
      case a: AdaptiveSparkPlanExec => all(a.executedPlan)
      case n => Seq(n)
    }
  }

  /** Process and host counters, as cumulative values. */
  object Jvm {
    private val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def sample(): Map[String, Double] = Map(
      "cpu_s" -> os.getProcessCpuTime / 1e9,
      "gc_s" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).sum / 1e3,
      "jit_s" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3)
    /** Steal time of the whole host from /proc/stat (USER_HZ = 100). */
    def host(): Map[String, Double] = {
      val steal = try {
        val cpu = Files.readAllLines(Paths.get("/proc/stat")).asScala.head
          .trim.split("\\s+")
        cpu(8).toDouble / 100.0
      } catch { case _: Throwable => 0.0 }
      Map("steal_s" -> steal)
    }
  }

  /** Row count and an order-insensitive hash of a result. Doubles are
    * compared to 10 significant digits, so a reordered floating-point
    * sum does not read as a different result. */
  object ResultHash {
    def apply(rows: Array[Row]): (Long, String) = {
      var acc = 0L
      rows.foreach { r =>
        val s = norm(r)
        val h = (scala.util.hashing.MurmurHash3.stringHash(s, 0x3c074a61).toLong << 32) ^
          (scala.util.hashing.MurmurHash3.stringHash(s, 0x5bd1e995).toLong & 0xffffffffL)
        acc += h
      }
      (rows.length.toLong, f"$acc%016x")
    }
    def norm(v: Any): String = v match {
      case null => "null"
      case d: Double =>
        if (d.isNaN || d.isInfinite) d.toString
        else if (d == 0.0) "0"
        else String.format(java.util.Locale.ROOT, "%.9e", Double.box(d))
      case f: Float => norm(f.toDouble)
      case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
      case b: scala.math.BigDecimal => norm(b.bigDecimal)
      case r: Row => r.toSeq.map(norm).mkString("(", ",", ")")
      case a: Array[Byte] => java.util.Base64.getEncoder.encodeToString(a)
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => norm(k) + "->" + norm(x) }.sorted.mkString("{", ",", "}")
      case s: scala.collection.Seq[_] => s.map(norm).mkString("[", ",", "]")
      case o => o.toString
    }
  }
}

/** Minimal JSON writer for the run's raw measurements. */
final case class Json(render: String)
object Json {
  def obj(kv: (String, Any)*): Json =
    Json(kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}"))
  private def value(v: Any): String = v match {
    case j: Json => j.render
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n @ (_: Int | _: Long) => n.toString
    case b: Boolean => b.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case o => str(o.toString)
  }
  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
