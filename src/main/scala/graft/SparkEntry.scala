package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{Analytics, Api, Docs, Fuzzy, Graph, Insights, Inventory, Layout, Multimodal, Relational, Rollup, Scalars, Selection, Shapes, Sketches, Skew, Temporal, TextOps, Vectors}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Every implemented operator from SURVEY.md §2 registers one `Q` in a
  * module below; this object only concatenates them.
  */
object SparkEntry {

  private lazy val all: Seq[Q] =
    Relational.queries ++ Shapes.queries ++ Scalars.queries ++
      Rollup.queries ++ TextOps.queries ++ Vectors.queries ++
      Multimodal.queries ++ Api.queries ++ Inventory.queries ++ Docs.queries ++
      Temporal.queries ++ Graph.queries ++ Sketches.queries ++ Layout.queries ++
      Analytics.queries ++ Fuzzy.queries ++ Skew.queries ++
      Insights.queries ++ Selection.queries

  /** Flagship query (the DD daily rollup, SURVEY §3.3) on sf0.001;
    * driver smoke-checks rows > 0. */
  def entry(spark: SparkSession): DataFrame =
    queries("dd_rollup")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.run).toMap

  /** All registered names INCLUDING duplicates (test guard: the map
    * above would silently drop a colliding entry). */
  def allNames: Seq[String] = all.map(_.name)

  /** For each key in `queries`, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops
    * (driver records a weaker rows-only check). */
  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(sql => q.name -> sql)).toMap

  /** `SPARK_GRAFT_CPUS` (default 4): the mains' local threads and batch
    * shuffle partitions. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** The session every main runs on: `local[cpus]`, `cpus` shuffle
    * partitions, UTC, no UI, WARN logging and graft's functions
    * registered, plus the main's own `conf`. */
  def session(conf: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    conf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.Functions.registerAll(spark)
    spark
  }
}
