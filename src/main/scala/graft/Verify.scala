package graft
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [queryName...]")
    val (sfDir, outDir) = (args(0), args(1))
    // optional trailing names: dev-loop filter (driver passes none); an
    // unknown name must fail loudly — a typo would otherwise verify
    // nothing and read as "0 ok, 0 fail" green
    val only = args.drop(2).toSet
    val unknown = only.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.mkString(", ")}")
    val spark = SparkEntry.session()
    // schema tripwire (VERDICT r6 #2): drift = one labeled failure here,
    // not N opaque per-query analysis errors below
    Contract.preflight(spark, sfDir)
    // the char≡byte invariant the mm-family oracles rest on
    Contract.asciiPreflight(spark, sfDir)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson(
      SparkEntry.oracleSql.filter { case (k, _) => only.isEmpty || only(k) }))
    Caches.releaseAll() // release the queries' session-shared persists
    spark.stop()
  }

  /** oracle_sql.json: query name → DuckDB SQL, written by Jackson, which
    * escapes quotes, backslashes and every control character — a tab or
    * CR in a query's SQL would otherwise make the file unparseable and
    * silently drop every oracle comparison. */
  def oracleJson(sql: Map[String, String]): String =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValueAsString(new java.util.TreeMap[String, String](sql.asJava))
}
