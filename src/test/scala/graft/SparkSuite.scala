package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, forked by sbt). */
object SparkSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.plans.Functions.registerAll(s)
    s
  }
  val Sf0001 = "/root/testdata/sf0.001"
  val Sf001 = "/root/testdata/sf0.01"

  /** Deterministic scalacheck sampling (seed = index) — shared by every
    * property suite so the seeding scheme can't silently diverge. */
  def samples[A](g: org.scalacheck.Gen[A], n: Int,
      seedOffset: Long = 0L): Seq[A] =
    (0 until n).flatMap(i =>
      g.apply(org.scalacheck.Gen.Parameters.default,
        org.scalacheck.rng.Seed(seedOffset + i)))
}

abstract class SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.spark

  /** Runs `body` with `spark.sql.shuffle.partitions = parts` and AQE's
    * partition coalescing off (so the count is what runs), restoring
    * both settings afterwards. */
  def withShufflePartitions[T](parts: Int)(body: => T): T = {
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.adaptive.coalescePartitions.enabled")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set(keys(0), parts.toLong)
    spark.conf.set(keys(1), false)
    try body finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
