package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{broadcast, col, count, lit, min}
import org.apache.spark.sql.types.LongType

/** Scale-safe global ordering primitives.
  *
  * `row_number() OVER (ORDER BY k)` with no PARTITION BY funnels the
  * whole dataset through ONE task — a hard scale-killer at 100 TB. The
  * distributed equivalent: range-repartition on the key (so partition i
  * holds a contiguous key range, all ranges ordered), sort within each
  * partition, then add per-partition offsets to partition-local indexes.
  * `zipWithIndex` does exactly that offset computation: one lightweight
  * count pass over the partitions, then a fully parallel index pass —
  * two linear scans, no single-task stage, deterministic output
  * identical to the global window. The range exchange takes no count:
  * the session's `spark.sql.shuffle.partitions` bounds a task at about
  * corpus/shufflePartitions rows, and AQE coalesces neighbouring
  * ranges to the shuffled bytes (a tiny input runs as one task, by
  * design). Coalesced ranges stay contiguous and are sorted after the
  * coalesce, so the ranks are the same for any partition count.
  */
object Ranking {

  /** Global 1-based row number ordered by `key` (which must be unique
    * for a deterministic result), appended as column `row_num`. */
  def globalRowNumber(df: DataFrame, key: String): DataFrame =
    globalRowNumber(df, Seq(key))

  /** Composite-key form: ordered by `keys` lexicographically; the TUPLE
    * must be unique for a deterministic result. */
  def globalRowNumber(df: DataFrame, keys: Seq[String]): DataFrame = {
    val spark = df.sparkSession
    val ranked = df.repartitionByRange(keys.map(col): _*)
      .sortWithinPartitions(keys.head, keys.tail: _*)
    val indexed = ranked.rdd.zipWithIndex().map { case (r, i) =>
      Row.fromSeq(r.toSeq :+ (i + 1L))
    }
    spark.createDataFrame(indexed, ranked.schema.add("row_num", LongType))
  }

  /** Adds `rk` (1-based rank within `group`) and `n` (group size) to a
    * [[globalRowNumber]] output whose keys lead with `group`: a group's
    * global ranks are contiguous, so its first rank and size (one
    * broadcast row per group) suffice — no Window, however big the group. */
  def withGroupRank(ranked: DataFrame, group: String): DataFrame = {
    val first = ranked.groupBy(group)
      .agg(min(col("row_num")).as("first_rn"), count(lit(1)).as("n"))
    ranked.join(broadcast(first), Seq(group))
      .withColumn("rk", col("row_num") - col("first_rn") + lit(1L))
      .drop("first_rn")
  }
}
