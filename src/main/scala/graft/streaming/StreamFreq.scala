package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

import graft.functions.FreqSketch

/** Streaming heavy hitters — the "trending items per key, live" shape:
  * a Misra-Gries sketch ([[graft.functions.FreqSketch]]) held in
  * `GroupState` per stream key, folded forward each micro-batch and
  * re-emitted with refreshed estimates. Emission is Append-mode: each
  * micro-batch appends the key's full refreshed snapshot (file sinks
  * cannot upsert); the `n` cursor identifies the freshest one.
  *
  * Why a sketch and not a streaming `groupBy(item).count()`: the exact
  * count's state grows with the DISTINCT ITEM count — unbounded on a
  * long-running stream with churning items. The sketch holds exactly K
  * counters per key FOREVER, at the cost of the Misra-Gries band: an
  * emitted `est` undercounts by at most `n/(K+1)`, and every item truly
  * above that bar is guaranteed present (StreamFreqSpec pins both
  * against exact batch counts after the run).
  *
  * Each emitted row carries `n` (items seen for the key so far) — a
  * monotone cursor that both makes the guarantee checkable
  * (`bar = n/(K+1)`) and lets a consumer of the update stream identify
  * the freshest snapshot per key.
  */
object StreamFreq {

  final case class Item(key: String, item: String)
  final case class HH(key: String, item: String, est: Long, n: Long)
  private lazy val stateEnc = Feeds.encoder[(Map[String, Long], Long)]
  private lazy val outEnc = Feeds.encoder[HH]

  /** Heavy hitters over a (possibly streaming) Item set. */
  def heavyHitters(spark: SparkSession, items: Dataset[Item]): Dataset[HH] = {
    import spark.implicits._
    items.groupByKey(_.key)
      .flatMapGroupsWithState[(Map[String, Long], Long), HH](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[Item],
         state: GroupState[(Map[String, Long], Long)]) =>
          var (sketch, n) = state.getOption.getOrElse((FreqSketch.zero, 0L))
          it.foreach { item =>
            sketch = FreqSketch.reduce(sketch, item.item); n += 1
          }
          state.update((sketch, n))
          sketch.iterator.map { case (item, est) => HH(key, item, est, n) }
      }(stateEnc, outEnc)
  }

  /** Drain a prepared streaming Item set AvailableNow into a memory
    * sink and return the appended snapshots. The freshest snapshot per
    * key is the rows carrying the key's max `n` cursor. Production:
    * kafka source + durable checkpoint (StreamFreqSpec pins the
    * checkpoint-restart fold); the harness stays hermetic. */
  def runAvailableNow(spark: SparkSession, items: Dataset[Item],
      queryName: String = "streamfreq_out", srcBytes: Long = -1L): DataFrame = {
    Feeds.drain(spark, heavyHitters(spark, items).writeStream
      .format("memory").outputMode("append"), queryName, srcBytes)
    spark.table(queryName)
  }
}
