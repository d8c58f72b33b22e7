package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming ingest-time contamination gate — the streaming twin of the
  * batch `txt_contamination` scan (operators/TextOps.scala): documents
  * arriving in a drop directory are scored against a FROZEN eval
  * shingle registry BEFORE they enter the training corpus (quarantine
  * at ingest, not a scan after the leak).
  *
  * Shape: the registry is a STATIC side input — eval sets are small and
  * versioned by definition, so at cluster scale it broadcasts; scoring
  * is per-document, so the whole gate is stateless and runs inside
  * `foreachBatch` as plain batch code (explode → registry join →
  * per-doc aggregate). No watermark, no streaming-aggregation state:
  * a document never spans files, so each micro-batch scores its own
  * docs completely, and batch ids give the exactly-once accounting
  * (the IdempotentSink contract: scores land in a batch_id-partitioned
  * parquet sink with per-partition overwrite — fully distributed, no
  * driver materialization anywhere in the gate).
  */
object StreamContamination {

  /** Per-document contamination score — EXACTLY the batch
    * txt_contamination kernel: distinct bigram shingles, left join
    * against the registry, hit share per doc. Runs on any (micro-)
    * batch of (doc_id, text) rows. */
  def score(docs: DataFrame, evalSh: DataFrame): DataFrame = {
    import graft.operators.TextOps
    val sh = docs
      .select(col("doc_id"), TextOps.toks(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(TextOps.bigrams(col("t"))).as("sx"))
      .distinct()
    sh.join(broadcast(evalSh.withColumn("hit", lit(1L))), Seq("sx"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .select(col("doc_id"), col("n_shingles"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_shingles"))
          .as("contamination"))
  }

  /** The frozen eval registry: distinct bigrams of the eval split (the
    * txt_contamination md5 predicate), built ONCE from the corpus dir
    * and persisted — the version a real deployment would pin. */
  def evalRegistry(spark: SparkSession, srcDir: String): DataFrame = {
    import graft.operators.TextOps
    val isEval =
      substring(md5(concat(lit("eval#"), col("doc_id").cast("string"))), 1, 2)
        .lt("10")
    graft.Tables.documents(spark, srcDir)
      .filter(isEval)
      .select(col("doc_id"), TextOps.toks(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
      .select(explode(TextOps.bigrams(col("t"))).as("sx"))
      .distinct()
  }

  /** Drive the gate over the documents parquet in `srcDir` with
    * AvailableNow; each micro-batch's scores are written DISTRIBUTED
    * to a `batch_id=<id>`-partitioned parquet sink (the
    * IdempotentSink.partitionedParquet shape: a replayed batch
    * overwrites its own partition — exactly-once without ever
    * materializing a batch on the driver, which at ingest scale the
    * previous `.collect()` form could not promise). Eval-split docs
    * are not scored — they ARE the registry. */
  def runAvailableNow(spark: SparkSession, srcDir: String): DataFrame = {
    val registry = evalRegistry(spark, srcDir).persist()
    registry.count() // freeze the version before the stream starts
    val stream = Feeds.source(spark, srcDir, "documents")
    val isEval =
      substring(md5(concat(lit("eval#"), col("doc_id").cast("string"))), 1, 2)
        .lt("10")
    // sink dir keyed by the corpus fingerprint AND published through
    // the LayoutCache staging+atomic-rename protocol (ADVICE r8): a
    // bare fingerprint-keyed dir let two concurrent JVMs interleave
    // task files inside one batch_id partition, and an interrupted
    // prior run with different micro-batch splits left stale
    // partitions that were read back into the result. Staging is
    // process-unique; only a COMPLETE run is renamed into place, and a
    // ready published layout is reused outright (the scores are a
    // deterministic function of the fingerprinted corpus — the
    // batch-split differences only move rows between batch_id
    // partitions, which the returned frame drops anyway). Replayed
    // micro-batches WITHIN a run still overwrite their own partition
    // (exactly-once inside the staging dir).
    val outDir = graft.LayoutCache
      .materialize("graft_contam_scores", srcDir, "documents") { staging =>
        // the memory-sink feeds' lifecycle (Feeds scaladoc), though
        // this one writes parquet through foreachBatch
        Feeds.drain(spark, stream.filter(!isEval).writeStream
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            val s = batch.sparkSession
            s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
            score(batch, registry)
              .withColumn("batch_id", lit(batchId))
              .write.mode("overwrite").partitionBy("batch_id")
              .parquet(staging)
            ()
          }, "streamcontam")
        // degenerate corpus (every doc in the eval split → zero
        // batches written): publish an explicitly empty-but-complete
        // layout so the marker protocol holds and readers get the
        // contract's empty frame, not a missing-path error
        val root = new java.io.File(staging)
        if (!new java.io.File(root, "_SUCCESS").exists()) {
          root.mkdirs()
          new java.io.File(root, "_SUCCESS").createNewFile(): Unit
        }
      }
    registry.unpersist()
    // explicit schema: a degenerate corpus (every doc in the eval
    // split) leaves the sink with no parquet footers, and schema
    // INFERENCE would throw where the contract is an empty frame
    spark.read
      .schema("doc_id BIGINT, n_shingles BIGINT, n_hit BIGINT, " +
        "contamination DOUBLE, batch_id BIGINT")
      .parquet(outDir)
      .select("doc_id", "n_shingles", "n_hit", "contamination")
  }
}
