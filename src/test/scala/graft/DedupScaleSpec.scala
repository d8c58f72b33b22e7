package graft

import java.nio.file.Files

import graft.SparkSuite.Sf001
import graft.operators.{TextOps, Vectors}
import org.apache.spark.sql.functions._

/** Dedup-family scale law: the documents fixture is ~500 docs, so a
  * quadratic regression in the banded/celled candidate generation would
  * be INVISIBLE to the oracle suite — it only shows up as growth. This
  * spec synthesizes corpora ×10 and ×40 (deterministic per-replica
  * perturbation) and asserts the candidate work and wall time of
  * dedup_minhash / dedup_simhash_pairs / dedup_semantic grow
  * near-LINEARLY between them (×4 corpus ⇒ ≲×8 work, where a quadratic
  * kernel would show ×16).
  *
  * Perturbation design: token identity is preserved WITHIN a replica
  * (each replica keeps the base corpus's near-clone structure) but
  * broken ACROSS replicas (tokens become replica-salted md5 prefixes;
  * embeddings are cyclically shifted, which preserves in-replica
  * cosines exactly) — so a bigger corpus adds NEW near-dup clusters
  * instead of inflating existing ones, the way a growing real corpus
  * behaves.
  */
class DedupScaleSpec extends SparkSuite {

  private val Reps1 = 10
  private val Reps2 = 40 // ×4 the first corpus

  private def corpusDir(n: Int): String = {
    val dir = Files.createTempDirectory(s"dedupscale$n").toString
    val reps = spark.range(n).toDF("rep")
    Tables.documents(spark, Sf001).select("doc_id", "text")
      .crossJoin(reps)
      .select(
        (col("doc_id") + col("rep") * 1000000L).as("doc_id"),
        expr("array_join(transform(filter(split(text, ' '), t -> t <> ''), " +
          "t -> substring(md5(concat('r', CAST(rep AS STRING), '#', t)), 1, 8)), ' ')")
          .as("text"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Tables.embeddings(spark, Sf001).select("vec_id", "embedding")
      .crossJoin(reps)
      .select(
        (col("vec_id") + col("rep") * 1000000L).as("vec_id"),
        expr("transform(sequence(1, 64), " +
          "j -> element_at(embedding, CAST((j - 1 + rep) % 64 AS INT) + 1))")
          .as("embedding"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Wall-clock growth checks are WARN-ONLY by default (ADVICE r5: a
    * GC pause during the small-corpus timing shrinks the big corpus's
    * budget on a contended host — NOTES records ±35% fleet swings on
    * this box). The count-based candidate/bucket-work assertions above
    * them catch quadratic blowups deterministically; set
    * SPARK_GRAFT_TIMING_ASSERTS=1 to enforce the timings too. */
  private val enforceTimings =
    sys.env.get("SPARK_GRAFT_TIMING_ASSERTS").contains("1")
  private def timeCheck(ok: Boolean, msg: => String): Unit =
    if (!ok) {
      if (enforceTimings) fail(msg)
      else info(s"TIMING warn-only (SPARK_GRAFT_TIMING_ASSERTS=1 " +
        s"enforces): $msg")
    }

  /** Enumerated in-bucket pair work of the 4×15-bit SimHash bands:
    * Σ n·(n−1)/2 over (band, key) buckets — the join's actual row
    * production, BEFORE the Hamming filter hides it. */
  private def simhashBucketWork(d: String): Long = {
    val sig = TextOps.simhashSig60(spark, d)
    (0 until 4).map(b => sig.select(lit(b).as("b"),
        shiftright(col("sim"), 15 * b).bitwiseAND(lit(32767)).as("key")))
      .reduce(_ unionByName _)
      .groupBy("b", "key").count()
      .agg(sum(expr("count * (count - 1) div 2")).as("w"))
      .head.getLong(0)
  }

  test("MinHash + SimHash candidate work and time grow near-linearly " +
      s"(corpus ×${Reps2 / Reps1})") {
    val d1 = corpusDir(Reps1)
    val d2 = corpusDir(Reps2)
    // warm once at the small scale so codegen/JIT isn't billed to d1
    TextOps.minhashCandidates(spark, d1).count()
    SparkEntry.queries("dedup_simhash_pairs")(spark, d1).count()

    // the candidate stage is shared where it is defined: release it so
    // each timed run builds it rather than reading the warm copy
    Caches.releaseAll()
    val (mh1, tMh1) = timed(TextOps.minhashCandidates(spark, d1).count())
    Caches.releaseAll()
    val (mh2, tMh2) = timed(TextOps.minhashCandidates(spark, d2).count())
    val (sh1, tSh1) = timed(
      SparkEntry.queries("dedup_simhash_pairs")(spark, d1).count())
    val (sh2, tSh2) = timed(
      SparkEntry.queries("dedup_simhash_pairs")(spark, d2).count())
    val (bw1, bw2) = (simhashBucketWork(d1), simhashBucketWork(d2))

    val k = Reps2.toDouble / Reps1 // 4
    assert(mh1 > 0 && sh1 > 0 && bw1 > 0, s"degenerate base: $mh1 $sh1 $bw1")
    // outputs: expect ×k (each replica contributes its own clusters);
    // 2× slack, quadratic would be ×k²
    assert(mh2 <= mh1 * k * 2, s"minhash candidates superlinear: $mh1 -> $mh2")
    assert(mh2 >= mh1 * k / 2, s"minhash candidates vanished: $mh1 -> $mh2")
    assert(sh2 <= sh1 * k * 2, s"simhash survivors superlinear: $sh1 -> $sh2")
    assert(sh2 >= sh1 * k / 2, s"simhash survivors vanished: $sh1 -> $sh2")
    // enumerated bucket work — the quadratic-blowup detector (a band
    // key space that saturates, e.g. the 16-bucket demo hash, fails
    // here long before wall time does)
    assert(bw2 <= bw1 * k * 3, s"simhash bucket work superlinear: $bw1 -> $bw2")
    // wall time: generous 3× slack over linear; a quadratic kernel
    // would be ~×${k*k} (warn-only — see timeCheck)
    timeCheck(tMh2 <= tMh1 * k * 3 + 1.0, s"minhash time superlinear: $tMh1 -> $tMh2")
    timeCheck(tSh2 <= tSh1 * k * 3 + 1.0, s"simhash time superlinear: $tSh1 -> $tSh2")
  }

  test("SemDeDup in-cell pair work stays near-linear when cells scale " +
      "with the corpus") {
    val d1 = corpusDir(Reps1)
    val d2 = corpusDir(Reps2)
    // the scale contract of the celled design: nList grows with the
    // corpus, keeping per-cell occupancy (and the quadratic in-cell
    // kernel) bounded. Assignment itself is per-row × nList — at real
    // scale it runs as a partitioned/approximate assign, so it is
    // materialized UNTIMED here and only the pair kernel is measured.
    val a1 = Vectors.semanticAssigned(spark, d1, Vectors.FixedNList * Reps1)
      .persist()
    val a2 = Vectors.semanticAssigned(spark, d2, Vectors.FixedNList * Reps2)
      .persist()
    try {
      a1.count(); a2.count()
      def cellWork(a: org.apache.spark.sql.DataFrame): Long =
        a.groupBy("list_id").count()
          .agg(sum(expr("count * (count - 1) div 2")).as("w"))
          .head.getLong(0)
      Vectors.semanticPairs(a1).count() // warm
      val (p1, t1) = timed(Vectors.semanticPairs(a1).count())
      val (p2, t2) = timed(Vectors.semanticPairs(a2).count())
      val (w1, w2) = (cellWork(a1), cellWork(a2))
      val k = Reps2.toDouble / Reps1
      assert(p1 > 0 && w1 > 0, s"degenerate base: pairs=$p1 work=$w1")
      assert(p2 <= p1 * k * 2, s"semantic pairs superlinear: $p1 -> $p2")
      assert(p2 >= p1 * k / 2, s"semantic pairs vanished: $p1 -> $p2")
      assert(w2 <= w1 * k * 3, s"in-cell pair work superlinear: $w1 -> $w2 " +
        "(cells no longer bound the kernel)")
      timeCheck(t2 <= t1 * k * 3 + 1.0, s"pair kernel time superlinear: $t1 -> $t2")
    } finally { a1.unpersist(); a2.unpersist() }
  }

  test("substring-dedup span output and removal mass grow near-linearly") {
    // replica-salted tokens mean grams never collide ACROSS replicas,
    // so duplicated-gram mass (the planted clones) must scale ×k — a
    // hot shared gram (the containment corpus's failure mode) would
    // inflate the occurrence join superlinearly and show up here
    val d1 = corpusDir(Reps1)
    val d2 = corpusDir(Reps2)
    def run(d: String): (Long, Long) = {
      val spans = SparkEntry.queries("dedup_substring")(spark, d)
      val r = spans.agg(count(lit(1)).as("n"),
        sum("span_tokens").as("mass")).head
      (r.getLong(0), r.getLong(1))
    }
    run(d1) // warm
    val ((n1, m1), t1) = timed(run(d1))
    val ((n2, m2), t2) = timed(run(d2))
    val k = Reps2.toDouble / Reps1
    assert(n1 > 0 && m1 > 0, s"degenerate base: spans=$n1 mass=$m1")
    assert(n2 <= n1 * k * 2, s"spans superlinear: $n1 -> $n2")
    assert(n2 >= n1 * k / 2, s"spans vanished: $n1 -> $n2")
    assert(m2 <= m1 * k * 2, s"removal mass superlinear: $m1 -> $m2")
    timeCheck(t2 <= t1 * k * 3 + 1.0, s"substring time superlinear: $t1 -> $t2")
    // the cut removes EXACTLY the span mass (spans are merged-disjoint,
    // so Σ n_removed ≡ Σ span_tokens) — pinned at the ×40 corpus, where
    // a positions-explode bug or a range-join rewrite would first bite
    val cutMass = SparkEntry.queries("dedup_substring_cut")(spark, d2)
      .agg(sum("n_removed")).head.getLong(0)
    assert(cutMass == m2, s"cut mass $cutMass != span mass $m2")
  }

  test("containment-LSH probe cost stays FLAT as the corpus grows " +
      "(the search-side scale law)") {
    // a SEARCH operator inverts the dedup law: the probe set is fixed
    // (replica 0's 50 quotes — replicated doc_ids move to +rep·10⁶),
    // so candidates must track the probes' bucket co-occupancy, NOT
    // corpus size. Replica-salted tokens keep signatures distinct
    // across replicas, so a ×4 corpus must NOT grow the candidate set
    // beyond hash-accident noise — growth here would mean the banding
    // degenerated into a corpus scan per query.
    val d1 = corpusDir(Reps1)
    val d2 = corpusDir(Reps2)
    def cands(d: String): Long =
      operators.TextOps.containmentStages(spark, d)._3.count()
    val (n1, t1) = timed(cands(d1))
    val (n2, t2) = timed(cands(d2))
    assert(n1 > 0, "no candidates on the base corpus")
    assert(n2 <= n1 * 3 / 2 + 8,
      s"probe candidates scale with the corpus: $n1 -> $n2")
    timeCheck(t2 <= t1 * 8 + 1.0, s"probe time superlinear: $t1 -> $t2")
    // and the quotes still find their (replica-salted) hosts at ×40
    val hits = SparkEntry.queries("sim_containment_lsh")(spark, d2)
      .filter(col("qid") === col("doc_id")).count()
    assert(hits >= 40, s"self recall collapsed under replication: $hits/50")
  }

  test("ensemble containment candidates grow near-LINEARLY with the " +
      "corpus (the dedup-side scale law, per size partition)") {
    // dedup_containment_ensemble is a DEDUP operator (corpus is both
    // probe and index), so its law is linearity, not flatness:
    // replica-salted tokens keep signatures distinct across replicas,
    // so a ×4 corpus adds ×4 new in-replica candidates — superlinear
    // growth would mean a band scheme (the loose 6×2 partition first)
    // degenerated into cross-replica mega-buckets.
    val d1 = corpusDir(Reps1)
    val d2 = corpusDir(Reps2)
    def cands(d: String): Map[Long, Long] =
      TextOps.ensembleStages(spark, d)._3
        .groupBy("p").count()
        .collect().map(r => r.getInt(0).toLong -> r.getLong(1)).toMap
    val (c1, t1) = timed(cands(d1))
    val (c2, t2) = timed(cands(d2))
    val k = Reps2.toDouble / Reps1
    assert(c1.values.sum > 0, "no ensemble candidates on the base corpus")
    // union of both keysets: a partition empty at ×10 that explodes at
    // ×40 is exactly the degeneracy this law exists to catch
    for (p <- c1.keySet ++ c2.keySet) {
      val n1 = c1.getOrElse(p, 0L)
      val n2 = c2.getOrElse(p, 0L)
      assert(n2 <= n1 * k * 2 + 16,
        s"partition $p candidates superlinear: $n1 -> $n2 (×4 corpus)")
    }
    assert(c2.values.sum >= c1.values.sum,
      "candidates shrank under replication — fixture degenerate")
    timeCheck(t2 <= t1 * k * 3 + 1.0,
      s"ensemble candidate time superlinear: $t1 -> $t2")
    // the planted source→clone pairs still confirm at ×40
    val confirmed = SparkEntry.queries("dedup_containment_ensemble")(
      spark, d2)
      .filter(col("b_id") === col("a_id") +
        operators.TextOps.cloneOff(spark, d2)).count()
    assert(confirmed > 0, "no planted containment pairs at the ×40 corpus")
  }

  test("line-dedup chunk work and removal mass grow near-linearly; " +
      "exactly one survivor per distinct chunk at any scale") {
    // replica-salted tokens: chunks collide only WITHIN a replica, so
    // total chunks, distinct chunks, and removed mass must all scale
    // ×k — a first-occurrence agg that regressed to something pairwise
    // (or a chunk key that collided across replicas) shows up here
    val d1 = corpusDir(Reps1)
    val d2 = corpusDir(Reps2)
    def run(d: String): (Long, Long, Long) = {
      val r = SparkEntry.queries("txt_line_dedup")(spark, d)
        .agg(sum("n_chunks").as("c"), sum("n_kept").as("k"),
          count(lit(1)).as("docs")).head
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    run(d1) // warm
    val ((c1, k1, _), t1) = timed(run(d1))
    val ((c2, k2, _), t2) = timed(run(d2))
    val k = Reps2.toDouble / Reps1
    assert(c1 > k1, s"no duplicate chunks in the base corpus ($c1 vs $k1)")
    assert(c2 == (c1 * k).toLong, s"chunk mass not ×$k: $c1 -> $c2")
    assert(k2 == (k1 * k).toLong,
      s"survivor mass not ×$k (cross-replica collision?): $k1 -> $k2")
    timeCheck(t2 <= t1 * k * 3 + 1.0, s"line-dedup time superlinear: $t1 -> $t2")
  }
}
