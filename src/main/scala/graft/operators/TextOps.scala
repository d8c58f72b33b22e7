package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data text operators over the `documents` table: language ID,
  * quality scoring, token counting, fingerprinting, and the exact /
  * MinHash / SimHash / n-gram-Jaccard deduplication family.
  *
  * Scale design (100 TB): everything here is a per-row map or an
  * aggregate over exploded tokens — no driver-side loops. The dedup
  * joins are bucket joins (hash of text, LSH band, SimHash band), never
  * all-pairs; the only all-pairs query (`dedup_ngram_jaccard`) is
  * explicitly windowed to a candidate subset, the shape you'd feed from
  * an LSH candidate generator at scale.
  *
  * Engine-parity rules: tokenization is a plain split on ' ' (no regex
  * dialects), hashes are md5 hex strings (identical in DuckDB), and
  * tie-sensitive double math keeps one fixed association order.
  */
object TextOps {

  // ── shared token expressions (Spark) + their SQL mirror ──────────────

  /** Non-empty whitespace tokens. */
  private[graft] def toks(c: Column): Column =
    filter(split(c, " "), t => t =!= "")
  private[operators] val toksSql =
    "list_filter(string_split(text, ' '), x -> x <> '')"

  /** Word-bigram shingles over 1-indexed tokens (docs all have ≥ 2
    * tokens; the `size >= 2` guard keeps Spark's descending `sequence`
    * edge case and DuckDB's empty `range` aligned). The argument is
    * LET-BOUND via a one-element transform before the per-element
    * lambda touches it: callers pass expressions like `toks(text)`,
    * and an inlined argument would re-evaluate per element — O(m²)
    * tokenization on an m-token doc (the txt_winnowing lesson; higher-
    * order lambdas get no codegen CSE). */
  private[graft] def bigrams(t: Column): Column =
    element_at(transform(array(t), tt =>
      transform(sequence(lit(1), size(tt) - 1),
        i => concat_ws(" ", element_at(tt, i), element_at(tt, i + 1)))), 1)
  private def bigramsSql(t: String): String =
    s"list_transform(range(1, len($t)), i -> concat($t[i], ' ', $t[i+1]))"

  private def countIn(t: Column, words: Seq[String]): Column =
    size(filter(t, x => x.isin(words.map(lit(_)): _*)))
  private def countInSql(t: String, words: Seq[String]): String =
    s"len(list_filter($t, x -> x IN (${words.map(w => s"'$w'").mkString(",")})))"

  /** Tiny per-language stopword marker sets (n-gram-heuristic language
    * ID; the synthetic corpus is a shared-vocabulary word salad, so the
    * *operator* is what matters, not its accuracy on this fixture). */
  private val Stop: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "la", "los", "y", "es"),
    "fr" -> Seq("le", "les", "une", "et", "est"))

  /** The Gopher/MassiveText document-filter marker set (Rae et al.
    * 2021 §A1.1): a doc must contain ≥ 2 DISTINCT members. */
  private val GopherStop =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher/MassiveText repetition-free document rules (Rae et al.
    * 2021, "Scaling Language Models", appendix A1.1) as EXACT integer
    * comparisons over (doc_id, text) — every ratio threshold is
    * cross-multiplied (10·n_sym < n_words instead of n_sym/n_words
    * < 0.1) so the flags are bit-stable across engines with no float
    * division anywhere. Pure per-row codegen: zero shuffle, rides the
    * scan, the exact shape that filters 100 TB at line rate. Emits the
    * measured counters alongside the flags (the audit form — a
    * pipeline wants to know WHY a doc failed, and threshold sweeps
    * reuse the counters without rescanning). */
  private[graft] def gopherRules(docs: DataFrame): DataFrame = {
    val m = docs.select(
      col("doc_id"),
      size(toks(col("text"))).cast("long").as("n_words"),
      aggregate(toks(col("text")), lit(0), (a, x) => a + length(x))
        .cast("long").as("tok_chars"),
      regexp_count(col("text"), lit("[#…]")).cast("long").as("n_sym"),
      size(filter(toks(col("text")), x => x.rlike("[a-z]")))
        .cast("long").as("n_alpha"),
      GopherStop.map(w => array_contains(toks(col("text")), w).cast("int"))
        .reduce(_ + _).cast("long").as("n_stopset"))
    m.select(col("doc_id"), col("n_words"), col("tok_chars"), col("n_sym"),
        col("n_alpha"), col("n_stopset"),
        (col("n_words") >= 50 && col("n_words") <= 100000).as("ok_words"),
        (lit(3) * col("n_words") <= col("tok_chars") &&
          col("tok_chars") <= lit(10) * col("n_words")).as("ok_mwl"),
        (lit(10) * col("n_sym") < col("n_words")).as("ok_sym"),
        (lit(5) * col("n_alpha") >= lit(4) * col("n_words")).as("ok_alpha"),
        (col("n_stopset") >= 2).as("ok_stop"))
      .withColumn("pass", col("ok_words") && col("ok_mwl") &&
        col("ok_sym") && col("ok_alpha") && col("ok_stop"))
  }

  /** Planted-fixture id offset: the smallest power of ten STRICTLY
    * ABOVE max(doc_id), so planted clone ids can never collide with a
    * real document id at ANY scale factor. The r11 sf1 leg caught the
    * old literal 10000 colliding at 50 k docs (clone of doc 0 became
    * real doc 10000 — graph_pagerank's vertex set silently double-
    * counted 4 000 ids). A round power of ten (not max+1) keeps the
    * "is this a planted id" reading human-checkable in dumps and
    * specs: originals live below it, first-tier plants in
    * [off, 2·off), second-tier plants in [2·off, 3·off).
    * Memoized per (session, dir) — one parquet-stat max per corpus. */
  private[graft] def cloneOff(s: SparkSession, d: String): Long =
    graft.Caches.memo(s, ("cloneOff", d)) {
      val mx = Tables.documents(s, d).agg(max("doc_id")).head.getLong(0)
      var off = 10L
      while (off <= mx) off *= 10L
      off
    }
  /** SQL mirror of [[cloneOff]] — the same integer, derived from the
    * same table, as a scalar subquery the oracles embed. Digit count
    * (not log10: float log of an exact power of ten can land a hair
    * below the integer and floor the exponent wrong) — 10^digits(max)
    * IS the smallest power of ten strictly above max for max ≥ 0. */
  private[operators] val cloneOffSql: String =
    "(SELECT CAST(power(10, length(CAST(max(doc_id) AS VARCHAR))) " +
      "AS BIGINT) FROM documents)"

  /** documents ∪ exact clones (doc_id+cloneOff for doc_id%5=0) — the
    * exact dedup needs real duplicates to collapse. */
  private def withClones(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d).select("doc_id", "text")
    base.unionByName(
      base.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + cloneOff(s, d)).as("doc_id"), col("text")))
  }
  private val withClonesSql =
    s"""docs AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + $cloneOffSql AS doc_id, text
       |  FROM documents WHERE doc_id % 5 = 0
       |)""".stripMargin

  /** documents ∪ near-clones (tail-perturbed text) — MinHash candidate
    * generation needs near-duplicates to find. */
  private[operators] def withNearClones(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d).select("doc_id", "text")
    base.unionByName(
      base.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + cloneOff(s, d)).as("doc_id"),
          concat(col("text"), lit(" zz9 qq8")).as("text")))
  }
  private val withNearClonesSql =
    s"""docs AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + $cloneOffSql AS doc_id,
       |         concat(text, ' zz9 qq8') AS text
       |  FROM documents WHERE doc_id % 10 = 0
       |)""".stripMargin

  // ── shared ExactSubstr stages (dedup_substring / _cut) ───────────────

  /** Merged duplicate-8-gram spans per doc, 1-based inclusive token
    * positions — the DETECTION stage of ExactSubstr dedup, shared by
    * dedup_substring (reports spans) and dedup_substring_cut (removes
    * them). See dedup_substring's scaladoc for the scale shape. */
  private def dupSpans(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("s")
    // token array LET-BOUND (TextOps.bigrams note): a `col("t")` from
    // the previous projection would inline the whole tokenizer into
    // every gram lambda element — O(m²) per doc
    val g = withNearClones(s, d)
      .filter(size(toks(col("text"))) >= 8)
      .select(col("doc_id"), explode(element_at(transform(
        array(toks(col("text"))),
        t => transform(sequence(lit(1), size(t) - 7),
          i => struct(i.as("i"),
            xxhash64(concat_ws(" ", slice(t, i, lit(8))))
              .as("gram")))), 1)).as("g"))
      .select(col("doc_id"), col("g.i").as("i"), col("g.gram").as("gram"))
      // r14: cut — `g` feeds BOTH the duplicate-gram agg and the
      // occurrence join; uncut, the tokenize → gram-explode → xxhash64
      // stage (the kernel's CPU-heavy pass) ran twice per execution
      .transform(graft.Caches.cut)
    val dup = g.groupBy("gram").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select("gram")
    val occ = g.join(dup, Seq("gram"))
      .select(col("doc_id"), col("i").as("s"), (col("i") + 7).as("e"))
    occ
      .withColumn("pmax",
        max(col("e")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("gid", sum(
        when(col("pmax").isNull || col("s") > col("pmax"), 1).otherwise(0))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "gid")
      .agg(min("s").as("span_start"), max("e").as("span_end"))
  }

  /** [[dupSpans]] as DuckDB CTEs ending in
    * `spans(doc_id, span_start, span_end)`; expects the `docs` CTE
    * ([[withNearClonesSql]]) in scope. The oracle matches grams as
    * STRINGS where Spark joins xxhash64 values — equivalent results
    * absent a 64-bit collision inside this corpus. */
  private val dupSpanCtes =
    s"""t AS (
       |  SELECT doc_id, $toksSql AS t FROM docs
       |), g AS (
       |  SELECT doc_id, i, array_to_string(t[i:i+7], ' ') AS gram
       |  FROM t, UNNEST(range(1, len(t) - 6)) AS r(i)
       |  WHERE len(t) >= 8
       |), dup AS (
       |  SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 2
       |), occ AS (
       |  SELECT g.doc_id, g.i AS s, g.i + 7 AS e
       |  FROM g JOIN dup USING (gram)
       |), m AS (
       |  SELECT doc_id, s, e,
       |         MAX(e) OVER (PARTITION BY doc_id ORDER BY s
       |                      ROWS BETWEEN UNBOUNDED PRECEDING
       |                      AND 1 PRECEDING) AS pmax
       |  FROM occ
       |), grp AS (
       |  SELECT doc_id, s, e,
       |         SUM(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
       |           OVER (PARTITION BY doc_id ORDER BY s
       |                 ROWS BETWEEN UNBOUNDED PRECEDING
       |                 AND CURRENT ROW) AS gid
       |  FROM m
       |), spans AS (
       |  SELECT doc_id, MIN(s) AS span_start, MAX(e) AS span_end
       |  FROM grp GROUP BY doc_id, gid
       |)""".stripMargin

  // ── shared feature-hashing embedding kernel (txt_hash_embed +
  // sim_hash_embed_topk) ───────────────────────────────────────────────

  /** (doc_id, counts[16], ssq): the signed feature-hash cell vectors —
    * every token lands in cell md5-last-hex-digit with sign
    * second-to-last-digit-parity; counts are exact integer sums, ‖v‖²
    * an exact integer. Scale shape: explode → one map-side-combined
    * (doc, dim) agg → a doc-sized map assembly; nothing wider than 16
    * cells per doc crosses a shuffle. */
  private def hashCells(s: SparkSession, d: String): DataFrame = {
    val h = md5(concat(lit("fh#"), col("term")))
    Tables.documents(s, d)
      .select(col("doc_id"), explode(toks(col("text"))).as("term"))
      .select(col("doc_id"),
        conv(substring(h, 32, 1), 16, 10).cast("long").as("dim"),
        when(substring(h, 31, 1)
          .isin("1", "3", "5", "7", "9", "b", "d", "f"), 1L)
          .otherwise(-1L).as("sg"))
      .groupBy("doc_id", "dim").agg(sum("sg").as("c"))
      .groupBy("doc_id")
      .agg(map_from_entries(collect_list(struct(col("dim"), col("c"))))
        .as("m"))
      .select(col("doc_id"),
        transform(sequence(lit(0L), lit(15L)),
          i => coalesce(element_at(col("m"), i), lit(0L))).as("counts"))
      .select(col("doc_id"), col("counts"),
        aggregate(col("counts"), lit(0L),
          (acc, x) => acc + x * x).as("ssq"))
  }

  /** SQL mirror of [[hashCells]] as a CTE chain ending in
    * `cells(doc_id, counts, ssq)`. */
  private val hashCellsSql: String =
    s"""fh_e AS (
       |  SELECT doc_id, md5(concat('fh#', term)) AS h
       |  FROM (SELECT doc_id, unnest($toksSql) AS term FROM documents) x
       |), fh_c AS (
       |  SELECT doc_id,
       |         CAST(strpos('0123456789abcdef', substr(h, 32, 1)) - 1
       |              AS BIGINT) AS dim,
       |         CAST(SUM(CASE WHEN substr(h, 31, 1) IN
       |                   ('1','3','5','7','9','b','d','f')
       |                   THEN 1 ELSE -1 END) AS BIGINT) AS c
       |  FROM fh_e GROUP BY 1, 2
       |), fh_g AS (
       |  SELECT d.doc_id, CAST(r.i AS BIGINT) AS dim
       |  FROM (SELECT DISTINCT doc_id FROM fh_c) d,
       |       UNNEST(range(0, 16)) AS r(i)
       |), fh_v AS (
       |  SELECT g.doc_id, list(coalesce(c.c, 0) ORDER BY g.dim) AS counts
       |  FROM fh_g g LEFT JOIN fh_c c
       |    ON g.doc_id = c.doc_id AND g.dim = c.dim
       |  GROUP BY g.doc_id
       |), cells AS (
       |  SELECT doc_id, counts,
       |         CAST(list_sum(list_transform(counts, x -> x * x))
       |              AS BIGINT) AS ssq
       |  FROM fh_v
       |)""".stripMargin

  // ── shared MinHash pipeline stages ───────────────────────────────────
  // The dedup family embeds the SAME shingle→signature→candidate
  // subplans, so each stage is shared (graft.Caches.shared) where it is
  // defined: the first consumer a session builds persists it, and every
  // later one reads the cached stage.

  /** Exploded bigram shingles of the near-clone corpus — the interpreted
    * tokenize/explode stage the MinHash signatures, dedup_bbit,
    * dedup_containment and dedup_pipeline start from. */
  def nearCloneShingles(s: SparkSession, d: String): DataFrame =
    graft.Caches.shared(withNearClones(s, d)
      .select(col("doc_id"), toks(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(bigrams(col("t"))).as("sx")))

  /** DISTINCT (doc_id, xxhash64 shingle) set of [[nearCloneShingles]] —
    * the hashed sets dedup_containment and dedup_containment_ensemble
    * intersect. Shared per session, like [[nearCloneShingles]]. */
  private[graft] def hashedShingles(s: SparkSession, d: String): DataFrame =
    graft.Caches.shared(nearCloneShingles(s, d)
      .select(col("doc_id"), xxhash64(col("sx")).as("s")).distinct())

  /** DISTINCT (doc_id, bigram) shingle set of the RAW documents table —
    * the stage txt_df_spectrum, txt_bigram_novelty, txt_contamination
    * and txt_rouge2 all start from (tokenize → explode bigrams →
    * distinct, one shuffle on the shingle key). Shared per session, like
    * [[nearCloneShingles]]. */
  private[graft] def distinctBigramShingles(s: SparkSession,
      d: String): DataFrame =
    graft.Caches.shared(Tables.documents(s, d)
      .select(col("doc_id"), toks(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(bigrams(col("t"))).as("sx"))
      .distinct())

  /** 4 salted min-hash signatures per doc, computed explode→hash-agg:
    * the md5s run inside whole-stage codegen (the per-row list-lambda
    * form is interpreted and measured ~30× slower at sf0.1), and the
    * shape is the scale path — shingles shuffle once on doc_id with
    * map-side partial mins. */
  def minhashSig(s: SparkSession, d: String): DataFrame = {
    val sigAggs = (0 until 4).map(k =>
      min(md5(concat(lit(s"salt$k#"), col("sx")))).as(s"h$k"))
    graft.Caches.shared(
      nearCloneShingles(s, d).groupBy("doc_id").agg(sigAggs.head, sigAggs.tail: _*))
  }

  /** SQL mirror of nearCloneShingles→minhashSig→minhashCandidates as a
    * CTE chain (docs, t, sig, bands, cand) — shared by every oracle that
    * starts from the banded MinHash candidate pairs. sig aggregates over
    * unnest(sh) rather than list_transform'ing four md5-string lists per
    * doc: same mins (min over the same md5 set), same shape as the Spark
    * explode→hash-agg side, and ~half the DuckDB peak memory — measured
    * 1GB→512MB on the graph_pagerank/pipeline_curate oracles, which
    * matters because the driver runs all 337 oracles on one connection
    * (the r9 allocator-exhaustion cascade). `t` keeps the list form
    * because downstream CTEs in several consumers read `sh`. */
  private[operators] val minhashCandSql: String = {
    val sigs = (0 until 4).map(k =>
      s"min(md5(concat('salt$k#', sx))) AS h$k")
      .mkString(",\n         ")
    s"""$withNearClonesSql,
       |t AS (
       |  SELECT doc_id, ${bigramsSql("t")} AS sh
       |  FROM (SELECT doc_id, $toksSql AS t FROM docs) x
       |  WHERE len(t) >= 2
       |), sig AS (
       |  SELECT doc_id,
       |         $sigs
       |  FROM (SELECT doc_id, unnest(sh) AS sx FROM t) u
       |  GROUP BY doc_id
       |), bands AS (
       |  SELECT doc_id, 0 AS band, concat(h0, h1) AS key FROM sig
       |  UNION ALL
       |  SELECT doc_id, 1 AS band, concat(h2, h3) AS key FROM sig
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
       |)""".stripMargin
  }

  /** Bounded connected-components labels over the banded MinHash
    * candidate graph, as DuckDB CTEs ending in `clus(doc_id, cluster)` —
    * the oracle-side replacement for the `WITH RECURSIVE reach`
    * transitive closure (r12, VERDICT r11 #2). The closure enumerates
    * Σ|cluster|² reachable PAIRS and re-deduplicates the growing pair
    * set every round; at the sf1 leg that blew past the 3000 s checker
    * wall on dedup_cc_quality and OOM'd pipeline_curate's DuckDB at
    * ~36 GB. This form carries one LABEL per doc instead: each
    * MATERIALIZED round takes the min over {own label, neighbors'
    * labels, label-of-label}. The pointer-jump term (label-of-label)
    * usually compounds coverage per round — but it follows the
    * MIN-LABEL chain, not the whole ball, so structured id layouts
    * degrade it toward plain per-round propagation (measured: the
    * sf0.1 graph, diameter ~11, converges in ≤ 10 rounds; the sf1
    * replica graph needs 12 — the r12 certificate fired at 10 and
    * caught exactly this). `rounds` = 20 carries 8 rounds of headroom
    * over the deepest measured corpus at ~0.3 s per extra round at
    * sf1; a deeper corpus trips the certificate loudly and the fix is
    * this one Int. Measured identical results with 67 s → 0.4 s at
    * sf0.1 and >3000 s → ~4 s at sf1.
    *
    * Convergence is CERTIFIED, not assumed: if the final round still
    * changed any label, a conditional error() scalar inside `clus`
    * raises — the oracle run records a loud FAIL row instead of
    * silently blessing a half-propagated clustering (a poison ROW
    * would be swallowed by downstream joins in dedup_cc_quality /
    * pipeline_curate; an error survives any consumer shape) — the
    * graph_kcore fixed-unroll precedent plus an explicit certificate.
    * The CASE guard keeps error() lazy: DuckDB evaluates the scalar
    * subquery once and only raises when the diff count is > 0. Expects
    * `cand(a_id, b_id)` and `docs(doc_id, ...)` in scope (names
    * overridable for graphs over other node/pair CTEs); emits `sym`,
    * `cl0..clN` and `clus`. MATERIALIZED is load-bearing exactly as in
    * graph_kcore: each round reads its predecessor three times. */
  private[operators] def ccClusSql(rounds: Int = 20, cand: String = "cand",
      aCol: String = "a_id", bCol: String = "b_id", nodes: String = "docs",
      nodeId: String = "doc_id"): String = {
    val steps = (1 to rounds).map { i =>
      s"""cl$i AS MATERIALIZED (
         |  SELECT id, MIN(lab) AS lab FROM (
         |    SELECT id, lab FROM cl${i - 1}
         |    UNION ALL
         |    SELECT s.src AS id, l.lab FROM sym s JOIN cl${i - 1} l ON l.id = s.dst
         |    UNION ALL
         |    SELECT l.id, p.lab FROM cl${i - 1} l JOIN cl${i - 1} p ON p.id = l.lab
         |  ) t GROUP BY id
         |)""".stripMargin
    }.mkString(",\n")
    s"""sym AS MATERIALIZED (
       |  SELECT $aCol AS src, $bCol AS dst FROM $cand
       |  UNION ALL SELECT $bCol, $aCol FROM $cand
       |), cl0 AS MATERIALIZED (SELECT $nodeId AS id, $nodeId AS lab FROM $nodes),
       |$steps,
       |cl_conv AS (
       |  SELECT COUNT(*) AS n FROM cl$rounds a JOIN cl${rounds - 1} b
       |  ON a.id = b.id AND a.lab <> b.lab
       |), clus AS (
       |  SELECT id AS $nodeId,
       |         lab + (SELECT CASE WHEN n > 0 THEN error(
       |                  'ccClusSql: labels not converged in $rounds rounds')
       |                ELSE 0 END FROM cl_conv) AS cluster
       |  FROM cl$rounds
       |)""".stripMargin
  }

  /** 2×2 banding of the signatures: candidate pairs share a band key —
    * the candidate table the whole dedup family starts from. */
  private[graft] def minhashCandidates(s: SparkSession, d: String): DataFrame = {
    val sig = minhashSig(s, d)
    val bands = sig.select(col("doc_id"), lit(0).as("band"),
      concat(col("h0"), col("h1")).as("key"))
      .unionByName(sig.select(col("doc_id"), lit(1).as("band"),
        concat(col("h2"), col("h3")).as("key")))
    graft.Caches.shared(
      bands.select(col("doc_id").as("a_id"), col("band"), col("key"))
        .join(bands.select(col("doc_id").as("b_id"), col("band"), col("key")),
          Seq("band", "key"))
        .filter(col("a_id") < col("b_id"))
        .select("a_id", "b_id").distinct())
  }

  /** LSH-Ensemble stages for dedup_containment_ensemble — exposed so
    * DedupScaleSpec can pin the candidate-volume scale law directly:
    * (hashed shingle sets `e`, per-doc set sizes `sz`, directed
    * size-partitioned candidates `cand` = (a_id, b_id, p)). Band rows
    * for ALL three schemes come from ONE exploded pass over the
    * sig⋈sz frame, shared+persisted — a per-(p, band) union would
    * rebuild that frame 13× (measured: 2/3 of the query's cold cost).
    */
  private[graft] def ensembleStages(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val e = hashedShingles(s, d)
    val sz = e.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val ss = minhashSig(s, d).join(sz, Seq("doc_id"))
      .withColumn("hp",
        when(col("n") < 32, 0).when(col("n") < 64, 1).otherwise(2))
    def h(i: Int) = col(s"h$i")
    def bk(p: Int, b: Int, k: Column) =
      struct(lit(p).as("p"), lit(b).as("band"), k.as("key"))
    val allBands = array(
      (bk(0, 0, concat(h(0), h(1), h(2), h(3)))
        +: Seq(bk(1, 0, concat(h(0), h(1))), bk(1, 1, concat(h(2), h(3))))
        ++: Seq((0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)).zipWithIndex
          .map { case ((i, j), b) => bk(2, b, concat(h(i), h(j))) }): _*)
    val probe = graft.Caches.shared(ss
      .select(col("doc_id"), col("n"), col("hp"),
        explode(allBands).as("bks"))
      .select(col("doc_id"), col("n"), col("hp"),
        col("bks.p").as("p"), col("bks.band").as("band"),
        col("bks.key").as("key")))
    val idx = probe.filter(col("p") === col("hp"))
    val cand = probe
      .select(col("doc_id").as("a_id"), col("n").as("qn"),
        col("p"), col("band"), col("key"))
      .join(idx.select(col("doc_id").as("b_id"), col("n").as("inn"),
        col("p"), col("band"), col("key")), Seq("p", "band", "key"))
      .filter(col("a_id") =!= col("b_id") && col("qn") <= col("inn"))
      .select("a_id", "b_id", "p").distinct()
    (e, sz, cand)
  }

  /** One BPE merge round as a CTE block (txt_bpe_merges): from
    * `st{i-1}` (word, w, pos, tok) derive `pairs{i}` (weighted
    * adjacent-pair counts), `best{i}` (deterministic argmax), and
    * `st{i}` (the left-to-right non-overlapping rewrite — see the
    * query scaladoc for the runs/odd-rank argument). */
  private def bpeRoundSql(i: Int): String = {
    // Every CTE that is read more than once is AS MATERIALIZED: each
    // round reads st{i-1} five times (pair scan ×2, match scan ×2,
    // rewrite) and keep$i/best$i 2-3 times, so an inlining planner
    // re-evaluates the whole ancestry 5× per level — 5^4 ≈ 625
    // evaluations of st0 by round 4 (measured: the un-hinted encode
    // oracle ran >10 min at sf0.01 vs ~2 s materialized).
    val p = s"st${i - 1}"
    s"""pairs$i AS (
       |  SELECT a.tok AS l, b.tok AS r, CAST(SUM(a.w) AS BIGINT) AS c
       |  FROM $p a JOIN $p b ON a.word = b.word AND b.pos = a.pos + 1
       |  GROUP BY 1, 2
       |), best$i AS MATERIALIZED (
       |  SELECT l, r, c FROM pairs$i ORDER BY c DESC, l, r LIMIT 1
       |), m$i AS (
       |  SELECT a.word, a.pos,
       |         row_number() OVER (PARTITION BY a.word ORDER BY a.pos) AS rn
       |  FROM $p a
       |  JOIN $p b ON a.word = b.word AND b.pos = a.pos + 1
       |  CROSS JOIN best$i t
       |  WHERE a.tok = t.l AND b.tok = t.r
       |), keep$i AS MATERIALIZED (
       |  SELECT word, pos FROM (
       |    SELECT word, pos,
       |           row_number() OVER (PARTITION BY word, pos - rn
       |                              ORDER BY pos) AS rk
       |    FROM m$i) x
       |  WHERE rk % 2 = 1
       |), st$i AS MATERIALIZED (
       |  SELECT s.word, s.w,
       |         CAST(row_number() OVER (PARTITION BY s.word ORDER BY s.pos)
       |              AS BIGINT) AS pos,
       |         CASE WHEN k1.pos IS NOT NULL THEN concat(t.l, t.r)
       |              ELSE s.tok END AS tok
       |  FROM $p s
       |  CROSS JOIN best$i t
       |  LEFT JOIN keep$i k1 ON s.word = k1.word AND s.pos = k1.pos
       |  LEFT JOIN keep$i k2 ON s.word = k2.word AND s.pos = k2.pos + 1
       |  WHERE k2.pos IS NULL
       |)""".stripMargin
  }

  /** DataFrame mirror of [[bpeRoundSql]]: returns (best rule, rewritten
    * state). The 1-row argmax broadcasts into both the match scan and
    * the rewrite; windows partition by word. */
  private def bpeRound(st: DataFrame): (DataFrame, DataFrame) = {
    val nxt = st.select(col("word"), (col("pos") - 1).as("pos"),
      col("tok").as("rtok"))
    val adj = st.join(nxt, Seq("word", "pos"))
    val best = adj.groupBy(col("tok").as("l"), col("rtok").as("r"))
      .agg(sum("w").cast("long").as("c"))
      .orderBy(col("c").desc, col("l"), col("r")).limit(1)
    val m = adj.join(broadcast(best),
        col("tok") === col("l") && col("rtok") === col("r"))
      .select("word", "pos")
    val wrn = Window.partitionBy("word").orderBy("pos")
    val keep = m.withColumn("rn", row_number().over(wrn))
      .withColumn("grp", col("pos") - col("rn"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("word", "grp").orderBy("pos")))
      .filter(col("rk") % 2 === 1)
      .select("word", "pos")
    val k1 = keep.select(col("word"), col("pos"), lit(1).as("k1"))
    val k2 = keep.select(col("word"), (col("pos") + 1).as("pos"),
      lit(1).as("k2"))
    val next = st.crossJoin(broadcast(best))
      .join(k1, Seq("word", "pos"), "left")
      .join(k2, Seq("word", "pos"), "left")
      .filter(col("k2").isNull)
      .select(col("word"), col("w"),
        row_number().over(wrn).cast("long").as("pos"),
        when(col("k1").isNotNull, concat(col("l"), col("r")))
          .otherwise(col("tok")).as("tok"))
    (best, next)
  }

  /** The fitted BPE trainer, ONCE per (session, dir): (rules, final
    * state). `rules` = the 4 learned merges (rank, l, r, pair_count);
    * `st4` = the vocabulary rewritten by all 4 rules — what
    * txt_bpe_encode aggregates. Memoized like [[Graph]]'s CC clusters:
    * both txt_bpe_* queries consume the same fit, and re-running the
    * 4-round iterative job per consumer would double its multi-job
    * cost. Each round's state and rule get a [[graft.Caches.cut]] (the
    * CC loop's lineage discipline): every round reads st{i-1} several
    * times (pair scan, match scan, rewrite) and embeds best{i}, so a
    * pure lazy plan both re-executes ancestors multiplicatively AND
    * nests the logical tree ~4× per round — by round 4 the un-cut tree
    * is big enough that merely PRINTING it OOMs the driver. persist()
    * alone doesn't help analysis cost (the plan still nests); the
    * checkpoint truncates it to a leaf. Vocab-sized frames: the memory
    * cost is the token state, never the corpus. */
  private def bpeFit(s: org.apache.spark.sql.SparkSession,
      d: String): (DataFrame, DataFrame) =
    graft.Caches.memo(s, ("bpeFit", d)) {
      val vocab = Tables.documents(s, d)
        .select(explode(toks(col("text"))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("w"))
      var st = graft.Caches.cut(vocab
        .select(col("word"), col("w"),
          explode(sequence(lit(1L), length(col("word")).cast("long")))
            .as("pos"))
        .withColumn("tok", expr("substring(word, CAST(pos AS INT), 1)")))
      val bests = (1 to 4).map { i =>
        val (best0, next) = bpeRound(st)
        val best = graft.Caches.cut(best0)
        st = graft.Caches.cut(next)
        best.select(lit(i.toLong).as("rank"), col("l"), col("r"),
          col("c").as("pair_count"))
      }
      (bests.reduce(_ unionByName _), st)
    }

  // ── shared SimHash pipeline stages (see dedup_simhash_pairs) ─────────

  /** Exploded tokens of the near-clone corpus, each carrying its 60-bit
    * md5-prefix as a long — the tokenize/explode/md5 stage the 60-bit
    * SimHash signature aggregate starts from. ONE conv: the first 15
    * md5 hex chars become a 60-bit long, so every downstream bit probe
    * is integer shift/mask (the 15-string-convs-per-row form spent its
    * time in string slicing). Not shared: [[simhashSig60]] is its one
    * consumer. */
  def simhashTokens(s: SparkSession, d: String): DataFrame =
    withNearClones(s, d)
      .select(col("doc_id"), explode(toks(col("text"))).as("x"))
      .select(col("doc_id"),
        conv(substring(md5(col("x")), 1, 15), 16, 10).cast("long").as("h"))

  /** 60-bit SimHash signature per doc, computed from [[simhashTokens]]
    * with 15 packed-lane sums: the ±1 vote sum v_i = 2·ones_i − n, so it
    * suffices to count ONES per bit — and four 16-bit lanes pack one hex
    * digit's 4 bit-counters into one long, collapsing 60 sum aggregates
    * to 15 packed sums + count(n). Lane counts ≤ 65535 ≫ any document's
    * token count; beyond that a lane would overflow into its neighbor
    * and corrupt the signature SILENTLY — refuse loudly instead (chunk
    * such docs upstream; the synthetic corpus is ~30 tokens/doc). Not
    * shared: dedup_simhash_pairs is its one consumer. */
  def simhashSig60(s: SparkSession, d: String): DataFrame =
    sig60From(simhashTokens(s, d))

  /** The packed-lane 60-bit majority-vote signature over ANY
    * (doc_id, h[60-bit long]) hash stream — the reusable SimHash
    * kernel behind [[simhashSig60]]. (A frame-level media pHash was
    * prototyped on this kernel and rejected with measurements — see
    * Multimodal `mm_dedup_frames` — but the kernel stays generic:
    * any weighted-feature hash stream packs the same way.) */
  private[operators] def sig60From(hashes: DataFrame): DataFrame = {
    // hex digit j (0-based from the LEFT) sits at bits 4*(14-j)
    val packAggs = (0 until 15).map { j =>
      val base = 4 * (14 - j)
      sum((0 until 4).map { k =>
        shiftright(col("h"), base + k).bitwiseAND(lit(1L)) * lit(1L << (16 * k))
      }.reduce(_ + _)).as(s"p$j")
    } :+ count(lit(1)).as("n")
    val sg = hashes.groupBy("doc_id")
      .agg(packAggs.head, packAggs.tail: _*)
    val sim = (0 until 60).map { i =>
      val ones = shiftright(col(s"p${i / 4}"), 16 * (i % 4))
        .bitwiseAND(lit(65535L))
      when(ones * 2 > col("n"), lit(1L << i)).otherwise(0L)
    }.reduce(_ + _)
    val guarded = when(col("n") > 65535,
      raise_error(concat(lit("SimHash lane overflow: doc "),
        col("doc_id").cast("string"), lit(" has "),
        col("n").cast("string"), lit(" tokens (max 65535)"))).cast("long"))
      .otherwise(sim)
    sg.select(col("doc_id"), guarded.as("sim"))
  }

  /** 4×15-bit banded candidate pairs from a (doc_id, sim) signature
    * table, Hamming-filtered BEFORE the distinct (the filter rides the
    * band join; only survivors shuffle — the measured
    * dedup_simhash_pairs lesson). Output (a_id, b_id, hamming). */
  private[operators] def bandedHammingPairs(sig: DataFrame,
      maxHamming: Int): DataFrame = {
    val bands = (0 until 4).map { b =>
      sig.select(col("doc_id"), col("sim"), lit(b).as("b"),
        shiftright(col("sim"), 15 * b).bitwiseAND(lit(32767)).as("key"))
    }.reduce(_ unionByName _)
    bands
      .select(col("doc_id").as("a_id"), col("sim").as("sa"), col("b"), col("key"))
      .join(bands.select(col("doc_id").as("b_id"), col("sim").as("sb"),
        col("b"), col("key")), Seq("b", "key"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        bit_count(col("sa").bitwiseXOR(col("sb"))).cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** SQL mirror of [[sig60From]] + [[bandedHammingPairs]] as a CTE
    * chain: input CTE `$in` must provide (doc_id, m) with m = a full
    * md5 hex string per hash draw. Ends in a SELECT of
    * (a_id, b_id, hamming) ordered by (a_id, b_id). */
  private[operators] def simhash60PairsSql(in: String,
      maxHamming: Int): String =
    s"""sg AS (
       |  SELECT doc_id,
       |${(0 until 60).map(i => s"         SUM((((strpos('0123456789abcdef', substr(m, ${i / 4 + 1}, 1)) - 1) >> ${i % 4}) & 1) * 2 - 1) AS v$i").mkString(",\n")}
       |  FROM $in GROUP BY doc_id
       |), sig AS (
       |  SELECT doc_id,
       |         ${(0 until 60).map(i => s"(CASE WHEN v$i > 0 THEN CAST(${1L << i} AS BIGINT) ELSE 0 END)").mkString(" + ")} AS sim
       |  FROM sg
       |), bands AS (
       |${(0 until 4).map(b => s"  SELECT doc_id, sim, $b AS b, (sim >> ${15 * b}) & 32767 AS key FROM sig").mkString("\n  UNION ALL\n")}
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
       |         a.sim AS sa, b.sim AS sb
       |  FROM bands a JOIN bands b
       |    ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id
       |)
       |SELECT a_id, b_id,
       |       CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
       |FROM cand
       |WHERE bit_count(xor(sa, sb)) <= $maxHamming
       |ORDER BY a_id, b_id""".stripMargin

  /** txt_contamination's oracle — shared verbatim with the
    * driver-visible streaming twin (stream_contamination_feed): the
    * gate has no event time, so stream ≡ batch over EVERY row, not a
    * closed-day subset. */
  private lazy val contaminationSql: String = {
    val evalPred =
      "substr(md5(concat('eval#', CAST(doc_id AS VARCHAR))), 1, 2) < '10'"
    s"""WITH sh AS (
       |  SELECT DISTINCT doc_id, unnest(${bigramsSql("t")}) AS sx
       |  FROM (SELECT doc_id, $toksSql AS t FROM documents) x
       |  WHERE len(t) >= 2
       |), ev AS (
       |  SELECT DISTINCT sx FROM sh WHERE $evalPred
       |), tr AS (
       |  SELECT doc_id, sx FROM sh WHERE NOT ($evalPred)
       |)
       |SELECT tr.doc_id, COUNT(*) AS n_shingles,
       |       CAST(SUM(CASE WHEN ev.sx IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       |       CAST(SUM(CASE WHEN ev.sx IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |         / COUNT(*) AS contamination
       |FROM tr LEFT JOIN ev ON tr.sx = ev.sx
       |GROUP BY tr.doc_id ORDER BY doc_id""".stripMargin
  }

  /** Bigram-MLE LM sufficient statistics per doc — the kernel behind
    * txt_lm_score and txt_ccnet_bucket: (doc_id, n_bigrams, sfp) with
    * sfp = Σ floor(ln p(w2|w1)·10⁶) exact BIGINT. The SQL twin is
    * [[lmStatsCtes]] (CTE `a`). Shared per session, like
    * [[nearCloneShingles]]. */
  private[graft] def lmSuffStats(s: SparkSession, d: String): DataFrame = {
    val t = Tables.documents(s, d)
      .select(col("doc_id"), toks(col("text")).as("t"))
    val bg = t.select(col("doc_id"), explode(bigrams(col("t"))).as("b"))
    val cb = bg.groupBy("b").agg(count(lit(1)).as("cxy"))
    val cw = cb.groupBy(split(col("b"), " ").getItem(0).as("w1"))
      .agg(sum("cxy").cast("long").as("cx"))
    val p = bg.join(cb, Seq("b"))
      .join(broadcast(cw), split(col("b"), " ").getItem(0) === col("w1"))
      .select(col("doc_id"),
        floor(log(col("cxy").cast("double") / col("cx")) * 1000000).as("fp"))
    graft.Caches.shared(p.groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("fp").as("sfp")))
  }

  /** SQL mirror of [[lmSuffStats]]: CTEs `t, bg, cb, cw, p, a` with
    * `a(doc_id, n_bigrams, sfp)` as the consumable head. */
  private lazy val lmStatsCtes: String =
    s"""t AS (SELECT doc_id, $toksSql AS t FROM documents),
       |bg AS (SELECT doc_id, unnest(${bigramsSql("t")}) AS b FROM t),
       |cb AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS cxy FROM bg GROUP BY b),
       |cw AS (SELECT split_part(b, ' ', 1) AS w1,
       |              CAST(SUM(cxy) AS BIGINT) AS cx
       |       FROM cb GROUP BY 1),
       |p AS (SELECT g.doc_id,
       |        CAST(floor(ln(CAST(cb.cxy AS DOUBLE) / cw.cx) * 1000000)
       |          AS BIGINT) AS fp
       |      FROM bg g JOIN cb ON g.b = cb.b
       |      JOIN cw ON split_part(g.b, ' ', 1) = cw.w1),
       |a AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       |        CAST(SUM(fp) AS BIGINT) AS sfp
       |      FROM p GROUP BY doc_id)""".stripMargin

  val queries: Seq[Q] = Seq(

    // ── token counting ──────────────────────────────────────────────────

    Q("txt_tokens",
      s"""SELECT doc_id,
         |       len($toksSql) AS n_tokens,
         |       len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS n_subtokens,
         |       length(text) AS n_chars
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        size(toks(col("text"))).cast("long").as("n_tokens"),
        regexp_count(col("text"), lit("[a-z]+|[0-9]+")).cast("long").as("n_subtokens"),
        length(col("text")).cast("long").as("n_chars"))
        .orderBy("doc_id")
    },

    // ── language ID (stopword-marker heuristic) ────────────────────────

    Q("txt_langid", {
      val scores = Stop.map { case (l, ws) =>
        s"       ${countInSql("t", ws)} AS s_$l" }.mkString(",\n")
      val pred = Stop.map(_._1).foldRight("'zh'") { case (l, rest) =>
        val others = Stop.map(_._1).filterNot(_ == l)
          .map(o => s"s_$l >= s_$o").mkString(" AND ")
        s"CASE WHEN s_$l > 0 AND $others THEN '$l' ELSE $rest END" }
      s"""SELECT doc_id, s_en, s_de, s_es, s_fr, $pred AS predicted
         |FROM (
         |  SELECT doc_id,
         |$scores
         |  FROM (SELECT doc_id, $toksSql AS t FROM documents) x) y
         |ORDER BY doc_id""".stripMargin }) { (s, d) =>
      val base = Tables.documents(s, d)
        .select(col("doc_id"), toks(col("text")).as("t"))
      val scored = base.select(col("doc_id") +:
        Stop.map { case (l, ws) => countIn(col("t"), ws).cast("long").as(s"s_$l") }: _*)
      val pred = Stop.map(_._1).foldRight(lit("zh"): Column) { case (l, rest) =>
        val best = Stop.map(_._1).filterNot(_ == l)
          .map(o => col(s"s_$l") >= col(s"s_$o")).reduce(_ && _)
        when(col(s"s_$l") > 0 && best, l).otherwise(rest) }
      scored.withColumn("predicted", pred).orderBy("doc_id")
    },

    // ── quality scoring ────────────────────────────────────────────────

    Q("txt_quality",
      s"""SELECT doc_id, n_chars, n_tokens, n_punct,
         |       CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio,
         |       CAST(tok_chars AS DOUBLE) / n_tokens AS avg_token_len,
         |       0.5 * (CAST(n_stop AS DOUBLE) / n_tokens)
         |         + 0.3 * least(1.0, n_tokens / 100.0)
         |         + 0.2 * (1.0 - CAST(n_punct AS DOUBLE) / n_chars) AS quality
         |FROM (
         |  SELECT doc_id, length(text) AS n_chars, len(t) AS n_tokens,
         |         len(regexp_extract_all(text, '[.,!?;]')) AS n_punct,
         |         ${countInSql("t", Stop.flatMap(_._2))} AS n_stop,
         |         list_sum(list_transform(t, x -> length(x))) AS tok_chars
         |  FROM (SELECT doc_id, text, $toksSql AS t FROM documents) x) y
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val base = Tables.documents(s, d).select(col("doc_id"), col("text"),
        toks(col("text")).as("t"))
      val m = base.select(
        col("doc_id"), length(col("text")).as("n_chars"),
        size(col("t")).as("n_tokens"),
        regexp_count(col("text"), lit("[.,!?;]")).as("n_punct"),
        countIn(col("t"), Stop.flatMap(_._2)).as("n_stop"),
        aggregate(col("t"), lit(0), (a, x) => a + length(x)).as("tok_chars"))
      m.select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
        col("n_tokens").cast("long").as("n_tokens"),
        col("n_punct").cast("long").as("n_punct"),
        (col("n_stop").cast("double") / col("n_tokens")).as("stop_ratio"),
        (col("tok_chars").cast("double") / col("n_tokens")).as("avg_token_len"),
        (lit(0.5) * (col("n_stop").cast("double") / col("n_tokens"))
          + lit(0.3) * least(lit(1.0), col("n_tokens") / lit(100.0))
          + lit(0.2) * (lit(1.0) - col("n_punct").cast("double") / col("n_chars")))
          .as("quality"))
        .orderBy("doc_id")
    },

    // ── Zipf-rank / out-of-vocabulary quality signal ───────────────────

    // The LM-scoring quality signal in exact integer space: rank the
    // corpus token dictionary by frequency (Zipf rank, ties by term), fix
    // a top-K reference vocabulary, and score each document by its OOV
    // share and the mean rank of its in-vocabulary occurrences. A real
    // pipeline scores with an n-gram LM's log-probability; ln() is
    // libm-dependent (parity rule 3), so — like txt_tfidf's rational
    // idf — the engine keeps every step integer-exact (counts, ranks,
    // integer sums) with ONE final division per output column. Low mean
    // rank = common-token text; high oov_ratio = rare-vocab text: the
    // same axes a perplexity filter thresholds. K = 20 keeps an OOV
    // tail on the 31-term synthetic fixture; production K is 10^5-ish.
    //
    // Scale shape: the dictionary agg is map-side combined; the Zipf
    // rank comes from the distributed range-partition + zipWithIndex
    // ranker (no partition-less window even when the dictionary has
    // millions of terms); the K-row vocabulary broadcasts into the
    // token stream; one doc_id hash-agg ends the plan.
    Q("txt_zipf_rank",
      s"""WITH wc AS (
         |  SELECT x AS term, COUNT(*) AS n
         |  FROM (SELECT unnest($toksSql) AS x FROM documents) t GROUP BY 1
         |), vocab AS (
         |  SELECT term, rank FROM (
         |    SELECT term, CAST(row_number() OVER (ORDER BY n DESC, term) AS BIGINT) AS rank
         |    FROM wc) r WHERE rank <= 20
         |), tok AS (
         |  SELECT doc_id, x AS term
         |  FROM (SELECT doc_id, unnest($toksSql) AS x FROM documents) t
         |)
         |SELECT doc_id, COUNT(*) AS n_tokens,
         |       COUNT(CASE WHEN v.rank IS NULL THEN 1 END) AS n_oov,
         |       CAST(COUNT(CASE WHEN v.rank IS NULL THEN 1 END) AS DOUBLE)
         |         / COUNT(*) AS oov_ratio,
         |       CASE WHEN COUNT(*) > COUNT(CASE WHEN v.rank IS NULL THEN 1 END)
         |            THEN CAST(SUM(v.rank) AS DOUBLE)
         |                 / (COUNT(*) - COUNT(CASE WHEN v.rank IS NULL THEN 1 END))
         |       END AS mean_rank
         |FROM tok LEFT JOIN vocab v USING (term)
         |GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val wc = Tables.documents(s, d)
        .select(explode(toks(col("text"))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("n"))
      val vocab = Ranking.globalRowNumber(
          wc.withColumn("neg_n", -col("n")), Seq("neg_n", "term"))
        .filter(col("row_num") <= 20)
        .select(col("term"), col("row_num").as("rank"))
      Tables.documents(s, d)
        .select(col("doc_id"), explode(toks(col("text"))).as("term"))
        .join(broadcast(vocab), Seq("term"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          count(when(col("rank").isNull, 1)).as("n_oov"),
          sum(col("rank")).as("rank_sum"))
        .select(col("doc_id"), col("n_tokens"), col("n_oov"),
          (col("n_oov").cast("double") / col("n_tokens")).as("oov_ratio"),
          when(col("n_tokens") > col("n_oov"),
            col("rank_sum").cast("double") / (col("n_tokens") - col("n_oov")))
            .as("mean_rank"))
        .orderBy("doc_id")
    },

    // ── vocabulary coverage curve (tokenizer sizing) ───────────────────

    // "How big a vocabulary buys how much of the corpus?": for k ∈
    // {1,2,4,…,64}, the fraction of all corpus tokens covered by the
    // top-k terms — the curve that sizes a tokenizer vocabulary /
    // stopword list before training one. Ranks come from the
    // distributed ranker (txt_zipf_rank's discipline — never a global
    // window over the term dictionary); the k-grid is a 7-row
    // broadcast; counts are exact integers with ppm via integer
    // division and ONE pinned double. Scale shape: the dictionary agg
    // is map-side combined; everything after the rank is
    // 64-row-bounded.
    Q("txt_vocab_coverage",
      s"""WITH wc AS (
         |  SELECT x AS term, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM (SELECT unnest($toksSql) AS x FROM documents) t GROUP BY 1
         |), tot AS (
         |  SELECT CAST(SUM(n) AS BIGINT) AS t FROM wc
         |), top AS (
         |  SELECT term, n, rank FROM (
         |    SELECT term, n,
         |           CAST(row_number() OVER (ORDER BY n DESC, term)
         |                AS BIGINT) AS rank
         |    FROM wc) r WHERE rank <= 64
         |)
         |SELECT CAST(k.k AS BIGINT) AS k,
         |       CAST(COUNT(*) AS BIGINT) AS n_terms,
         |       CAST(SUM(n) AS BIGINT) AS covered_tokens,
         |       (CAST(SUM(n) AS BIGINT) * 1000000) // MAX(t)
         |         AS coverage_ppm,
         |       CAST(CAST(SUM(n) AS DOUBLE) / MAX(t) AS DOUBLE)
         |         AS coverage
         |FROM UNNEST([1, 2, 4, 8, 16, 32, 64]) AS k(k)
         |JOIN top ON top.rank <= k.k
         |CROSS JOIN tot
         |GROUP BY k.k ORDER BY k""".stripMargin) { (s, d) =>
      val wc = Tables.documents(s, d)
        .select(explode(toks(col("text"))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("n"))
      val tot = wc.agg(sum("n").as("t"))
      val top = Ranking.globalRowNumber(
          wc.withColumn("neg_n", -col("n")), Seq("neg_n", "term"))
        .filter(col("row_num") <= 64)
        .select(col("term"), col("n"), col("row_num").as("rank"))
      val kdf = {
        import s.implicits._
        Seq(1L, 2L, 4L, 8L, 16L, 32L, 64L).toDF("k")
      }
      top.join(broadcast(kdf), col("rank") <= col("k"))
        .crossJoin(broadcast(tot))
        .groupBy("k")
        .agg(count(lit(1)).as("n_terms"), sum("n").as("covered_tokens"),
          max("t").as("t"))
        .select(col("k"), col("n_terms"), col("covered_tokens"),
          expr("(covered_tokens * 1000000) div t").as("coverage_ppm"),
          (col("covered_tokens").cast("double") / col("t"))
            .as("coverage"))
        .orderBy("k")
    },

    // ── document fingerprinting ────────────────────────────────────────

    // Order-insensitive content fingerprint: md5 of the sorted distinct
    // token set (byte-identical hex in both engines).
    Q("txt_fingerprint",
      s"""SELECT doc_id,
         |       md5(array_to_string(list_sort(list_distinct($toksSql)), ' ')) AS fp
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        md5(concat_ws(" ", array_sort(array_distinct(toks(col("text"))))))
          .as("fp"))
        .orderBy("doc_id")
    },

    // ── exact dedup (hash-groupBy) ─────────────────────────────────────

    // Deterministic exact dedup: group on md5(text), keep min doc_id.
    // (dropDuplicates picks an arbitrary survivor; min-groupBy is the
    // deterministic, shuffle-equivalent form.)
    Q("dedup_exact",
      s"""WITH $withClonesSql
         |SELECT md5(text) AS h, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
         |FROM docs GROUP BY md5(text) ORDER BY keep_id""".stripMargin) {
      (s, d) =>
        withClones(s, d)
          .groupBy(md5(col("text")).as("h"))
          .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
          .orderBy("keep_id")
    },

    // Exact dedup AFTER canonical text normalization (lowercase, strip
    // non-alphanumerics, collapse whitespace, trim) — the actual first
    // stage of a crawl pipeline: byte-identical dedup misses the same
    // document re-encoded with different casing/punctuation/spacing.
    // The messy twins here (uppercased + trailing " !!") collapse onto
    // their originals only through the normalization, so the query
    // fails if any normalization step regresses. Same scale shape as
    // dedup_exact: per-row codegen'd normalize → md5 → ONE hash
    // aggregate; the normalized form is never shuffled, only its hash.
    Q("dedup_exact_norm",
      """WITH docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 30000 AS doc_id, upper(text) || '  !!' AS text
        |  FROM documents WHERE doc_id % 5 = 0
        |), norm AS (
        |  SELECT doc_id,
        |         trim(regexp_replace(regexp_replace(lower(text),
        |           '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS ntext
        |  FROM docs
        |)
        |SELECT md5(ntext) AS h, MIN(doc_id) AS keep_id,
        |       COUNT(*) AS n_copies
        |FROM norm GROUP BY md5(ntext) ORDER BY keep_id""".stripMargin) {
      (s, d) =>
        val base = Tables.documents(s, d).select("doc_id", "text")
        val docs = base.unionByName(
          base.filter(col("doc_id") % 5 === 0)
            .select((col("doc_id") + 30000).as("doc_id"),
              concat(upper(col("text")), lit("  !!")).as("text")))
        val ntext = trim(regexp_replace(regexp_replace(lower(col("text")),
          "[^a-z0-9 ]", ""), " +", " "))
        docs.select(col("doc_id"), md5(ntext).as("h"))
          .groupBy("h")
          .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
          .orderBy("keep_id")
    },

    // ── n-gram Jaccard (candidate-pair verification) ───────────────────

    // Bigram-shingle Jaccard over an explicit candidate window
    // (doc_id < 40 all-pairs here; at scale the pairs come from the
    // MinHash bands below).
    Q("dedup_ngram_jaccard",
      s"""WITH t AS (
         |  SELECT doc_id, ${bigramsSql("t")} AS sh
         |  FROM (SELECT doc_id, $toksSql AS t FROM documents WHERE doc_id < 40) x
         |  WHERE len(t) >= 2
         |), e AS (
         |  SELECT DISTINCT doc_id, unnest(sh) AS s FROM t
         |), sz AS (
         |  SELECT doc_id, COUNT(*) AS n FROM e GROUP BY doc_id
         |), inter AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_inter
         |  FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id
         |)
         |SELECT a_id, b_id, n_inter, sa.n AS n_a, sb.n AS n_b,
         |       CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) AS jaccard
         |FROM inter JOIN sz sa ON a_id = sa.doc_id JOIN sz sb ON b_id = sb.doc_id
         |ORDER BY a_id, b_id""".stripMargin) { (s, d) =>
      val t = Tables.documents(s, d).filter(col("doc_id") < 40)
        .select(col("doc_id"), toks(col("text")).as("t"))
        .filter(size(col("t")) >= 2)
        .select(col("doc_id"), bigrams(col("t")).as("sh"))
      // distinct (doc_id, shingle) pairs, shingles as xxhash64 ints:
      // the set sizes and intersection counts are identical to the
      // string form (collision odds ~n²/2⁶⁴), but distinct/join keys
      // are 8-byte longs instead of ~40-byte strings. Materialized ONCE
      // (Caches.shared — the self-join + two size joins would otherwise
      // re-run the scan→tokenize→explode→distinct pipeline four times;
      // the registry gives the session driver the release path).
      val e = graft.Caches.shared(
        t.select(col("doc_id"), explode(col("sh")).as("s"))
          .select(col("doc_id"), xxhash64(col("s")).as("s"))
          .distinct())
      val sz = e.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val ea = e.select(col("doc_id").as("a_id"), col("s"))
      val eb = e.select(col("doc_id").as("b_id"), col("s"))
      val inter = ea.join(eb, ea("s") === eb("s") && col("a_id") < col("b_id"))
        .groupBy("a_id", "b_id").agg(count(lit(1)).as("n_inter"))
      inter
        .join(sz.select(col("doc_id").as("a_id"), col("n").as("n_a")), Seq("a_id"))
        .join(sz.select(col("doc_id").as("b_id"), col("n").as("n_b")), Seq("b_id"))
        .select(col("a_id"), col("b_id"), col("n_inter"), col("n_a"), col("n_b"),
          (col("n_inter").cast("double")
            / (col("n_a") + col("n_b") - col("n_inter"))).as("jaccard"))
        .orderBy("a_id", "b_id")
    },

    // ── b-bit minhash (Li & König, WWW'10) ─────────────────────────────

    // The storage-collapsed signature: keep only the LOWEST BIT of each
    // of 32 independent min-hashes, so a document's near-dup signature
    // is ONE BIGINT (32 bits) instead of 32 full hashes — the 64×
    // memory cut that makes billion-doc signature tables fit in RAM.
    // For candidate pairs (the shared 2×2 MinHash banding), agreement
    // A/32 estimates (1+J)/2, so Ĵ₁ = 2·A/32 − 1 (the r≈0 limit of the
    // paper's C₁/C₂-corrected estimator — the bias at this shingle
    // density is what the err column MEASURES against exact Jaccard).
    // Engine parity: bits are "last md5 hex char odd", packing is an
    // exact integer sum of power-of-two literals, agreement is
    // 32 − bit_count(xor), and the two doubles are single pinned
    // divisions. Scale shape: 32 min-aggs ride ONE map-side-combined
    // doc_id pass; the xor-popcount runs on the bounded candidate set;
    // the exact-Jaccard audit joins shingles only through candidates.
    Q("dedup_bbit", {
      val sigs = (0 until 32).map(k =>
        s"min(md5(concat('bb$k#', sx))) AS h$k")
        .mkString(",\n         ")
      val pack = (0 until 32).map(k =>
        s"CASE WHEN substr(h$k, 32, 1) IN ('1','3','5','7','9','b','d','f')"
          + s" THEN ${1L << k} ELSE 0 END").mkString("\n         + ")
      s"""WITH $minhashCandSql,
         |bsig AS (
         |  SELECT doc_id,
         |         $sigs
         |  FROM (SELECT doc_id, unnest(sh) AS sx FROM t) u
         |  GROUP BY doc_id
         |), packed AS (
         |  SELECT doc_id, CAST($pack AS BIGINT) AS sig FROM bsig
         |), agree AS (
         |  SELECT c.a_id, c.b_id,
         |         CAST(32 - bit_count(xor(pa.sig, pb.sig)) AS BIGINT)
         |           AS agree_bits
         |  FROM cand c
         |  JOIN packed pa ON c.a_id = pa.doc_id
         |  JOIN packed pb ON c.b_id = pb.doc_id
         |), e AS (
         |  SELECT DISTINCT doc_id, unnest(sh) AS s FROM t
         |), sz AS (
         |  SELECT doc_id, COUNT(*) AS n FROM e GROUP BY doc_id
         |), inter AS (
         |  SELECT c.a_id, c.b_id, CAST(COUNT(*) AS BIGINT) AS n_inter
         |  FROM cand c
         |  JOIN e a ON a.doc_id = c.a_id
         |  JOIN e b ON b.doc_id = c.b_id AND a.s = b.s
         |  GROUP BY c.a_id, c.b_id
         |)
         |SELECT g.a_id, g.b_id, g.agree_bits,
         |       CAST(CAST(g.agree_bits * 2 - 32 AS DOUBLE) / 32 AS DOUBLE)
         |         AS j_bbit,
         |       CAST(i.n_inter AS DOUBLE)
         |         / (sa.n + sb.n - i.n_inter) AS j_exact,
         |       CAST(CAST(g.agree_bits * 2 - 32 AS DOUBLE) / 32
         |            - CAST(i.n_inter AS DOUBLE)
         |              / (sa.n + sb.n - i.n_inter) AS DOUBLE) AS err
         |FROM agree g
         |JOIN inter i ON g.a_id = i.a_id AND g.b_id = i.b_id
         |JOIN sz sa ON g.a_id = sa.doc_id
         |JOIN sz sb ON g.b_id = sb.doc_id
         |ORDER BY g.a_id, g.b_id""".stripMargin
    }) { (s, d) =>
      // the exploded shingle stage feeds the 32-min signature aggregate
      // AND the exact-Jaccard audit below
      val sh = nearCloneShingles(s, d)
      val sigAggs = (0 until 32).map(k =>
        min(md5(concat(lit(s"bb$k#"), col("sx")))).as(s"h$k"))
      val oddBit = (k: Int) => when(
        substring(col(s"h$k"), 32, 1)
          .isin("1", "3", "5", "7", "9", "b", "d", "f"),
        lit(1L << k)).otherwise(lit(0L))
      val packed = sh.groupBy("doc_id")
        .agg(sigAggs.head, sigAggs.tail: _*)
        .select(col("doc_id"),
          (0 until 32).map(oddBit).reduce(_ + _).as("sig"))
      val cand = minhashCandidates(s, d)
      val agree = cand
        .join(packed.select(col("doc_id").as("a_id"), col("sig").as("siga")),
          Seq("a_id"))
        .join(packed.select(col("doc_id").as("b_id"), col("sig").as("sigb")),
          Seq("b_id"))
        .select(col("a_id"), col("b_id"),
          (lit(32) - bit_count(col("siga").bitwiseXOR(col("sigb"))))
            .cast("long").as("agree_bits"))
      val e = sh.distinct()
      val sz = e.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val inter = cand
        .join(e.select(col("doc_id").as("a_id"), col("sx")), Seq("a_id"))
        .join(e.select(col("doc_id").as("b_id"), col("sx")),
          Seq("b_id", "sx"))
        .groupBy("a_id", "b_id").agg(count(lit(1)).as("n_inter"))
      val jExact = col("n_inter").cast("double") /
        (col("n_a") + col("n_b") - col("n_inter"))
      val jBbit = (col("agree_bits") * 2 - 32).cast("double") / 32
      agree
        .join(inter, Seq("a_id", "b_id"))
        .join(sz.select(col("doc_id").as("a_id"), col("n").as("n_a")),
          Seq("a_id"))
        .join(sz.select(col("doc_id").as("b_id"), col("n").as("n_b")),
          Seq("b_id"))
        .select(col("a_id"), col("b_id"), col("agree_bits"),
          jBbit.as("j_bbit"), jExact.as("j_exact"),
          (jBbit - jExact).as("err"))
        .orderBy("a_id", "b_id")
    },

    // ── near-superset detection (Broder containment) ───────────────────

    // Jaccard misses the asymmetric dup: a short doc wrapped in
    // boilerplate (quote-inclusion, template framing) has low UNION
    // similarity but near-total CONTAINMENT C(A→B) = |S(A)∩S(B)| / |S(A)|.
    // Directed pairs with C ≥ 0.8 over the near-clone corpus (each
    // source doc is genuinely contained in its tail-padded clone).
    // Scale shape — candidates come from the SAME session-cached
    // MinHash banding the whole dedup family shares (shingle → salted
    // min-hash → 2×2 bands → bucket equi-join; the oracle mirrors it
    // term for term, the dedup_minhash precedent), then the exact
    // directed gate 5·I ≥ 4·|A| re-proves every surviving pair in
    // both directions from ONE symmetric intersection count. The
    // banding's recall envelope is Jaccard-shaped — fine here (a
    // tail-padded clone pair has J ≈ 0.95 → band hit ≈ 1−(1−J²)² ≈
    // 0.995) and for every near-mutual-containment case; a SHORT doc
    // inside a much longer one has low J at high C, and the scale
    // answer there is size-partitioned banding (LSH Ensemble,
    // VLDB'16) — same plan shape per size band, J bounded below
    // within a band. Two designs measured and rejected on this
    // corpus's degenerate 963-bigram vocabulary (median posting 312):
    // share-≥1-rare-shingle candidates (150 s at sf0.1) and the
    // lossless counted-prefix pigeonhole filter (24 s — right design
    // under a realistic Zipf vocabulary, where rare postings are
    // short; ~35M probe-join rows here because NO shingle is rare).
    // Exact integer gate and cont_pct in BIGINT div — no float
    // thresholds. TextOpsSpec pins source→clone recall in-JVM.
    Q("dedup_containment",
      s"""WITH ${minhashCandSql},
         |e AS (
         |  SELECT DISTINCT doc_id, unnest(sh) AS s FROM t
         |), sz AS (
         |  SELECT doc_id, COUNT(*) AS n FROM e GROUP BY doc_id
         |), inter AS (
         |  SELECT c.a_id, c.b_id, COUNT(*) AS n_inter
         |  FROM cand c
         |  JOIN e ea ON ea.doc_id = c.a_id
         |  JOIN e eb ON eb.doc_id = c.b_id AND eb.s = ea.s
         |  GROUP BY 1, 2
         |), both_dir AS (
         |  SELECT a_id, b_id, n_inter FROM inter
         |  UNION ALL
         |  SELECT b_id AS a_id, a_id AS b_id, n_inter FROM inter
         |)
         |SELECT a_id, b_id, CAST(n_inter AS BIGINT) AS n_inter,
         |       CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
         |       CAST((100 * n_inter) // sa.n AS BIGINT) AS cont_pct
         |FROM both_dir
         |JOIN sz sa ON a_id = sa.doc_id
         |JOIN sz sb ON b_id = sb.doc_id
         |WHERE 5 * n_inter >= 4 * sa.n
         |ORDER BY a_id, b_id""".stripMargin) { (s, d) =>
      val e = hashedShingles(s, d)
      val cand = minhashCandidates(s, d)
      val sz = e.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val inter = cand
        .join(e.select(col("doc_id").as("a_id"), col("s")), Seq("a_id"))
        .join(e.select(col("doc_id").as("b_id"), col("s")), Seq("b_id", "s"))
        .groupBy("a_id", "b_id").agg(count(lit(1)).as("n_inter"))
      // one symmetric count serves both directed gates
      val bothDir = inter.unionByName(inter.select(
        col("b_id").as("a_id"), col("a_id").as("b_id"), col("n_inter")))
      bothDir
        .join(sz.select(col("doc_id").as("a_id"), col("n").as("n_a")), Seq("a_id"))
        .join(sz.select(col("doc_id").as("b_id"), col("n").as("n_b")), Seq("b_id"))
        .filter(expr("5 * n_inter >= 4 * n_a"))
        .select(col("a_id"), col("b_id"), col("n_inter"), col("n_a"), col("n_b"),
          expr("(100 * n_inter) div n_a").as("cont_pct"))
        .orderBy("a_id", "b_id")
    },

    // ── LSH Ensemble: size-partitioned containment banding ─────────────

    // The scale path dedup_containment's scaladoc names as future work,
    // now executable (LSH Ensemble, Zhu et al., VLDB'16): plain
    // Jaccard banding under-recalls exactly the containment case that
    // matters — a SHORT doc inside a much longer one has high C(A→B)
    // but low J, because J ≥ C·|A|/(|A|+|B|−I) shrinks with the size
    // ratio. The ensemble fix: partition the INDEX by set size and
    // tune the banding per partition — same-size partitions (J ≈ C)
    // band strictly (1 band × all 4 hashes: low false-candidate
    // volume), large-size partitions (J ≪ C possible) band loosely:
    // COMBINATORIAL 2-hash bands, all C(4,2) = 6 pairs, so
    // P[hit] = 1−(1−J²)⁶ keeps recall at low J while each band still
    // selects at J² (measured on this corpus: 4 bands × 1 raw hash
    // selected at J and mega-bucketed the 963-bigram degenerate vocab
    // into 1.03M candidates at sf0.1; the 6-pair scheme admits 61k —
    // 17× less — at ~equal planted recall).
    // Each doc is INDEXED once under its own partition's scheme;
    // every doc PROBES all partitions (emitting that partition's key
    // shape), with the |A| ≤ |B| direction gate making the pair
    // (contained → container) directed. Candidates then re-prove
    // through the SAME exact intersection gate as dedup_containment
    // (5·I ≥ 4·|A|), so looser banding can only add candidates, never
    // false results. Scale shape: per-partition band equi-joins —
    // never all-pairs — and the probe side is |docs| × 9 band rows
    // (Σ bands over the 3 schemes), constant fan-out; the exact gate
    // touches candidates only. Size thresholds 32/64 split the
    // fixture's 9..95-bigram corpus at its median, exercising all
    // three schemes (spec-pinned).
    Q("dedup_containment_ensemble",
      s"""WITH ${minhashCandSql},
         |e AS (
         |  SELECT DISTINCT doc_id, unnest(sh) AS s FROM t
         |), sz AS (
         |  SELECT doc_id, COUNT(*) AS n FROM e GROUP BY doc_id
         |), ss AS (
         |  SELECT sig.doc_id, h0, h1, h2, h3, sz.n,
         |         CASE WHEN sz.n < 32 THEN 0
         |              WHEN sz.n < 64 THEN 1 ELSE 2 END AS hp
         |  FROM sig JOIN sz USING (doc_id)
         |), eidx AS (
         |  SELECT doc_id, n, 0 AS p, 0 AS band, concat(h0, h1, h2, h3) AS key
         |  FROM ss WHERE hp = 0
         |  UNION ALL SELECT doc_id, n, 1, 0, concat(h0, h1) FROM ss WHERE hp = 1
         |  UNION ALL SELECT doc_id, n, 1, 1, concat(h2, h3) FROM ss WHERE hp = 1
         |  UNION ALL SELECT doc_id, n, 2, 0, concat(h0, h1) FROM ss WHERE hp = 2
         |  UNION ALL SELECT doc_id, n, 2, 1, concat(h0, h2) FROM ss WHERE hp = 2
         |  UNION ALL SELECT doc_id, n, 2, 2, concat(h0, h3) FROM ss WHERE hp = 2
         |  UNION ALL SELECT doc_id, n, 2, 3, concat(h1, h2) FROM ss WHERE hp = 2
         |  UNION ALL SELECT doc_id, n, 2, 4, concat(h1, h3) FROM ss WHERE hp = 2
         |  UNION ALL SELECT doc_id, n, 2, 5, concat(h2, h3) FROM ss WHERE hp = 2
         |), eprobe AS (
         |  SELECT doc_id, n, 0 AS p, 0 AS band, concat(h0, h1, h2, h3) AS key
         |  FROM ss
         |  UNION ALL SELECT doc_id, n, 1, 0, concat(h0, h1) FROM ss
         |  UNION ALL SELECT doc_id, n, 1, 1, concat(h2, h3) FROM ss
         |  UNION ALL SELECT doc_id, n, 2, 0, concat(h0, h1) FROM ss
         |  UNION ALL SELECT doc_id, n, 2, 1, concat(h0, h2) FROM ss
         |  UNION ALL SELECT doc_id, n, 2, 2, concat(h0, h3) FROM ss
         |  UNION ALL SELECT doc_id, n, 2, 3, concat(h1, h2) FROM ss
         |  UNION ALL SELECT doc_id, n, 2, 4, concat(h1, h3) FROM ss
         |  UNION ALL SELECT doc_id, n, 2, 5, concat(h2, h3) FROM ss
         |), ecand AS (
         |  SELECT DISTINCT q.doc_id AS a_id, i.doc_id AS b_id, i.p
         |  FROM eprobe q JOIN eidx i
         |    ON q.p = i.p AND q.band = i.band AND q.key = i.key
         |   AND q.doc_id <> i.doc_id AND q.n <= i.n
         |), einter AS (
         |  SELECT c.a_id, c.b_id, c.p, COUNT(*) AS n_inter
         |  FROM ecand c
         |  JOIN e ea ON ea.doc_id = c.a_id
         |  JOIN e eb ON eb.doc_id = c.b_id AND eb.s = ea.s
         |  GROUP BY 1, 2, 3
         |)
         |SELECT a_id, b_id, CAST(p AS BIGINT) AS size_part,
         |       CAST(n_inter AS BIGINT) AS n_inter,
         |       CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
         |       CAST((100 * n_inter) // sa.n AS BIGINT) AS cont_pct
         |FROM einter
         |JOIN sz sa ON a_id = sa.doc_id
         |JOIN sz sb ON b_id = sb.doc_id
         |WHERE 5 * n_inter >= 4 * sa.n
         |ORDER BY a_id, b_id""".stripMargin) { (s, d) =>
      val (e, sz, cand) = ensembleStages(s, d)
      val inter = cand
        .join(e.select(col("doc_id").as("a_id"), col("s")), Seq("a_id"))
        .join(e.select(col("doc_id").as("b_id"), col("s")), Seq("b_id", "s"))
        .groupBy("a_id", "b_id", "p").agg(count(lit(1)).as("n_inter"))
      inter
        .join(sz.select(col("doc_id").as("a_id"), col("n").as("n_a")),
          Seq("a_id"))
        .join(sz.select(col("doc_id").as("b_id"), col("n").as("n_b")),
          Seq("b_id"))
        .filter(expr("5 * n_inter >= 4 * n_a"))
        .select(col("a_id"), col("b_id"),
          col("p").cast("long").as("size_part"),
          col("n_inter"), col("n_a"), col("n_b"),
          expr("(100 * n_inter) div n_a").as("cont_pct"))
        .orderBy("a_id", "b_id")
    },

    // ── exact substring dedup (duplicated-span removal) ────────────────

    // Doc-level dedup keeps one copy of a near-clone PAIR; exact
    // substring dedup (Lee et al., "Deduplicating Training Data Makes
    // Language Models Better", ACL'22) removes the duplicated SPANS
    // themselves — the memorization-prone repeated passages that
    // survive doc-level dedup because their host docs differ. Suffix
    // arrays don't distribute; the Spark form: every 8-token gram with
    // ≥ 2 corpus-wide occurrences marks its [i, i+7] token span, and
    // overlapping marks merge per doc into removal spans. Output =
    // (doc, span_start, span_end, span_tokens), all exact integers.
    // Scale shape: grams are built INSIDE one per-row transform (the
    // token array never rides an exploded row), count via one
    // map-side-combined hash agg, occurrences via one gram-keyed
    // equi-join, merge via two doc-partitioned windows — partitions
    // are doc-sized, never corpus-sized. The near-clone corpus plants
    // true full-doc duplicate spans; random 8-gram repeats are
    // vanishingly rare (vocab³⁰ ≫ corpus grams), so spans ≈ the
    // planted clones — TextOpsSpec replays the whole pipeline in-JVM.
    Q("dedup_substring",
      s"""WITH $withNearClonesSql,
         |$dupSpanCtes
         |SELECT doc_id, CAST(span_start AS BIGINT) AS span_start,
         |       CAST(span_end AS BIGINT) AS span_end,
         |       CAST(span_end - span_start + 1 AS BIGINT) AS span_tokens
         |FROM spans ORDER BY doc_id, span_start""".stripMargin) { (s, d) =>
      dupSpans(s, d)
        .select(col("doc_id"),
          col("span_start").cast("long").as("span_start"),
          col("span_end").cast("long").as("span_end"),
          (col("span_end") - col("span_start") + 1).cast("long")
            .as("span_tokens"))
        .orderBy("doc_id", "span_start")
    },

    // The REMOVAL half of ExactSubstr dedup: cut every duplicated span
    // and reassemble the cleaned text. Duplicate positions come from
    // exploding the (already-merged, hence disjoint) spans, so the cut
    // is a plain (doc_id, position) equi-ANTI-join — no range join, no
    // per-token span probe. Reassembly sorts the kept (position, token)
    // structs INSIDE the aggregate (array_sort of collect_list), so no
    // window and no per-doc shuffle beyond the one groupBy. Docs whose
    // every token sat in a span come back as '' (the caller's
    // drop-if-empty filter, kept visible rather than pre-applied).
    Q("dedup_substring_cut",
      s"""WITH $withNearClonesSql,
         |$dupSpanCtes,
         |pos AS (
         |  SELECT t.doc_id, r.i, t.t[r.i] AS tok
         |  FROM t, UNNEST(range(1, len(t.t) + 1)) AS r(i)
         |), kept AS (
         |  SELECT p.doc_id, p.i, p.tok FROM pos p
         |  WHERE NOT EXISTS (SELECT 1 FROM spans sp
         |                    WHERE sp.doc_id = p.doc_id
         |                      AND p.i BETWEEN sp.span_start AND sp.span_end)
         |), kagg AS (
         |  SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS clean_text,
         |         COUNT(*) AS n_kept
         |  FROM kept GROUP BY doc_id
         |)
         |SELECT t.doc_id, coalesce(a.clean_text, '') AS clean_text,
         |       CAST(len(t.t) - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed
         |FROM t LEFT JOIN kagg a USING (doc_id)
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val tk = withNearClones(s, d)
        .select(col("doc_id"), toks(col("text")).as("t"))
      val pos = tk
        .select(col("doc_id"), posexplode(col("t")).as(Seq("i0", "tok")))
        .select(col("doc_id"), (col("i0") + 1).as("i"), col("tok"))
      val dupPos = dupSpans(s, d)
        .select(col("doc_id"),
          explode(sequence(col("span_start"), col("span_end"))).as("i"))
      val kagg = pos.join(dupPos, Seq("doc_id", "i"), "left_anti")
        .groupBy("doc_id")
        .agg(
          concat_ws(" ", transform(
            array_sort(collect_list(struct(col("i"), col("tok")))),
            x => x.getField("tok"))).as("clean_text"),
          count(lit(1)).as("n_kept"))
      tk.select(col("doc_id"), size(col("t")).as("n_toks"))
        .join(kagg, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("clean_text"), lit("")).as("clean_text"),
          (col("n_toks") - coalesce(col("n_kept"), lit(0L))).cast("long")
            .as("n_removed"))
        .orderBy("doc_id")
    },

    // ── MinHash + LSH banding ──────────────────────────────────────────

    // 4 salted min-hashes over bigram shingles (lexicographic min of
    // md5(salt‖shingle) — engine-identical), banded 2×2; candidate pairs
    // share a band bucket. shingle→minhash→band→bucket-join, the
    // standard LSH pipeline: at 100 TB each band join is a shuffle on
    // the band key, never all-pairs.
    Q("dedup_minhash", {
      val sigs = (0 until 4).map(k =>
        s"min(md5(concat('salt$k#', sx))) AS h$k")
        .mkString(",\n         ")
      s"""WITH $withNearClonesSql,
         |t AS (
         |  SELECT doc_id, ${bigramsSql("t")} AS sh
         |  FROM (SELECT doc_id, $toksSql AS t FROM docs) x
         |  WHERE len(t) >= 2
         |), sig AS (
         |  SELECT doc_id,
         |         $sigs
         |  FROM (SELECT doc_id, unnest(sh) AS sx FROM t) u
         |  GROUP BY doc_id
         |), bands AS (
         |  SELECT doc_id, 0 AS band, concat(h0, h1) AS key FROM sig
         |  UNION ALL
         |  SELECT doc_id, 1 AS band, concat(h2, h3) AS key FROM sig
         |)
         |SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |FROM bands a JOIN bands b
         |  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
         |ORDER BY a_id, b_id""".stripMargin }) { (s, d) =>
      minhashCandidates(s, d).orderBy("a_id", "b_id")
    },

    // ── deterministic stratified sampling ──────────────────────────────

    // Reproducible training-data subsampling: keep a row iff a salted
    // md5 prefix of its key falls under the stratum's hex threshold —
    // per-language rates here ('en' ≈ 50%, others ≈ 12.5%). Pure
    // per-row codegen'd filter: no RNG state, no shuffle, identical
    // sample on ANY cluster/partitioning, rerun-stable — the property
    // `df.sample()` cannot give across engines or re-runs.
    Q("txt_sample_stratified",
      """SELECT doc_id, lang FROM documents
        |WHERE substr(md5(concat('graft#', CAST(doc_id AS VARCHAR))), 1, 2) <
        |      CASE WHEN lang = 'en' THEN '80' ELSE '20' END
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .filter(
          substring(md5(concat(lit("graft#"), col("doc_id").cast("string"))),
            1, 2) < when(col("lang") === "en", "80").otherwise("20"))
        .select("doc_id", "lang")
        .orderBy("doc_id")
    },

    // Quality-WEIGHTED deterministic sampling: P(keep) = quality score
    // (the curation move after scoring — keep most of the good text,
    // thin the boilerplate, without a hard cutoff that wastes the
    // mid-band). The uniform draw is TWO MINSTD LCG rounds on doc_id —
    // two, because one multiply of a small id stays tiny
    // (id·48271/2³¹ < 0.012 for this corpus: everything would pass);
    // the second round wraps the modulus and spreads. Exact BIGINT
    // arithmetic bounded under 2⁶³ in EITHER engine (DuckDB errors on
    // BIGINT overflow where Spark wraps, so md5-hex→int conversions
    // and 64-bit multiply-mixers are out), divided once to double; the
    // quality expression is txt_quality's, already hash-parity-proven.
    // Per-row filter: zero shuffle at any corpus size.
    Q("txt_sample_weighted",
      s"""SELECT doc_id,
         |       0.5 * (CAST(n_stop AS DOUBLE) / n_tokens)
         |         + 0.3 * least(1.0, n_tokens / 100.0)
         |         + 0.2 * (1.0 - CAST(n_punct AS DOUBLE) / n_chars) AS quality
         |FROM (
         |  SELECT doc_id, length(text) AS n_chars, len(t) AS n_tokens,
         |         len(regexp_extract_all(text, '[.,!?;]')) AS n_punct,
         |         ${countInSql("t", Stop.flatMap(_._2))} AS n_stop
         |  FROM (SELECT doc_id, text, $toksSql AS t FROM documents) x) y
         |WHERE CAST((((doc_id * 48271 + 11) % 2147483647) * 48271)
         |             % 2147483647 AS DOUBLE) / 2147483647.0
         |      < 0.5 * (CAST(n_stop AS DOUBLE) / n_tokens)
         |        + 0.3 * least(1.0, n_tokens / 100.0)
         |        + 0.2 * (1.0 - CAST(n_punct AS DOUBLE) / n_chars)
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val base = Tables.documents(s, d).select(col("doc_id"), col("text"),
        toks(col("text")).as("t"))
      val m = base.select(
        col("doc_id"), length(col("text")).as("n_chars"),
        size(col("t")).as("n_tokens"),
        regexp_count(col("text"), lit("[.,!?;]")).as("n_punct"),
        countIn(col("t"), Stop.flatMap(_._2)).as("n_stop"))
      val quality =
        lit(0.5) * (col("n_stop").cast("double") / col("n_tokens")) +
          lit(0.3) * least(lit(1.0), col("n_tokens") / lit(100.0)) +
          lit(0.2) * (lit(1.0) - col("n_punct").cast("double") / col("n_chars"))
      val u = ((((col("doc_id") * 48271 + 11) % 2147483647L) * 48271)
        % 2147483647L).cast("double") / lit(2147483647.0)
      m.filter(u < quality)
        .select(col("doc_id"), quality.as("quality"))
        .orderBy("doc_id")
    },

    // EXACT-k deterministic stratified sample — the fixed-size
    // eval/dev-set primitive the threshold sample above cannot give:
    // that filter yields an EXPECTED rate per stratum, but held-out
    // sets need "exactly 64 docs per language, stable across reruns
    // AND engines". Sample = the k smallest salted md5 draws per
    // stratum (pure function of the ids — no RNG state, engine-
    // identical, and ADDING documents only evicts from the boundary).
    // One rank window partitioned by stratum; strata are few and
    // bounded here — when ONE stratum is corpus-scale, the bounded
    // O(k)-state bottom-k aggregator shape (functions/BottomKSample,
    // map-side-combinable) replaces the per-stratum sort with the
    // identical answer, the same window→aggregator trade pinned for
    // quantiles in SketchSpec.
    Q("txt_sample_exact_k",
      """SELECT lang, doc_id FROM (
        |  SELECT lang, doc_id,
        |         row_number() OVER (PARTITION BY lang ORDER BY
        |           md5(concat('graft-k#', CAST(doc_id AS VARCHAR)))) AS rn
        |  FROM documents) x
        |WHERE rn <= 64
        |ORDER BY lang, doc_id""".stripMargin) { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window.partitionBy("lang")
        .orderBy(md5(concat(lit("graft-k#"), col("doc_id").cast("string"))))
      Tables.documents(s, d)
        .select(col("lang"), col("doc_id"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 64)
        .select("lang", "doc_id")
        .orderBy("lang", "doc_id")
    },

    // ── corpus vocabulary heavy hitters ────────────────────────────────

    // Top-100 terms by corpus frequency (vocab building / contamination
    // scanning). Scale shape: explode → one map-side-combined hash
    // aggregate on term, then orderBy+limit — Spark plans a distributed
    // TakeOrderedAndProject (per-partition partial top-k), NEVER a
    // partition-less row_number window over the whole vocabulary.
    Q("txt_vocab_topk",
      s"""SELECT term, n FROM (
         |  SELECT term, COUNT(*) AS n
         |  FROM (SELECT unnest($toksSql) AS term FROM documents) t
         |  GROUP BY term
         |) ORDER BY n DESC, term LIMIT 100""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(explode(toks(col("text"))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("term"))
        .limit(100)
    },

    // ── frequency-threshold heavy hitters ──────────────────────────────

    // Every token whose corpus frequency exceeds n/(K+1) (K = 64) — the
    // EXACT answer that a Misra-Gries sketch (functions/FreqSketch:
    // bounded K-counter state, map-side-combinable merge) guarantees to
    // contain; FreqSketchSpec pins the sketch's superset + error-bound
    // contract against these counts. Differs from txt_vocab_topk (fixed
    // top-k) in asking a threshold question whose answer SIZE the data
    // decides. The bar is the integer comparison cnt·(K+1) > n — no
    // doubles in the predicate; the reported fraction is the single
    // final division.
    Q("sketch_heavyhitters",
      s"""WITH wc AS (
         |  SELECT term, COUNT(*) AS cnt
         |  FROM (SELECT unnest($toksSql) AS term FROM documents) t
         |  GROUP BY term
         |), tot AS (
         |  SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM wc
         |)
         |SELECT term, cnt, n, CAST(cnt AS DOUBLE) / n AS frac
         |FROM wc, tot
         |WHERE cnt * 65 > n
         |ORDER BY term""".stripMargin) { (s, d) =>
      val wc = Tables.documents(s, d)
        .select(explode(toks(col("text"))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("cnt"))
      val tot = wc.agg(sum(col("cnt")).as("n"))
      wc.crossJoin(broadcast(tot)) // one-row corpus total: broadcast
        .filter(col("cnt") * 65 > col("n"))
        .select(col("term"), col("cnt"), col("n"),
          (col("cnt").cast("double") / col("n")).as("frac"))
        .orderBy("term")
    },

    // ── streaming heavy-hitters feed, driver-visible (§2.10) ──────────

    // StreamFreq's per-key Misra-Gries state (K counters per source,
    // folded forward each micro-batch) drained AvailableNow over the
    // documents stream, then CLOSED against exact batch counts: the
    // final snapshot per source must (a) carry the n cursor equal to
    // the source's exact token count (state lost ⇒ cursor short ⇒ rows
    // vanish ⇒ hash fail) and (b) CONTAIN every exact heavy hitter
    // (cnt·(K+1) > n — the MG guarantee), so the inner join against
    // the exact counts filtered at that bar reproduces the exact
    // heavy-hitter set, which IS SQL-expressible even though the
    // sketch's order-dependent estimates are not. StreamFreqSpec pins
    // the estimate band + checkpoint restart in-JVM.
    Q("stream_freq_feed",
      s"""WITH wc AS (
         |  SELECT source, term, COUNT(*) AS cnt
         |  FROM (SELECT source, unnest($toksSql) AS term FROM documents) t
         |  GROUP BY source, term
         |), tot AS (
         |  SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_terms
         |  FROM wc GROUP BY source
         |)
         |SELECT wc.source, wc.term, wc.cnt, tot.n_terms
         |FROM wc JOIN tot ON wc.source = tot.source
         |WHERE wc.cnt * 65 > tot.n_terms
         |ORDER BY 1, 2""".stripMargin) { (s, d) =>
      import s.implicits._
      val items = graft.streaming.Feeds.source(s, d, "documents")
        .select(col("source").as("key"), explode(toks(col("text"))).as("item"))
        .as[graft.streaming.StreamFreq.Item]
      val feed = graft.streaming.StreamFreq
        .runAvailableNow(s, items, "stream_freq_feed_sink",
          graft.streaming.Feeds.sourceBytes(d, "documents.parquet"))
      // freshest snapshot per key = the rows carrying the key's max n
      val snap = feed
        .withColumn("maxn", max("n").over(Window.partitionBy("key")))
        .filter(col("n") === col("maxn"))
        .select(col("key").as("source"), col("item").as("term"), col("n"))
      val wc = Tables.documents(s, d)
        .select(col("source"), explode(toks(col("text"))).as("term"))
        .groupBy("source", "term").agg(count(lit(1)).as("cnt"))
      val tot = wc.groupBy("source").agg(sum("cnt").as("n_terms"))
      snap.join(wc, Seq("source", "term"))
        .join(tot, Seq("source"))
        .filter(col("cnt") * (graft.functions.FreqSketch.K + 1) > col("n_terms") &&
          col("n") === col("n_terms"))
        .select(col("source"), col("term"), col("cnt"), col("n_terms"))
        .orderBy("source", "term")
    },

    // ── TF-IDF top terms per document ──────────────────────────────────

    // Top-3 characteristic terms per doc. The idf is the RATIONAL form
    // n_docs/df instead of ln(n_docs/df): every arithmetic step
    // (int counts, one double multiply, one double divide) is exactly
    // rounded IEEE, so Spark and DuckDB produce bit-identical scores —
    // a transcendental ln is libm-dependent and would violate parity
    // rule 3 (the ranking it induces is identical anyway: x ↦ ln is
    // monotone). Scale shape: two hash aggregates (term freq per doc,
    // doc freq per term), a broadcast one-row corpus count, a broadcast
    // join of the term dictionary, and a doc_id-partitioned top-k
    // window — no global window, no driver math.
    Q("txt_tfidf",
      s"""WITH e AS (
         |  SELECT doc_id, unnest($toksSql) AS term FROM documents
         |), tf AS (
         |  SELECT doc_id, term, COUNT(*) AS tf FROM e GROUP BY doc_id, term
         |), df AS (
         |  SELECT term, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, term FROM tf) GROUP BY term
         |), n AS (SELECT COUNT(*) AS n_docs FROM documents),
         |scored AS (
         |  SELECT tf.doc_id, tf.term,
         |         CAST(tf.tf AS DOUBLE) * CAST(n.n_docs AS DOUBLE)
         |           / CAST(df.df AS DOUBLE) AS score
         |  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
         |)
         |SELECT doc_id, CAST(rn AS INTEGER) AS rn, term, score FROM (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id
         |            ORDER BY score DESC, term) AS rn
         |  FROM scored) t
         |WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val e = Tables.documents(s, d)
        .select(col("doc_id"), explode(toks(col("text"))).as("term"))
      val tf = e.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val df = tf.select("doc_id", "term").distinct()
        .groupBy("term").agg(count(lit(1)).as("df"))
      val n = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term"))
      tf.join(df, Seq("term")).crossJoin(broadcast(n))
        .select(col("doc_id"), col("term"),
          (col("tf").cast("double") * col("n_docs").cast("double")
            / col("df").cast("double")).as("score"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("doc_id", "rn", "term", "score")
        .orderBy("doc_id", "rn")
    },

    // ── feature-hashed document embeddings (the hashing trick) ─────────

    // A 16-dim signed bag-of-words embedding per document (Weinberger
    // et al., ICML'09): every token hashes to a dimension (md5 last hex
    // digit) with a ±1 sign (second-to-last digit's parity — the
    // variance-killing signed variant), counts accumulate per cell, and
    // the vector is L2-normalized. This is the model-free text→vector
    // bridge: downstream cosine machinery (sim_topk_bruteforce et al.)
    // runs on it unchanged, with NO trained encoder and NO vocabulary
    // state — the scale virtue of hashing embeddings. Engine parity:
    // cells are exact integer sums, ‖v‖² is an exact integer, the norm
    // is one correctly-rounded sqrt, each element one pinned division
    // (all-cancelled docs normalize to NULLs via nullif, identically).
    // Scale shape: explode → ONE map-side-combined (doc, dim) agg →
    // doc-sized map assembly; no shuffle touches anything wider than
    // 16 cells per doc. Output is LONG FORM (doc_id, dim, cnt,
    // emb_val), not array columns: the oracle harness hashes result
    // frames via pandas, which cannot sort/hash array cells (VERDICT
    // r8 #1 — the row was invisible to the driver as ArrayType), and
    // long form keeps every value a scalar the comparator handles
    // bit-exactly. Consumers that want the vector shape re-assemble
    // with the un-exploded [[hashCells]] kernel directly
    // (sim_hash_embed_topk does exactly that).
    Q("txt_hash_embed",
      s"""WITH $hashCellsSql
         |SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS dim,
         |       counts[u.i] AS cnt,
         |       CAST(counts[u.i] AS DOUBLE)
         |         / nullif(sqrt(CAST(ssq AS DOUBLE)), 0) AS emb_val
         |FROM cells, UNNEST(range(1, 17)) AS u(i)
         |ORDER BY doc_id, dim""".stripMargin) { (s, d) =>
      hashCells(s, d)
        .select(col("doc_id"), col("ssq"), posexplode(col("counts")))
        .select(col("doc_id"), col("pos").cast("long").as("dim"),
          col("col").as("cnt"),
          (col("col").cast("double") /
            nullif(sqrt(col("ssq").cast("double")), lit(0.0)))
            .as("emb_val"))
        .orderBy("doc_id", "dim")
    },

    // ── encoder-free similarity search over the hashed embeddings ──────

    // Brute-force cosine top-3 neighbors for the probe docs, running
    // entirely on txt_hash_embed's cell vectors — the end-to-end proof
    // that the text→vector bridge FEEDS the similarity stack without a
    // trained model. Cosine stays exact-integer as long as possible:
    // the dot product is a FIXED 16-term chain of integer cell
    // products (both engines evaluate the identical association
    // order), and the one double step divides it by √(‖a‖²·‖b‖²) —
    // whose integer product is bounded by (tokens/doc)⁴, far under
    // 2⁶³ at any plausible doc length. Ties break on neighbor id.
    // Scale shape: probes broadcast into a map-side scored pass over
    // the cells (the sim_topk_bruteforce shape); the top-3 window
    // partitions by probe.
    Q("sim_hash_embed_topk", {
      val dot = (1 to 16).map(i => s"p.counts[$i] * c.counts[$i]")
        .mkString("\n           + ")
      s"""WITH $hashCellsSql,
         |probes AS (
         |  SELECT doc_id, counts, ssq FROM cells
         |  WHERE doc_id < 5 AND ssq > 0
         |), scored AS (
         |  SELECT p.doc_id AS q_id, c.doc_id AS n_id,
         |         CAST($dot AS BIGINT) AS dot,
         |         CAST(CAST($dot AS DOUBLE)
         |              / sqrt(CAST(p.ssq * c.ssq AS DOUBLE)) AS DOUBLE)
         |           AS cosine
         |  FROM probes p JOIN cells c
         |    ON c.doc_id <> p.doc_id AND c.ssq > 0
         |), r AS (
         |  SELECT q_id, n_id, dot, cosine,
         |         CAST(row_number() OVER (PARTITION BY q_id
         |              ORDER BY cosine DESC, n_id) AS BIGINT) AS rk
         |  FROM scored
         |)
         |SELECT q_id, rk, n_id, dot, cosine
         |FROM r WHERE rk <= 3 ORDER BY q_id, rk""".stripMargin
    }) { (s, d) =>
      // cell vectors feed both the probe branch and the scan branch (and
      // txt_hash_embed in the same session) — persist once
      val cells = graft.Caches.shared(hashCells(s, d))
        .filter(col("ssq") > 0)
      val probes = cells.filter(col("doc_id") < 5)
        .select(col("doc_id").as("q_id"), col("counts").as("qc"),
          col("ssq").as("qs"))
      val dot = (1 to 16)
        .map(i => element_at(col("qc"), i) * element_at(col("counts"), i))
        .reduce(_ + _)
      val scored = cells.join(broadcast(probes),
          col("doc_id") =!= col("q_id"))
        .select(col("q_id"), col("doc_id").as("n_id"), dot.as("dot"),
          col("qs"), col("ssq"))
        .select(col("q_id"), col("n_id"), col("dot"),
          (col("dot").cast("double") /
            sqrt((col("qs") * col("ssq")).cast("double"))).as("cosine"))
      val w = Window.partitionBy("q_id")
        .orderBy(col("cosine").desc, col("n_id"))
      scored.withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 3)
        .select("q_id", "rk", "n_id", "dot", "cosine")
        .orderBy("q_id", "rk")
    },

    // ── curriculum quality bins (per-stratum quartiles) ────────────────

    // ntile(4) of the quality score within each language — the
    // curriculum-sampling bin assignment (train on bin 4 first, mix in
    // lower bins later). Rank-based, so fully deterministic with the
    // (quality, doc_id) total order — no percentile interpolation to
    // disagree across engines. Scale note: the window partitions by
    // stratum; for strata too hot for one task, the production form
    // computes approximate quantile THRESHOLDS per stratum (tiny) and
    // bins per-row against the broadcast thresholds.
    Q("txt_quality_bins",
      s"""SELECT doc_id, lang, quality,
         |       CAST(ntile(4) OVER (PARTITION BY lang
         |            ORDER BY quality, doc_id) AS INTEGER) AS bin
         |FROM (
         |  SELECT doc_id, lang,
         |         0.5 * (CAST(n_stop AS DOUBLE) / n_tokens)
         |           + 0.3 * least(1.0, n_tokens / 100.0)
         |           + 0.2 * (1.0 - CAST(n_punct AS DOUBLE) / n_chars) AS quality
         |  FROM (
         |    SELECT doc_id, lang, length(text) AS n_chars, len(t) AS n_tokens,
         |           len(regexp_extract_all(text, '[.,!?;]')) AS n_punct,
         |           ${countInSql("t", Stop.flatMap(_._2))} AS n_stop
         |    FROM (SELECT doc_id, lang, text, $toksSql AS t FROM documents) x) y
         |) z ORDER BY doc_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val base = Tables.documents(s, d).select(col("doc_id"), col("lang"),
        col("text"), toks(col("text")).as("t"))
      val m = base.select(
        col("doc_id"), col("lang"),
        length(col("text")).as("n_chars"), size(col("t")).as("n_tokens"),
        regexp_count(col("text"), lit("[.,!?;]")).as("n_punct"),
        countIn(col("t"), Stop.flatMap(_._2)).as("n_stop"))
      val quality =
        lit(0.5) * (col("n_stop").cast("double") / col("n_tokens")) +
          lit(0.3) * least(lit(1.0), col("n_tokens") / lit(100.0)) +
          lit(0.2) * (lit(1.0) - col("n_punct").cast("double") / col("n_chars"))
      val w = Window.partitionBy("lang").orderBy("quality", "doc_id")
      m.select(col("doc_id"), col("lang"), quality.as("quality"))
        .withColumn("bin", ntile(4).over(w))
        .select("doc_id", "lang", "quality", "bin")
        .orderBy("doc_id")
    },

    // ── Gopher/MassiveText document-filter rules ───────────────────────

    // The published pretraining quality gate (Rae et al. 2021 §A1.1) as
    // an exact flag matrix: word-count bounds [50, 100k], mean word
    // length [3, 10], symbol-to-word ratio < 0.1 (#/…), ≥ 80% alphabetic
    // words, ≥ 2 distinct stop-set members. Every threshold is an
    // integer cross-multiplication — no float division, so the flags
    // hash bit-equal across engines. On this clean synthetic fixture
    // the word-count rule rejects 223/500 and the stop rule all 500
    // (the vocabulary has only 'the' from the marker set); the
    // line-shape rules (bullets/ellipsis) need multi-line docs and live
    // in the spec's synthetic corpus, which violates each rule in turn
    // (TextOpsSpec). Scale: pure per-row codegen over the scan — the
    // whole gate is one WholeStageCodegen span, no shuffle.
    Q("txt_gopher_rules",
      s"""SELECT doc_id, n_words, tok_chars, n_sym, n_alpha, n_stopset,
         |       (n_words BETWEEN 50 AND 100000) AS ok_words,
         |       (3*n_words <= tok_chars AND tok_chars <= 10*n_words) AS ok_mwl,
         |       (10*n_sym < n_words) AS ok_sym,
         |       (5*n_alpha >= 4*n_words) AS ok_alpha,
         |       (n_stopset >= 2) AS ok_stop,
         |       ((n_words BETWEEN 50 AND 100000)
         |        AND 3*n_words <= tok_chars AND tok_chars <= 10*n_words
         |        AND 10*n_sym < n_words AND 5*n_alpha >= 4*n_words
         |        AND n_stopset >= 2) AS pass
         |FROM (
         |  SELECT doc_id,
         |         CAST(len(t) AS BIGINT) AS n_words,
         |         CAST(list_sum(list_transform(t, x -> length(x))) AS BIGINT)
         |           AS tok_chars,
         |         CAST(len(regexp_extract_all(text, '[#…]')) AS BIGINT)
         |           AS n_sym,
         |         CAST(len(list_filter(t, x -> regexp_matches(x, '[a-z]')))
         |           AS BIGINT) AS n_alpha,
         |         CAST(${GopherStop.map(w =>
               s"(CASE WHEN list_contains(t,'$w') THEN 1 ELSE 0 END)")
               .mkString(" + ")} AS BIGINT) AS n_stopset
         |  FROM (SELECT doc_id, text, $toksSql AS t FROM documents) x) y
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      gopherRules(Tables.documents(s, d).select("doc_id", "text"))
        .orderBy("doc_id")
    },

    // ── bigram novelty (memorization / templating screen) ──────────────

    // Per doc: how much of its bigram-type set is CORPUS-UNIQUE
    // (df = 1)? The two tails are the signal — novel_pct near 100 is
    // fresh-or-garbage text nothing else shares; near 0 is templated /
    // duplicated boilerplate (the memorization-risk screen run before
    // a corpus ships). Exact integer novel_pct ((100·unique) div
    // types) and an exact-sum mean_df with ONE final double division.
    // Scale shape: distinct (doc, bigram) → map-combinable df agg →
    // bigram-keyed join back → one doc agg. Same plan family as
    // txt_tfidf/txt_source_overlap; work scales with token count,
    // never docs².
    Q("txt_bigram_novelty",
      s"""WITH sh AS (
         |  SELECT DISTINCT doc_id, unnest(${bigramsSql("t")}) AS sx
         |  FROM (SELECT doc_id, $toksSql AS t FROM documents) x
         |  WHERE len(t) >= 2
         |), df AS (
         |  SELECT sx, CAST(COUNT(*) AS BIGINT) AS df FROM sh GROUP BY sx
         |)
         |SELECT s.doc_id,
         |       CAST(COUNT(*) AS BIGINT) AS n_types,
         |       CAST(SUM(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_unique,
         |       CAST((100 * SUM(CASE WHEN d.df = 1 THEN 1 ELSE 0 END))
         |         // COUNT(*) AS BIGINT) AS novel_pct,
         |       CAST(SUM(d.df) AS DOUBLE) / COUNT(*) AS mean_df
         |FROM sh s JOIN df d ON d.sx = s.sx
         |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin) { (s, d) =>
      val sh = distinctBigramShingles(s, d)
      val df = sh.groupBy("sx").agg(count(lit(1)).as("df"))
      sh.join(df, Seq("sx"))
        .groupBy("doc_id").agg(
          count(lit(1)).as("n_types"),
          sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"),
          sum(col("df")).as("sum_df"))
        .select(col("doc_id"), col("n_types"), col("n_unique"),
          expr("(100 * n_unique) div n_types").as("novel_pct"),
          (col("sum_df").cast("double") / col("n_types")).as("mean_df"))
        .orderBy("doc_id")
    },

    // ── PII-shaped masking (numeric redaction) ─────────────────────────

    // Scrub digit runs from free-text payloads before they enter a
    // training corpus (the numeric-PII shape: ids, phone fragments,
    // account numbers). Pure per-row codegen'd regex — no shuffle, no
    // UDF; the redaction count rides along for an audit trail. The
    // pattern is ERE-safe so Java and RE2 agree; DuckDB needs the 'g'
    // flag (its regexp_replace is first-match-only by default, Spark's
    // replaces all).
    Q("txt_redact",
      """SELECT event_id,
        |       regexp_replace(props, '[0-9]+', '<NUM>', 'g') AS redacted,
        |       CAST(len(regexp_extract_all(props, '[0-9]+')) AS BIGINT) AS n_masked
        |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .select(col("event_id"),
          regexp_replace(col("props"), "[0-9]+", "<NUM>").as("redacted"),
          regexp_count(col("props"), lit("[0-9]+")).cast("long").as("n_masked"))
        .orderBy("event_id")
    },

    // ── eval-set contamination scan ────────────────────────────────────

    // Per-training-doc overlap with a held-out eval slice's bigram set —
    // the decontamination report run before any pretraining job. The
    // eval slice is the salted-md5 rule (deterministic on any cluster,
    // rerun-stable); overlap is a shingle-key equi-join against the
    // DISTINCT eval shingle set, which is tiny relative to the corpus
    // and broadcastable at scale — never an all-pairs doc comparison.
    Q("txt_contamination", contaminationSql) { (s, d) =>
      val isEval =
        substring(md5(concat(lit("eval#"), col("doc_id").cast("string"))), 1, 2)
          .lt("10")
      val sh = distinctBigramShingles(s, d)
      val evalSh = sh.filter(isEval).select("sx").distinct()
      sh.filter(!isEval)
        .join(evalSh.withColumn("hit", lit(1L)), Seq("sx"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
        .select(col("doc_id"), col("n_shingles"), col("n_hit"),
          (col("n_hit").cast("double") / col("n_shingles"))
            .as("contamination"))
        .orderBy("doc_id")
    },

    // Pairwise SOURCE overlap matrix — the dataset-audit twin of
    // txt_contamination: how much shingle content two ingest sources
    // share (mirrored crawls, syndicated feeds, re-uploads show up here
    // before any per-doc dedup runs). Distinct (source, shingle-hash)
    // first — so the join carries one row per source per shingle, never
    // per document — then a shingle equi-join between sources and a
    // Jaccard from the per-source totals. Scale shape: the join is
    // keyed on the shingle hash (never all-pairs of docs), and its
    // output is bounded by sources², a handful of rows.
    Q("txt_source_overlap",
      s"""WITH tt AS (
         |  SELECT source, $toksSql AS t FROM documents
         |), sh AS (
         |  SELECT DISTINCT source, md5(x) AS h
         |  FROM (SELECT source, unnest(${bigramsSql("t")}) AS x
         |        FROM tt WHERE len(t) >= 2) u
         |), tot AS (
         |  SELECT source, COUNT(*) AS n FROM sh GROUP BY source
         |), shared AS (
         |  SELECT a.source AS source_a, b.source AS source_b,
         |         COUNT(*) AS n_shared
         |  FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
         |  GROUP BY 1, 2
         |)
         |SELECT s.source_a, s.source_b,
         |       CAST(s.n_shared AS BIGINT) AS n_shared,
         |       CAST(s.n_shared AS DOUBLE) / (ta.n + tb.n - s.n_shared)
         |         AS jaccard
         |FROM shared s
         |JOIN tot ta ON ta.source = s.source_a
         |JOIN tot tb ON tb.source = s.source_b
         |ORDER BY source_a, source_b""".stripMargin) { (s, d) =>
      // persisted (Caches.shared): the distinct (source, shingle-hash)
      // set feeds BOTH join sides and the totals — without the cache
      // the tokenize + explode + distinct subplan runs three times
      // (same pattern as dedup_pipeline's shingle persist)
      val sh = graft.Caches.shared(Tables.documents(s, d)
        .select(col("source"), toks(col("text")).as("t"))
        .filter(size(col("t")) >= 2)
        .select(col("source"), explode(bigrams(col("t"))).as("sx"))
        .select(col("source"), md5(col("sx")).as("h")).distinct())
      val tot = sh.groupBy("source").agg(count(lit(1)).as("n"))
      val shared = sh.select(col("source").as("source_a"), col("h"))
        .join(sh.select(col("source").as("source_b"), col("h")), Seq("h"))
        .filter(col("source_a") < col("source_b"))
        .groupBy("source_a", "source_b").agg(count(lit(1)).as("n_shared"))
      shared
        .join(broadcast(tot.select(col("source").as("source_a"),
          col("n").as("n_a"))), Seq("source_a"))
        .join(broadcast(tot.select(col("source").as("source_b"),
          col("n").as("n_b"))), Seq("source_b"))
        .select(col("source_a"), col("source_b"),
          col("n_shared").cast("long").as("n_shared"),
          (col("n_shared").cast("double")
            / (col("n_a") + col("n_b") - col("n_shared"))).as("jaccard"))
        .orderBy("source_a", "source_b")
    },

    // ── repetition quality signals ─────────────────────────────────────

    // The repetition filters LLM data curation actually uses (the
    // Gopher/MassiveText family): what fraction of a doc is its single
    // most frequent word, and what fraction of its bigrams are
    // repeats. High values mark boilerplate/spam for removal before
    // training. Everything is exact integer counting per doc — one
    // explode + two hash aggregates, shuffled on doc_id with map-side
    // combine; ratios are single double divisions, engine-identical.
    Q("txt_repetition",
      s"""WITH e AS (
         |  SELECT doc_id, unnest($toksSql) AS w FROM documents
         |), wc AS (
         |  SELECT doc_id, w, COUNT(*) AS c FROM e GROUP BY doc_id, w
         |), agg AS (
         |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
         |         CAST(MAX(c) AS BIGINT) AS top_word_n
         |  FROM wc GROUP BY doc_id
         |), b AS (
         |  SELECT doc_id, unnest(${bigramsSql("t")}) AS bg
         |  FROM (SELECT doc_id, $toksSql AS t FROM documents) x
         |  WHERE len(t) >= 2
         |), bagg AS (
         |  SELECT doc_id, COUNT(*) AS n_bigrams,
         |         COUNT(DISTINCT bg) AS n_distinct
         |  FROM b GROUP BY doc_id
         |)
         |SELECT a.doc_id, a.n_tokens,
         |       CAST(a.top_word_n AS DOUBLE) / a.n_tokens AS top_word_frac,
         |       CAST(ba.n_bigrams - ba.n_distinct AS DOUBLE)
         |         / ba.n_bigrams AS dup_bigram_frac
         |FROM agg a JOIN bagg ba ON a.doc_id = ba.doc_id
         |ORDER BY a.doc_id""".stripMargin) { (s, d) =>
      val e = Tables.documents(s, d)
        .select(col("doc_id"), explode(toks(col("text"))).as("w"))
      val agg = e.groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum("c").as("n_tokens"), max("c").as("top_word_n"))
      val bagg = Tables.documents(s, d)
        .select(col("doc_id"), toks(col("text")).as("t"))
        .filter(size(col("t")) >= 2)
        .select(col("doc_id"), explode(bigrams(col("t"))).as("bg"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          countDistinct(col("bg")).as("n_distinct"))
      agg.join(bagg, Seq("doc_id"))
        .select(col("doc_id"), col("n_tokens"),
          (col("top_word_n").cast("double") / col("n_tokens"))
            .as("top_word_frac"),
          ((col("n_bigrams") - col("n_distinct")).cast("double")
            / col("n_bigrams")).as("dup_bigram_frac"))
        .orderBy("doc_id")
    },

    // ── training-sequence packing by token budget ──────────────────────

    // Assign docs to fixed-capacity training sequences (budget = 256
    // tokens) in deterministic (lang, doc_id) order: seq_id = the
    // running token count before the doc, integer-divided by the
    // budget; seq_offset = where the doc starts inside its sequence.
    // A doc may straddle a boundary (greedy fill-and-continue packing —
    // the trainer truncates or spans; the ASSIGNMENT is the operator).
    // Pure integer math end to end, so the engines agree exactly.
    // Scale: the prefix sum partitions by stratum; for one giant
    // stratum the production form is Ranking.globalRowNumber's shape —
    // range-partition, per-partition local sums, broadcast offsets.
    // ── BPE merge training (tokenizer fitting as a query) ──────────────

    // The tokenizer-TRAINING kernel (Sennrich et al., ACL'16): learn
    // the first 4 byte-pair merge rules from the corpus — the step
    // every LLM data pipeline runs before txt_tokens/txt_pack can
    // exist. Done the way a corpus-scale trainer actually does it:
    // the corpus first collapses to (distinct word, count) — pair
    // statistics are identical on the weighted vocabulary, and the
    // vocab is orders of magnitude smaller than the corpus — then each
    // round is (1) ONE map-side-combined adjacent-pair count weighted
    // by word frequency, (2) a broadcast 1-row argmax (count DESC,
    // then lexicographic — fully deterministic), (3) a LEFT-TO-RIGHT
    // non-overlapping rewrite expressed in window SQL: positions whose
    // (tok, next) equals the rule are grouped into runs of CONSECUTIVE
    // match positions (overlaps only exist when l = r, and only inside
    // such runs), and the odd ranks within each run merge — provably
    // the greedy left-to-right fold ("aaaa" → [aa, aa], "aaa" →
    // [aa, a]). Merged tokens are UNITS in later rounds, so rule 3 can
    // legitimately pair a round-1 product with a letter. Scale shape:
    // windows partition by WORD (bounded length), the pair table is
    // token-vocabulary-sized, and the 4 rules broadcast — nothing
    // corpus-scale shuffles after the initial vocab collapse.
    // TextOpsSpec replays the whole trainer in plain Scala and pins
    // rule-for-rule equality.
    Q("txt_bpe_merges", {
      val rounds = (1 to 4).map(bpeRoundSql).mkString(",\n")
      val out = (1 to 4).map(i =>
        s"SELECT $i AS rank, l, r, c AS pair_count FROM best$i")
        .mkString("\nUNION ALL ")
      s"""WITH vocab AS (
         |  SELECT word, CAST(COUNT(*) AS BIGINT) AS w FROM (
         |    SELECT unnest($toksSql) AS word FROM documents) x
         |  GROUP BY word
         |), st0 AS MATERIALIZED (
         |  SELECT word, w, CAST(r.pos AS BIGINT) AS pos,
         |         substr(word, CAST(r.pos AS INTEGER), 1) AS tok
         |  FROM vocab, UNNEST(range(1, len(word) + 1)) AS r(pos)
         |),
         |$rounds
         |SELECT CAST(rank AS BIGINT) AS rank, l, r, pair_count
         |FROM ($out) t ORDER BY rank""".stripMargin
    }) { (s, d) =>
      bpeFit(s, d)._1.orderBy("rank")
    },

    // The tokenizer-APPLICATION half: the corpus token ledger under the
    // learned vocabulary — every (word, position) of the weighted
    // vocabulary after all 4 merges, aggregated to the top-20 tokens by
    // weighted occurrence (multi-char tokens are the learned merges;
    // single chars are the residual base alphabet). This is the
    // coverage report a tokenizer build ships: which merges actually
    // absorb corpus mass. Shares bpeFit's memoized state with
    // txt_bpe_merges — the 4-round fit runs ONCE per session, both
    // queries read the checkpointed result. Scale shape: one hash agg
    // over the vocabulary-sized state + a TakeOrdered 20.
    Q("txt_bpe_encode", {
      val rounds = (1 to 4).map(bpeRoundSql).mkString(",\n")
      s"""WITH vocab AS (
         |  SELECT word, CAST(COUNT(*) AS BIGINT) AS w FROM (
         |    SELECT unnest($toksSql) AS word FROM documents) x
         |  GROUP BY word
         |), st0 AS MATERIALIZED (
         |  SELECT word, w, CAST(r.pos AS BIGINT) AS pos,
         |         substr(word, CAST(r.pos AS INTEGER), 1) AS tok
         |  FROM vocab, UNNEST(range(1, len(word) + 1)) AS r(pos)
         |),
         |$rounds
         |SELECT tok, CAST(SUM(w) AS BIGINT) AS n_occurrences,
         |       len(tok) > 1 AS is_merged
         |FROM st4 GROUP BY tok
         |ORDER BY n_occurrences DESC, tok LIMIT 20""".stripMargin
    }) { (s, d) =>
      bpeFit(s, d)._2
        .groupBy("tok").agg(sum("w").as("n_occurrences"))
        .select(col("tok"), col("n_occurrences"),
          (length(col("tok")) > 1).as("is_merged"))
        .orderBy(col("n_occurrences").desc, col("tok")).limit(20)
    },

    // The tokenizer's ECONOMICS: sequence-length compression by
    // word-length bucket — the number a context-window budget actually
    // buys. Per distinct word the post-merge state carries its token
    // count (max pos); bucketed by character length, the ledger shows
    // weighted chars vs weighted BPE tokens and the chars-per-token
    // rate as parts-per-million (exact integers end-to-end — the
    // double column is ONE final division). Third consumer of the
    // memoized [[bpeFit]]; the word-level rollup is vocabulary-sized.
    Q("txt_bpe_compression", {
      val rounds = (1 to 4).map(bpeRoundSql).mkString(",\n")
      s"""WITH vocab AS (
         |  SELECT word, CAST(COUNT(*) AS BIGINT) AS w FROM (
         |    SELECT unnest($toksSql) AS word FROM documents) x
         |  GROUP BY word
         |), st0 AS MATERIALIZED (
         |  SELECT word, w, CAST(r.pos AS BIGINT) AS pos,
         |         substr(word, CAST(r.pos AS INTEGER), 1) AS tok
         |  FROM vocab, UNNEST(range(1, len(word) + 1)) AS r(pos)
         |),
         |$rounds, wl AS (
         |  SELECT word, w, CAST(len(word) AS BIGINT) AS n_chr,
         |         CAST(COUNT(*) AS BIGINT) AS n_tok
         |  FROM st4 GROUP BY word, w
         |)
         |SELECT n_chr,
         |       CAST(SUM(w) AS BIGINT) AS n_words,
         |       CAST(SUM(w * n_chr) AS BIGINT) AS chars,
         |       CAST(SUM(w * n_tok) AS BIGINT) AS tokens,
         |       CAST(CAST(SUM(w * n_chr) AS DOUBLE)
         |            / CAST(SUM(w * n_tok) AS DOUBLE) AS DOUBLE)
         |         AS chars_per_token
         |FROM wl GROUP BY n_chr ORDER BY n_chr""".stripMargin
    }) { (s, d) =>
      bpeFit(s, d)._2
        .groupBy("word", "w")
        .agg(count(lit(1)).as("n_tok"))
        .select(col("w"), length(col("word")).cast("long").as("n_chr"),
          col("n_tok"))
        .groupBy("n_chr")
        .agg(sum("w").as("n_words"),
          sum(col("w") * col("n_chr")).as("chars"),
          sum(col("w") * col("n_tok")).as("tokens"))
        .select(col("n_chr"), col("n_words"), col("chars"), col("tokens"),
          (col("chars").cast("double") / col("tokens").cast("double"))
            .as("chars_per_token"))
        .orderBy("n_chr")
    },

    Q("txt_pack",
      s"""WITH t AS (
         |  SELECT doc_id, lang, len($toksSql) AS n_tokens FROM documents
         |), c AS (
         |  SELECT doc_id, lang, n_tokens,
         |         CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang
         |              ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
         |              AND 1 PRECEDING), 0) AS BIGINT) AS cum0
         |  FROM t
         |)
         |SELECT doc_id, lang, n_tokens, cum0 // 256 AS seq_id,
         |       cum0 % 256 AS seq_offset
         |FROM c ORDER BY doc_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("lang").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          size(toks(col("text"))).cast("long").as("n_tokens"))
        .withColumn("cum0", coalesce(sum("n_tokens").over(w), lit(0L)))
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          expr("cum0 div 256").as("seq_id"),
          (col("cum0") % 256).as("seq_offset"))
        .orderBy("doc_id")
    },

    // Deterministic global training shuffle: every doc gets a shard and
    // a dense position inside it, both derived from a salted md5 — the
    // "final shuffle" a training run reads, reproducible from the seed
    // salt alone (no RNG state, no job-order dependence). Shard = the
    // key's first hex nibble (16 shards); position = rank within the
    // shard by key. NO corpus-scale window anywhere: ranks come from
    // Ranking.globalRowNumber over (shard, key), converted to per-shard
    // positions by subtracting the 16-row broadcast shard offsets, so a
    // shard of ANY size never passes through one partition.
    Q("txt_shuffle_shard",
      """WITH k AS (
        |  SELECT doc_id,
        |         md5(concat('sh#', CAST(doc_id AS VARCHAR))) AS key
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id, key,
        |         CAST(instr('0123456789abcdef', substr(key, 1, 1)) - 1
        |              AS INTEGER) AS shard
        |  FROM k
        |)
        |SELECT shard,
        |       CAST(row_number() OVER (PARTITION BY shard
        |                               ORDER BY key, doc_id) AS BIGINT) AS pos,
        |       doc_id
        |FROM sh ORDER BY shard, pos""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val keyed = Tables.documents(s, d)
        .select(col("doc_id"),
          md5(concat(lit("sh#"), col("doc_id").cast("string"))).as("key"))
        .withColumn("shard",
          (expr("instr('0123456789abcdef', substr(key, 1, 1))") - 1)
            .cast("int"))
      val ranked = Ranking.globalRowNumber(keyed,
        Seq("shard", "key", "doc_id"))
      // shard-count-bounded (16-row) running offset — scale-safe by
      // construction, same contract as evt_cum_users' days window
      val off = keyed.groupBy("shard").agg(count(lit(1)).as("n"))
        .withColumn("off", coalesce(sum("n").over(Window.orderBy("shard")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select("shard", "off")
      ranked.join(broadcast(off), Seq("shard"))
        .select(col("shard"), (col("row_num") - col("off")).as("pos"),
          col("doc_id"))
        .orderBy("shard", "pos")
    },

    // ── end-to-end near-dup pipeline: LSH candidates → exact re-rank ───

    // The composed production shape: MinHash-band candidate generation
    // (never all-pairs) feeding the exact bigram-Jaccard kernel on
    // candidate PAIRS ONLY (shingles semi-joined to candidate ids),
    // thresholded to survivors. At 100 TB every stage is a bucket join
    // or a doc_id-keyed aggregate; the all-pairs kernel never sees more
    // than the banded candidates.
    Q("dedup_pipeline",
      s"""WITH $minhashCandSql, e AS (
         |  SELECT DISTINCT doc_id, unnest(sh) AS s FROM t
         |  WHERE doc_id IN (SELECT a_id FROM cand UNION SELECT b_id FROM cand)
         |), sz AS (
         |  SELECT doc_id, COUNT(*) AS n FROM e GROUP BY doc_id
         |), inter AS (
         |  SELECT c.a_id, c.b_id, COUNT(eb.s) AS n_inter
         |  FROM cand c
         |  JOIN e ea ON ea.doc_id = c.a_id
         |  LEFT JOIN e eb ON eb.doc_id = c.b_id AND eb.s = ea.s
         |  GROUP BY c.a_id, c.b_id
         |)
         |SELECT i.a_id, i.b_id,
         |       CAST(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter) AS jaccard
         |FROM inter i JOIN sz sa ON i.a_id = sa.doc_id
         |             JOIN sz sb ON i.b_id = sb.doc_id
         |WHERE CAST(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter) >= 0.5
         |ORDER BY a_id, b_id""".stripMargin) { (s, d) =>
      // exploded shingles feed BOTH the signature stage and the exact
      // re-rank
      val sh = nearCloneShingles(s, d)
      val cand = minhashCandidates(s, d)
      val ids = cand.select(col("a_id").as("doc_id"))
        .unionByName(cand.select(col("b_id").as("doc_id"))).distinct()
      // exact kernel inputs restricted to candidate docs (semi join),
      // shingles as xxhash64 longs, materialized once
      val e = graft.Caches.shared(sh.join(ids, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), xxhash64(col("sx")).as("s"))
        .distinct())
      val sz = e.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val inter = cand
        .join(e.select(col("doc_id").as("a_id"), col("s")), Seq("a_id"))
        .join(e.select(col("doc_id"), col("s").as("sb")),
          col("b_id") === col("doc_id") && col("s") === col("sb"), "left")
        .groupBy("a_id", "b_id").agg(count(col("sb")).as("n_inter"))
      val jac = inter
        .join(sz.select(col("doc_id").as("a_id"), col("n").as("n_a")), Seq("a_id"))
        .join(sz.select(col("doc_id").as("b_id"), col("n").as("n_b")), Seq("b_id"))
        .select(col("a_id"), col("b_id"),
          (col("n_inter").cast("double")
            / (col("n_a") + col("n_b") - col("n_inter"))).as("jaccard"))
      jac.filter(col("jaccard") >= 0.5)
        .orderBy("a_id", "b_id")
    },

    // INCREMENTAL dedup — the mode production dedup actually runs in:
    // a NEW batch (docs ≥ 400: a hundred genuinely-new docs plus the
    // near-clones at ≥ 10000) arrives against an
    // already-indexed corpus, and each new doc is admitted or flagged
    // as a duplicate of the earliest doc it collides with (corpus doc
    // or earlier new doc — candidates come from the same banded MinHash
    // join, a_id < b_id, so "earlier" is free). Full-corpus re-dedup
    // per batch is the anti-pattern at 100 TB; here the corpus side is
    // the shared candidate stage ([[minhashCandidates]]) and only the
    // new batch's bands probe it.
    Q("dedup_incremental",
      s"""WITH ${minhashCandSql}
         |SELECT n.doc_id,
         |       m.dup_of IS NOT NULL AS is_dup,
         |       m.dup_of
         |FROM (SELECT doc_id FROM docs WHERE doc_id >= 400) n
         |LEFT JOIN (
         |  SELECT b_id AS doc_id, MIN(a_id) AS dup_of
         |  FROM cand WHERE b_id >= 400 GROUP BY b_id
         |) m ON m.doc_id = n.doc_id
         |ORDER BY n.doc_id""".stripMargin) { (s, d) =>
      val newDocs = withNearClones(s, d).filter(col("doc_id") >= 400)
        .select("doc_id")
      val dupOf = minhashCandidates(s, d)
        .filter(col("b_id") >= 400)
        .groupBy(col("b_id").as("doc_id"))
        .agg(min(col("a_id")).as("dup_of"))
      newDocs.join(dupOf, Seq("doc_id"), "left")
        .select(col("doc_id"), col("dup_of").isNotNull.as("is_dup"),
          col("dup_of"))
        .orderBy("doc_id")
    },

    // ── SimHash ────────────────────────────────────────────────────────

    // 16-bit SimHash from the first 4 hex chars of md5(token): each hex
    // digit contributes 4 bits; bit votes ±1 summed over tokens, sign →
    // bit. Near-duplicate docs land within small Hamming distance; at
    // scale, dedup joins on rotated band keys of this signature.
    Q("dedup_simhash",
      s"""SELECT doc_id, CAST($simhashSql AS INTEGER) AS simhash
         |FROM (SELECT doc_id, $toksSql AS t FROM documents) x
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), toks(col("text")).as("t"))
        .select(col("doc_id"), simhashCol(col("t")).as("simhash"))
        .orderBy("doc_id")
    },

    // SimHash banded near-dup pairs — the composition the signature
    // exists for. SCALE-SIZED signature: a 4-bit band of the 16-bit
    // demo hash degenerates toward all-pairs once the corpus outgrows
    // 16 buckets; the pairs pipeline therefore uses a 60-bit SimHash
    // (15 md5 hex digits per token) banded 4×15 bits — 32 768 buckets
    // per band at ANY corpus size. Computed via the codegen-friendly
    // explode → 60 integer-sum aggregates shape (the measured 30×
    // lesson from the MinHash signatures), then bucket equi-join and
    // exact XOR+popcount Hamming ≤ 6 re-rank.
    Q("dedup_simhash_pairs",
      s"""WITH $withNearClonesSql,
         |ex AS (
         |  SELECT doc_id, md5(x) AS m
         |  FROM (SELECT doc_id, unnest($toksSql) AS x FROM docs) t
         |), ${simhash60PairsSql("ex", 6)}""".stripMargin) { (s, d) =>
      // signature pipeline lives in simhashTokens/simhashSig60;
      // banding + the filter-BEFORE-distinct Hamming re-rank live in
      // bandedHammingPairs (measured 327k pre-filter pairs vs ~300
      // survivors at sf0.1 — only survivors shuffle). The band
      // self-join reads the signature 8 times: cut it once (uncut, each
      // read re-runs the 60-lane vote; sf0.1, 4 cpus: 9.6 s uncut
      // against 2.3 s cut, build included)
      bandedHammingPairs(graft.Caches.cut(simhashSig60(s, d)), maxHamming = 6)
        .orderBy("a_id", "b_id")
    },

    // ── cross-document boilerplate strip (CCNet line dedup) ────────────

    // The CCNet/RefinedWeb boilerplate pass: hash each document's
    // fixed segments (the single-line synthetic corpus's analog of
    // lines — non-overlapping 8-token windows), count how many DISTINCT
    // documents each hash appears in, and strip segments shared across
    // ≥ 2 documents (the CCNet within-shard default). This catches the
    // nav-bars/footers/disclaimers class of duplication that DOCUMENT
    // dedup can't (the host pages differ) and exact-substring dedup
    // overpays for (it finds arbitrary-position spans; boilerplate is
    // segment-aligned and a DF-threshold decision, not a pairwise one).
    // Output is the per-doc retention ledger a curation pipeline logs:
    // segments/boiler-segments/tokens before and after. Scale shape:
    // segment hashing is map-only; the DF table is ONE
    // map-side-combined two-level aggregate ((h, doc) dedup → count per
    // h — the agg_skew_distinct shape, never count(DISTINCT) over a
    // corpus-wide shuffle of raw occurrences); the verdict rejoins on
    // the hash — a plain equi-join that AQE handles; the per-doc ledger
    // re-aggregates by doc_id. Nothing is pairwise anywhere — that is
    // the point vs dedup_substring. TextOpsSpec replays the whole pass
    // in plain Scala and pins the conservation law.
    Q("txt_boilerplate",
      s"""WITH t AS (
         |  SELECT doc_id, $toksSql AS t FROM documents
         |), n AS (
         |  SELECT doc_id, t, len(t) AS n FROM t WHERE len(t) > 0
         |), st AS (
         |  SELECT doc_id, n, t, unnest(range(0, n, 8)) AS s FROM n
         |), seg AS (
         |  SELECT doc_id, CAST(LEAST(8, n - s) AS BIGINT) AS seg_len,
         |         md5(array_to_string(list_slice(t, s + 1, s + 8), ' ')) AS h
         |  FROM st
         |), df AS (
         |  SELECT h, CAST(COUNT(*) AS BIGINT) AS df FROM (
         |    SELECT DISTINCT h, doc_id FROM seg) x
         |  GROUP BY h
         |)
         |SELECT seg.doc_id,
         |       CAST(COUNT(*) AS BIGINT) AS n_segments,
         |       CAST(SUM(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_boiler,
         |       CAST(SUM(seg_len) AS BIGINT) AS tokens_total,
         |       CAST(SUM(CASE WHEN df.df >= 2 THEN 0 ELSE seg_len END)
         |            AS BIGINT) AS tokens_kept
         |FROM seg JOIN df ON df.h = seg.h
         |GROUP BY seg.doc_id
         |ORDER BY seg.doc_id""".stripMargin) { (s, d) =>
      val seg = Tables.documents(s, d)
        .select(col("doc_id"), toks(col("text")).as("t"))
        .withColumn("n", size(col("t")).cast("long"))
        .filter(col("n") > 0)
        .select(col("doc_id"), col("n"), col("t"),
          explode(sequence(lit(0L), col("n") - 1, lit(8L))).as("s"))
        .select(col("doc_id"),
          least(lit(8L), col("n") - col("s")).as("seg_len"),
          md5(array_join(slice(col("t"), (col("s") + 1).cast("int"), lit(8)),
            " ")).as("h"))
      val df = seg.select("h", "doc_id").distinct()
        .groupBy("h").agg(count(lit(1)).as("df"))
      seg.join(df, Seq("h"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_segments"),
          sum(when(col("df") >= 2, 1).otherwise(0)).cast("long")
            .as("n_boiler"),
          sum("seg_len").as("tokens_total"),
          sum(when(col("df") >= 2, 0L).otherwise(col("seg_len")))
            .as("tokens_kept"))
        .orderBy("doc_id")
    },

    // ── RAG chunking: overlapping token windows ────────────────────────

    // Chunk each document into 8-token windows with stride 6 (overlap 2)
    // — the retrieval-corpus preparation shape. Pure per-row
    // sequence+explode+slice: codegen'd, zero shuffle, output bounded at
    // ~n_tokens/stride rows per doc. At 100 TB this is a map-only stage
    // that pipelines straight into the embedding UDF batch.
    Q("txt_chunk",
      s"""WITH t AS (
         |  SELECT doc_id, $toksSql AS t FROM documents
         |), n AS (
         |  SELECT doc_id, t, len(t) AS n FROM t WHERE len(t) > 0
         |), st AS (
         |  SELECT doc_id, t, n, unnest(range(0, n, 6)) AS tok_start FROM n
         |)
         |SELECT doc_id,
         |       CAST(tok_start // 6 AS INTEGER) AS chunk_id,
         |       CAST(tok_start AS BIGINT) AS tok_start,
         |       CAST(LEAST(8, n - tok_start) AS BIGINT) AS n_chunk,
         |       array_to_string(list_slice(t, tok_start + 1, tok_start + 8), ' ')
         |         AS chunk
         |FROM st ORDER BY doc_id, tok_start""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), toks(col("text")).as("t"))
        .withColumn("n", size(col("t")).cast("long"))
        .filter(col("n") > 0)
        .select(col("doc_id"), col("t"), col("n"),
          explode(sequence(lit(0L), col("n") - 1, lit(6L))).as("tok_start"))
        .select(col("doc_id"),
          expr("tok_start div 6").cast("int").as("chunk_id"),
          col("tok_start"),
          least(lit(8L), col("n") - col("tok_start")).as("n_chunk"),
          array_join(slice(col("t"), (col("tok_start") + 1).cast("int"), lit(8)), " ")
            .as("chunk"))
        .orderBy("doc_id", "tok_start")
    },

    // ── domain-mixture rebalancing ─────────────────────────────────────

    // Rebalance the corpus toward a uniform language mixture: languages
    // larger than the per-language average are deterministically
    // downsampled to it (rate = avg/n, clamped at 1 — on this corpus en
    // is ~3× the others and gets cut; the rest pass whole), via the same
    // salted-md5 threshold filter txt_sample_stratified uses — rerun-
    // stable on any cluster, no RNG state. The rate table is
    // languages-sized (broadcast join); the filter is per-row codegen.
    Q("txt_mix",
      """WITH cnt AS (
        |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM documents GROUP BY lang
        |), tot AS (
        |  SELECT CAST(SUM(n) AS BIGINT) AS t, CAST(COUNT(*) AS BIGINT) AS k
        |  FROM cnt
        |), th AS (
        |  SELECT lang, r,
        |         lower(lpad(hex(CAST(floor(r * 4294967296) AS BIGINT)), 8, '0'))
        |           AS thr
        |  FROM (SELECT lang,
        |               LEAST(1.0, (CAST(t AS DOUBLE) / k) / n) AS r
        |        FROM cnt CROSS JOIN tot)
        |)
        |SELECT d.doc_id, d.lang, CAST(th.r AS DOUBLE) AS rate
        |FROM documents d JOIN th ON d.lang = th.lang
        |WHERE th.r >= 1.0
        |   OR substr(md5(concat('mix#', CAST(d.doc_id AS VARCHAR))), 1, 8) < th.thr
        |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val cnt = docs.groupBy("lang").agg(count(lit(1)).as("n"))
      val tot = cnt.agg(sum("n").as("t"), count(lit(1)).as("k"))
      val th = cnt.crossJoin(broadcast(tot))
        .withColumn("r", least(lit(1.0), (col("t").cast("double") / col("k")) / col("n")))
        .withColumn("thr",
          lower(lpad(hex(floor(col("r") * 4294967296L).cast("long")), 8, "0")))
        .select("lang", "r", "thr")
      docs.join(broadcast(th), Seq("lang"))
        .filter(col("r") >= 1.0 ||
          substring(md5(concat(lit("mix#"), col("doc_id").cast("string"))), 1, 8)
            < col("thr"))
        .select(col("doc_id"), col("lang"), col("r").as("rate"))
        .orderBy("doc_id")
    },

    // Temperature-scaled language sampling weights — the multilingual
    // mixing rule (p_l ∝ n_l^α, mBERT/XLM-R exponent family): α < 1
    // upweights low-resource languages without flattening to uniform.
    // α is pinned at 1/2 because IEEE sqrt is CORRECTLY ROUNDED (pow is
    // not): w_l = floor(sqrt(n_l·10⁶)) is an EXACT BIGINT in both
    // engines (an integer's true sqrt is never within a half-ulp of a
    // different integer at this magnitude), so the weight vector, its
    // total, and the ppm budget are integer-exact end-to-end; the
    // double columns are pinned division/multiply chains over exact
    // integers (boost = (w/Σw)·(Σn/n) — never w·Σn as an integer
    // product, which passes 2⁶³ at corpus scale and wraps in Spark
    // while DuckDB promotes to HUGEINT).
    // Scale shape: one map-side-combined per-language rollup touches
    // documents once; the total is a 1-row broadcast.
    Q("txt_mix_temperature",
      s"""WITH cnt AS (
         |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |         CAST(SUM(len($toksSql)) AS BIGINT) AS n_tok
         |  FROM documents GROUP BY lang
         |), w AS (
         |  SELECT lang, n_docs, n_tok,
         |         CAST(floor(sqrt(CAST(n_tok * 1000000 AS DOUBLE)))
         |              AS BIGINT) AS wgt
         |  FROM cnt
         |), tot AS (
         |  SELECT CAST(SUM(wgt) AS BIGINT) AS tw,
         |         CAST(SUM(n_tok) AS BIGINT) AS tn
         |  FROM w
         |)
         |SELECT lang, n_docs, n_tok, wgt,
         |       (wgt * 1000000) // tw AS p_temp_ppm,
         |       CAST(CAST(wgt AS DOUBLE) / tw AS DOUBLE) AS p_temp,
         |       CAST((CAST(wgt AS DOUBLE) / tw)
         |            * (CAST(tn AS DOUBLE) / n_tok) AS DOUBLE) AS boost
         |FROM w CROSS JOIN tot ORDER BY lang""".stripMargin) { (s, d) =>
      val cnt = Tables.documents(s, d)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(toks(col("text")))).as("n_tok"))
      val w = cnt.select(col("lang"), col("n_docs"), col("n_tok"),
        floor(sqrt((col("n_tok") * 1000000L).cast("double"))).cast("long")
          .as("wgt"))
      val tot = w.agg(sum("wgt").as("tw"), sum("n_tok").as("tn"))
      w.crossJoin(broadcast(tot))
        .select(col("lang"), col("n_docs"), col("n_tok"), col("wgt"),
          expr("(wgt * 1000000) div tw").as("p_temp_ppm"),
          (col("wgt").cast("double") / col("tw")).as("p_temp"),
          ((col("wgt").cast("double") / col("tw"))
            * (col("tn").cast("double") / col("n_tok"))).as("boost"))
        .orderBy("lang")
    },

    // Fractional-epoch source upsampling — the data-budget step of a
    // pretraining mix (N.M "epochs" of a source ⇒ every doc appears
    // floor(N.M) times plus one more with probability M, decided by a
    // deterministic per-doc coin, txt_mix's salted-md5 convention).
    // Budgets here derive from the source number (epochs ∈ {1.0, 1.5,
    // 2.0, 2.5}) to stay self-contained; a real run joins a broadcast
    // source→epochs dimension. Replication is a per-row generator
    // explode — map-only, no shuffle, no join; the output manifest is
    // (doc, copy) so downstream packing/shuffling sees distinct rows.
    // Integer epoch math (ex2 = 2×epochs) keeps both engines exact —
    // no float rate ever compared.
    // Corpus snapshot diff — the audit a versioned data lake runs
    // between ingest epochs (Delta/Iceberg snapshot compare as a plain
    // query): per-source counts of added / removed / changed /
    // unchanged docs. v2 is a deterministic simulated next epoch
    // (every 13th doc dropped, every 17th edited, the %10 clones
    // added), so the diff exercises all four branches. ONE full-outer
    // key join; change detection compares md5(text), never the
    // payloads; counts aggregate map-side — at 100 TB both snapshots
    // are bucketed by doc_id so the join co-locates, and only hashes
    // ride the shuffle (the snk_merge scale note).
    Q("chk_snapshot_diff",
      s"""WITH v1 AS (
        |  SELECT doc_id, source, md5(text) AS h FROM documents
        |), v2 AS (
        |  SELECT doc_id, source,
        |         md5(CASE WHEN doc_id % 17 = 0 THEN concat(text, ' upd7')
        |                  ELSE text END) AS h
        |  FROM documents WHERE doc_id % 13 <> 0
        |  UNION ALL
        |  SELECT doc_id + $cloneOffSql AS doc_id, source, md5(text) AS h
        |  FROM documents WHERE doc_id % 10 = 0
        |), d AS (
        |  SELECT coalesce(v1.source, v2.source) AS source,
        |         CASE WHEN v1.doc_id IS NULL THEN 'added'
        |              WHEN v2.doc_id IS NULL THEN 'removed'
        |              WHEN v1.h <> v2.h THEN 'changed'
        |              ELSE 'unchanged' END AS status
        |  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
        |)
        |SELECT source,
        |       CAST(SUM(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
        |       CAST(SUM(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |       CAST(SUM(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
        |       CAST(SUM(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged
        |FROM d GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val v1 = docs.select(col("doc_id"), col("source"),
        md5(col("text")).as("h"))
      val v2 = docs.filter(col("doc_id") % 13 =!= 0)
        .select(col("doc_id"), col("source"),
          md5(when(col("doc_id") % 17 === 0, concat(col("text"), lit(" upd7")))
            .otherwise(col("text"))).as("h"))
        .unionByName(docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + cloneOff(s, d)).as("doc_id"), col("source"),
            md5(col("text")).as("h")))
      val d1 = v1.select(col("doc_id"), col("source").as("s1"), col("h").as("h1"))
      val d2 = v2.select(col("doc_id"), col("source").as("s2"), col("h").as("h2"))
      d1.join(d2, Seq("doc_id"), "full_outer")
        .select(coalesce(col("s1"), col("s2")).as("source"),
          when(col("h1").isNull, "added")
            .when(col("h2").isNull, "removed")
            .when(col("h1") =!= col("h2"), "changed")
            .otherwise("unchanged").as("status"))
        .groupBy("source")
        .agg(
          sum(when(col("status") === "added", 1).otherwise(0)).as("n_added"),
          sum(when(col("status") === "removed", 1).otherwise(0)).as("n_removed"),
          sum(when(col("status") === "changed", 1).otherwise(0)).as("n_changed"),
          sum(when(col("status") === "unchanged", 1).otherwise(0)).as("n_unchanged"))
        .orderBy("source")
    },

    Q("txt_upsample",
      """WITH b AS (
        |  SELECT doc_id, source,
        |         2 + (CAST(substr(source, 4) AS INTEGER) % 4) AS ex2
        |  FROM documents
        |), n AS (
        |  SELECT doc_id, source, CAST(ex2 AS DOUBLE) / 2 AS target_epochs,
        |         ex2 // 2
        |         + (CASE WHEN ex2 % 2 = 1 AND
        |              substr(md5(concat('up#', CAST(doc_id AS VARCHAR))), 1, 8)
        |                < '80000000'
        |            THEN 1 ELSE 0 END) AS n_copies
        |  FROM b
        |)
        |SELECT doc_id, CAST(c.copy AS BIGINT) AS copy, source, target_epochs
        |FROM n, UNNEST(range(1, n_copies + 1)) AS c(copy)
        |ORDER BY doc_id, copy""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          (lit(2) + substring(col("source"), 4, 10).cast("int") % 4)
            .as("ex2"))
        .withColumn("target_epochs", col("ex2").cast("double") / 2)
        .withColumn("n_copies",
          expr("ex2 div 2").cast("int") +
            when(col("ex2") % 2 === 1 &&
              substring(md5(concat(lit("up#"), col("doc_id").cast("string"))),
                1, 8) < "80000000", 1).otherwise(0))
        .select(col("doc_id"),
          explode(sequence(lit(1), col("n_copies"))).as("copy"),
          col("source"), col("target_epochs"))
        .select(col("doc_id"), col("copy").cast("long").as("copy"),
          col("source"), col("target_epochs"))
        .orderBy("doc_id", "copy")
    },

    // ── LSH-Ensemble containment search: quote → host documents ────────

    // The executable form of the scale note dedup_containment records:
    // Jaccard-tuned banding cannot serve a SHORT query contained in a
    // MUCH longer document (C ≈ 1 while J ≈ |q|/|d| is tiny), and the
    // published answer is size-partitioned banding (LSH Ensemble,
    // VLDB'16) — partition the corpus by set size, tune each
    // partition's banding to the J lower bound containment implies
    // THERE, and let every query probe every partition. Here: 30-token
    // quote prefixes probe documents split into three shingle-count
    // bands; the small-doc band (where the implied J is high) uses
    // r=2 bands of 2 rows, the larger bands degrade to r=1 (4
    // single-hash keys — more candidates, the price of a looser J
    // bound), and the exact directed gate 5·I ≥ 4·|S(q)| re-proves
    // every candidate. Same salted-min-md5 signature family and
    // term-for-term oracle mirror as the MinHash dedup family; quote
    // probes fan out ×(bands · keys) — a constant — and every join is
    // a (band, key) equi-join, so the plan scales with candidate
    // co-occupancy exactly like the Jaccard banding. The spec pins
    // quote→own-document recall and candidate-set sanity.
    Q("sim_containment_lsh", {
      val sigsD = (0 until 4).map(k =>
        s"min(md5(concat('es$k#', s))) AS h$k").mkString(", ")
      s"""WITH td AS (
         |  SELECT doc_id, ${bigramsSql("t")} AS sh
         |  FROM (SELECT doc_id, $toksSql AS t FROM documents) x
         |  WHERE len(t) >= 2
         |), tq AS (
         |  SELECT qid, ${bigramsSql("t")} AS sh
         |  FROM (SELECT doc_id AS qid, ($toksSql)[1:30] AS t
         |        FROM documents WHERE doc_id < 50) x
         |  WHERE len(t) >= 2
         |), ed AS (
         |  SELECT DISTINCT doc_id, unnest(sh) AS s FROM td
         |), eq AS (
         |  SELECT DISTINCT qid, unnest(sh) AS s FROM tq
         |), szd AS (
         |  SELECT doc_id, COUNT(*) AS n FROM ed GROUP BY doc_id
         |), szq AS (
         |  SELECT qid, COUNT(*) AS n FROM eq GROUP BY qid
         |), sigd AS (
         |  SELECT ed.doc_id, $sigsD,
         |         CASE WHEN MIN(szd.n) < 32 THEN 0
         |              WHEN MIN(szd.n) < 64 THEN 1 ELSE 2 END AS band
         |  FROM ed JOIN szd ON ed.doc_id = szd.doc_id
         |  GROUP BY ed.doc_id
         |), sigq AS (
         |  SELECT qid, ${(0 until 4).map(k =>
             s"min(md5(concat('es$k#', s))) AS h$k").mkString(", ")}
         |  FROM eq GROUP BY qid
         |), dkeys AS (
         |  SELECT doc_id, band, concat('0:', h0, h1) AS key FROM sigd
         |  WHERE band = 0
         |  UNION ALL SELECT doc_id, band, concat('1:', h2, h3) FROM sigd
         |  WHERE band = 0
         |  UNION ALL SELECT doc_id, band, concat('0:', h0) FROM sigd
         |  WHERE band >= 1
         |  UNION ALL SELECT doc_id, band, concat('1:', h1) FROM sigd
         |  WHERE band >= 1
         |  UNION ALL SELECT doc_id, band, concat('2:', h2) FROM sigd
         |  WHERE band >= 1
         |  UNION ALL SELECT doc_id, band, concat('3:', h3) FROM sigd
         |  WHERE band >= 1
         |), qkeys AS (
         |  SELECT qid, 0 AS band, concat('0:', h0, h1) AS key FROM sigq
         |  UNION ALL SELECT qid, 0, concat('1:', h2, h3) FROM sigq
         |  UNION ALL SELECT qid, b.band, concat('0:', h0)
         |    FROM sigq, (VALUES (1), (2)) b(band)
         |  UNION ALL SELECT qid, b.band, concat('1:', h1)
         |    FROM sigq, (VALUES (1), (2)) b(band)
         |  UNION ALL SELECT qid, b.band, concat('2:', h2)
         |    FROM sigq, (VALUES (1), (2)) b(band)
         |  UNION ALL SELECT qid, b.band, concat('3:', h3)
         |    FROM sigq, (VALUES (1), (2)) b(band)
         |), cand AS (
         |  SELECT DISTINCT q.qid, d.doc_id
         |  FROM qkeys q JOIN dkeys d ON q.band = d.band AND q.key = d.key
         |), inter AS (
         |  SELECT c.qid, c.doc_id, COUNT(*) AS n_inter
         |  FROM cand c
         |  JOIN eq ON eq.qid = c.qid
         |  JOIN ed ON ed.doc_id = c.doc_id AND ed.s = eq.s
         |  GROUP BY c.qid, c.doc_id
         |)
         |SELECT qid, doc_id, CAST(n_inter AS BIGINT) AS n_inter,
         |       CAST(szq.n AS BIGINT) AS n_q, CAST(szd.n AS BIGINT) AS n_d,
         |       CAST((100 * n_inter) // szq.n AS BIGINT) AS cont_pct
         |FROM inter JOIN szq USING (qid) JOIN szd USING (doc_id)
         |WHERE 5 * n_inter >= 4 * szq.n
         |ORDER BY qid, doc_id""".stripMargin
    }) { (s, d) =>
      val (ed, eq, cand) = containmentStages(s, d)
      val szd = ed.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val szq = eq.groupBy("qid").agg(count(lit(1)).as("n"))
      val inter = cand
        .join(eq.select(col("qid"), col("s")), Seq("qid"))
        .join(ed.select(col("doc_id"), col("s")), Seq("doc_id", "s"))
        .groupBy("qid", "doc_id").agg(count(lit(1)).as("n_inter"))
      inter
        .join(broadcast(szq.select(col("qid"), col("n").as("n_q"))), Seq("qid"))
        .join(broadcast(szd.select(col("doc_id"), col("n").as("n_d"))),
          Seq("doc_id"))
        .filter(expr("5 * n_inter >= 4 * n_q"))
        .select(col("qid"), col("doc_id"), col("n_inter"), col("n_q"),
          col("n_d"), expr("(100 * n_inter) div n_q").as("cont_pct"))
        .orderBy("qid", "doc_id")
    },

    // ── sparse retrieval: exact TF-cosine top-k via inverted index ─────

    // The sparse twin of the dense ANN family (sim_topk_* search
    // embeddings; this searches the TOKENS): 30-token quote queries
    // ranked against the corpus through an inverted index — candidate
    // (q, d) pairs exist only where a query term's posting list meets
    // a document, so join work is Σ_term df_q·df_d over QUERY terms,
    // never |Q|×|D|. Everything that decides rank is exact: the dot
    // product Σ tf_q·tf_d and both squared norms are INTEGER sums
    // (association-order-free), the cosine is one pinned double
    // expression over them, and ties break on doc_id — so the top-3
    // lists hash-match across engines. This is TF cosine, not BM25,
    // deliberately: a log-idf term sum is an order-sensitive double
    // fold (parity rule 3). At 100 TB the scale lever is the standard
    // IR one — cap or impact-sort hot posting lists; stopword terms
    // dominate Σ df_q·df_d exactly like hot keys in a skewed join.
    Q("txt_cosine_topk",
      s"""WITH tq AS (
         |  SELECT qid, unnest(t) AS term
         |  FROM (SELECT doc_id AS qid, ($toksSql)[1:30] AS t
         |        FROM documents WHERE doc_id < 50) x
         |), q AS (
         |  SELECT qid, term, COUNT(*) AS tf_q FROM tq GROUP BY qid, term
         |), td AS (
         |  SELECT doc_id, unnest(t) AS term
         |  FROM (SELECT doc_id, $toksSql AS t FROM documents) x
         |), d AS (
         |  SELECT doc_id, term, COUNT(*) AS tf_d FROM td GROUP BY doc_id, term
         |), nq AS (
         |  SELECT qid, SUM(tf_q * tf_q) AS q2 FROM q GROUP BY qid
         |), nd AS (
         |  SELECT doc_id, SUM(tf_d * tf_d) AS d2 FROM d GROUP BY doc_id
         |), dot AS (
         |  SELECT q.qid, d.doc_id, SUM(q.tf_q * d.tf_d) AS num
         |  FROM q JOIN d ON q.term = d.term
         |  GROUP BY q.qid, d.doc_id
         |), scored AS (
         |  SELECT dot.qid, dot.doc_id, dot.num, nq.q2, nd.d2,
         |         CAST(dot.num AS DOUBLE)
         |           / sqrt(CAST(nq.q2 AS DOUBLE) * nd.d2) AS cos
         |  FROM dot JOIN nq USING (qid) JOIN nd USING (doc_id)
         |), ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY qid
         |           ORDER BY cos DESC, doc_id) AS rank
         |  FROM scored
         |)
         |SELECT qid, CAST(rank AS INTEGER) AS rank, doc_id,
         |       CAST(num AS BIGINT) AS num, cos
         |FROM ranked WHERE rank <= 3
         |ORDER BY qid, rank""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val q = docs.filter(col("doc_id") < 50)
        .select(col("doc_id").as("qid"),
          explode(slice(toks(col("text")), 1, 30)).as("term"))
        .groupBy("qid", "term").agg(count(lit(1)).as("tf_q"))
      val dd = docs
        .select(col("doc_id"), explode(toks(col("text"))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf_d"))
      val nq = q.groupBy("qid").agg(sum(col("tf_q") * col("tf_q")).as("q2"))
      val nd = dd.groupBy("doc_id")
        .agg(sum(col("tf_d") * col("tf_d")).as("d2"))
      val dot = q.join(dd, Seq("term"))
        .groupBy("qid", "doc_id").agg(sum(col("tf_q") * col("tf_d")).as("num"))
      val scored = dot
        .join(broadcast(nq), Seq("qid"))
        .join(broadcast(nd), Seq("doc_id"))
        .select(col("qid"), col("doc_id"), col("num"), col("q2"), col("d2"),
          (col("num").cast("double") /
            sqrt(col("q2").cast("double") * col("d2"))).as("cos"))
      scored
        .withColumn("rank", row_number().over(Window.partitionBy("qid")
          .orderBy(col("cos").desc, col("doc_id"))))
        .filter(col("rank") <= 3)
        .select(col("qid"), col("rank"), col("doc_id"), col("num"),
          col("cos"))
        .orderBy("qid", "rank")
    },

    // ── pointwise mutual information collocations ──────────────────────

    // Corpus-level collocation mining (the phrase-vocabulary step of a
    // tokenizer/vocab pipeline — word2vec's phrase pass, Mikolov et al.
    // 2013 §4): PMI(w1,w2) = ln( p(w1w2) / (p(w1)·p(w2)) ) over exact
    // corpus counts, min support 5, top-50. Scale shape: two exploded
    // hash aggregates (token counts, bigram counts — both map-side
    // combined), then the bigram table joins the VOCAB-sized unigram
    // table twice (broadcast) and a distributed TakeOrdered picks the
    // top-k — nothing all-pairs, nothing corpus-scale past the two
    // aggregates. Engine parity: counts exact BIGINT; the association
    // strength is reported as the LIFT ratio e^PMI = p(w1w2)/(p(w1)p(w2))
    // rather than the log — lift is monotone with PMI (identical
    // ranking) but needs only IEEE-exact ×/÷ in one pinned order,
    // where ln() is 1-ulp engine-dependent (JVM Math.log vs libm —
    // measured divergence); ties broken (w1, w2).
    Q("txt_pmi_bigrams",
      s"""WITH t AS (SELECT $toksSql AS t FROM documents),
         |u AS (SELECT unnest(t) AS w FROM t),
         |uni AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM u GROUP BY w),
         |bg AS (SELECT unnest(${bigramsSql("t")}) AS b FROM t),
         |bi AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS n_pair FROM bg GROUP BY b),
         |tot AS (SELECT (SELECT CAST(SUM(c) AS BIGINT) FROM uni) AS nu,
         |               (SELECT CAST(SUM(n_pair) AS BIGINT) FROM bi) AS nb)
         |SELECT split_part(b, ' ', 1) AS w1, split_part(b, ' ', 2) AS w2,
         |       n_pair, u1.c AS n_w1, u2.c AS n_w2,
         |       CAST((CAST(n_pair AS DOUBLE) / nb)
         |            / ((CAST(u1.c AS DOUBLE) / nu)
         |               * (CAST(u2.c AS DOUBLE) / nu)) AS DOUBLE) AS lift
         |FROM bi CROSS JOIN tot
         |JOIN uni u1 ON split_part(b, ' ', 1) = u1.w
         |JOIN uni u2 ON split_part(b, ' ', 2) = u2.w
         |WHERE n_pair >= 5
         |ORDER BY lift DESC, w1, w2 LIMIT 50""".stripMargin) { (s, d) =>
      val t = Tables.documents(s, d).select(toks(col("text")).as("t"))
      val uni = t.select(explode(col("t")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
      val biAll = t.select(explode(bigrams(col("t"))).as("b"))
        .groupBy("b").agg(count(lit(1)).as("n_pair"))
      val tot = uni.agg(sum("c").cast("long").as("nu"))
        .crossJoin(broadcast(biAll.agg(sum("n_pair").cast("long").as("nb"))))
      val u1 = uni.select(col("w").as("w1"), col("c").as("n_w1"))
      val u2 = uni.select(col("w").as("w2"), col("c").as("n_w2"))
      biAll.filter(col("n_pair") >= 5)
        .select(split(col("b"), " ").getItem(0).as("w1"),
          split(col("b"), " ").getItem(1).as("w2"), col("n_pair"))
        .join(broadcast(u1), Seq("w1"))
        .join(broadcast(u2), Seq("w2"))
        .crossJoin(broadcast(tot))
        .select(col("w1"), col("w2"), col("n_pair"), col("n_w1"), col("n_w2"),
          ((col("n_pair").cast("double") / col("nb"))
            / ((col("n_w1").cast("double") / col("nu"))
              * (col("n_w2").cast("double") / col("nu")))).as("lift"))
        .orderBy(col("lift").desc, col("w1"), col("w2"))
        .limit(50)
    },

    // ── per-document unigram entropy + lexical-diversity counters ──────

    // The Shannon-entropy quality signal (low entropy = repetitive /
    // template text, a standard pretraining filter axis alongside the
    // Gopher rules): H = ln n − (Σ c·ln c)/n over per-doc term counts,
    // plus type-token ratio and hapax count. The float hazard — Σ c·ln c
    // is a SUM of doubles whose accumulation order differs across
    // engines — is eliminated by FIXED-POINT quantization: each term
    // contributes floor(c·ln c · 10⁶) as an exact BIGINT, the per-doc
    // sum is exact integer math (order-free), and the one double
    // division at the end is pinned. Quantization error is < |types|/10⁶
    // nats — noise for a quality score, and bit-identical in both
    // engines BY CONSTRUCTION rather than by accumulation-order luck.
    // The OUTPUT is transcendental-free too: the closing ln(n) term is
    // itself floor-quantized, so entropy = exact_int / n / 10⁶ — two
    // IEEE-exact divisions (a bare ln(n) in the output proved 1-ulp
    // engine-dependent, JVM Math.log vs libm). Scale shape: explode →
    // one (doc_id, term) hash aggregate → one doc_id aggregate; both
    // map-side combined, zero joins, zero windows.
    Q("txt_entropy",
      s"""WITH e AS (SELECT doc_id, unnest($toksSql) AS w FROM documents),
         |c AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS c
         |      FROM e GROUP BY doc_id, w),
         |f AS (SELECT doc_id, c,
         |        CAST(floor(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))
         |                   * 1000000) AS BIGINT) AS fp
         |      FROM c),
         |g AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
         |        CAST(COUNT(*) AS BIGINT) AS n_types,
         |        CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |          AS n_hapax,
         |        CAST(SUM(fp) AS BIGINT) AS sfp
         |      FROM f GROUP BY doc_id)
         |SELECT doc_id, n_tokens, n_types, n_hapax,
         |       CAST(CAST(CAST(floor(ln(CAST(n_tokens AS DOUBLE)) * 1000000)
         |                   AS BIGINT) * n_tokens - sfp AS DOUBLE)
         |            / n_tokens / 1000000 AS DOUBLE) AS entropy,
         |       CAST(CAST(n_types AS DOUBLE) / n_tokens AS DOUBLE) AS ttr
         |FROM g ORDER BY doc_id""".stripMargin) { (s, d) =>
      val c = Tables.documents(s, d)
        .select(col("doc_id"), explode(toks(col("text"))).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      c.select(col("doc_id"), col("c"),
          floor(col("c").cast("double") * log(col("c").cast("double"))
            * 1000000).as("fp"))
        .groupBy("doc_id")
        .agg(sum("c").as("n_tokens"), count(lit(1)).as("n_types"),
          sum(when(col("c") === 1, 1).otherwise(0)).as("n_hapax"),
          sum("fp").as("sfp"))
        .select(col("doc_id"), col("n_tokens"), col("n_types"), col("n_hapax"),
          ((floor(log(col("n_tokens").cast("double")) * 1000000)
            * col("n_tokens") - col("sfp")).cast("double")
            / col("n_tokens") / 1000000).as("entropy"),
          (col("n_types").cast("double") / col("n_tokens")).as("ttr"))
        .orderBy("doc_id")
    },

    // ── bigram language-model score (perplexity-proxy quality) ─────────

    // The KenLM-shaped fluency filter (CCNet, Wenzek et al. 2020 scores
    // documents by LM perplexity and keeps the fluent tail): train a
    // bigram MLE on the corpus itself — p(w2|w1) = c(w1w2)/c(w1·) —
    // and score each document by its mean bigram log-probability
    // (perplexity is exp(−avg_lp), left to the consumer: exp() is
    // 1-ulp engine-dependent, JVM vs libm, so it can't be an oracled
    // output column). Same fixed-point contract as txt_entropy: each
    // bigram occurrence contributes floor(ln p · 10⁶) as an exact
    // BIGINT (ln p ≤ 0; floor is toward −∞ in both engines), so the
    // per-doc mean is exact integer math plus IEEE-exact divisions in
    // one pinned order. Scale shape: the corpus-
    // scale stream (doc bigram occurrences) hash-joins the bigram-vocab
    // count table on the bigram key and broadcasts the unigram-prefix
    // table — the model tables are vocab-sized, the stream is touched
    // once, and the final aggregate is map-side combined on doc_id.
    Q("txt_lm_score",
      s"""WITH $lmStatsCtes
         |SELECT doc_id, n_bigrams,
         |       CAST(CAST(sfp AS DOUBLE) / 1000000 / n_bigrams AS DOUBLE)
         |         AS avg_lp
         |FROM a ORDER BY doc_id""".stripMargin) { (s, d) =>
      lmSuffStats(s, d)
        .select(col("doc_id"), col("n_bigrams"),
          (col("sfp").cast("double") / 1000000 / col("n_bigrams")).as("avg_lp"))
        .orderBy("doc_id")
    },

    // ── CCNet head/middle/tail perplexity buckets ──────────────────────

    // The CCNet corpus cut (Wenzek et al. 2020): per LANGUAGE, rank
    // documents by LM score and split into exact tertiles — head (most
    // fluent third) / middle / tail, the label downstream sampling
    // mixes on. score_q = floor(sfp·1000 / n_bigrams) keeps the
    // per-bigram average an exact BIGINT (sfp is already exact micro-
    // log-prob). The rank is the agg_winsorized_dist discipline: ONE
    // range-partitioned global ranker over (lang, score_q, doc_id) —
    // lang partitions are corpus-scale, so no PARTITION BY lang window
    // — turned into per-lang ranks by Ranking.withGroupRank. Tertile
    // edges by integer cross-multiplication (3·rank ≤ n), no
    // percentile float anywhere.
    Q("txt_ccnet_bucket",
      s"""WITH $lmStatsCtes,
         |sc AS (
         |  SELECT a.doc_id, d.lang,
         |         CAST(floor(CAST(sfp AS DOUBLE) * 1000 / n_bigrams)
         |           AS BIGINT) AS score_q
         |  FROM a JOIN documents d ON d.doc_id = a.doc_id
         |), r AS (
         |  SELECT doc_id, lang, score_q,
         |         row_number() OVER (PARTITION BY lang
         |           ORDER BY score_q, doc_id) AS rk,
         |         COUNT(*) OVER (PARTITION BY lang) AS n
         |  FROM sc
         |)
         |SELECT doc_id, lang, score_q,
         |       CASE WHEN 3*rk <= n THEN 'tail'
         |            WHEN 3*rk <= 2*n THEN 'middle'
         |            ELSE 'head' END AS bucket
         |FROM r ORDER BY doc_id""".stripMargin) { (s, d) =>
      val sc = lmSuffStats(s, d)
        .join(Tables.documents(s, d).select("doc_id", "lang"), Seq("doc_id"))
        .select(col("doc_id"), col("lang"),
          floor(col("sfp").cast("double") * 1000 / col("n_bigrams"))
            .cast("long").as("score_q"))
      Ranking.withGroupRank(
          Ranking.globalRowNumber(sc, Seq("lang", "score_q", "doc_id")), "lang")
        .select(col("doc_id"), col("lang"), col("score_q"),
          when(col("rk") * 3 <= col("n"), "tail")
            .when(col("rk") * 3 <= col("n") * 2, "middle")
            .otherwise("head").as("bucket"))
        .orderBy("doc_id")
    },

    // ── winnowing fingerprint candidates (Schleimer SIGMOD'03 / MOSS) ──

    // Local document fingerprinting with a GUARANTEE the MinHash family
    // cannot give: select, from each window of w=4 consecutive k=4-token
    // gram hashes, the window's minimum hash — then any shared token
    // run of ≥ w+k−1 = 7 tokens between two documents is certain to
    // surface a shared fingerprint (both windows covering the run
    // select the same minimum), while the kept-fingerprint density
    // stays ~2/(w+1) of grams. MinHash banding catches high-Jaccard
    // PAIRS probabilistically; winnowing catches LOCAL overlap
    // deterministically — the plagiarism/citation-detection kernel, and
    // the cheap screen before dedup_substring's exact span machinery.
    // Scale shape: gram hashing AND window-min selection are per-row
    // array expressions over the token array (the dedup_substring
    // discipline — nothing explodes until fingerprints are selected,
    // so the exploded stream is already density-thinned); the candidate
    // join is a fingerprint equi-join, with boilerplate heavy-hitter
    // fingerprints (doc frequency > 20) dropped BEFORE the join — the
    // standard df-cap that bounds any fingerprint's join fan-out, so no
    // single viral n-gram can quadratic-blow the pair stage at corpus
    // scale. All md5 hex hashes: lexicographic min agrees across
    // engines. Pairs sharing ≥ 2 surviving fingerprints emerge; the
    // planted near-clones (shared prefix ≫ 7 tokens) must all appear —
    // TextOpsSpec pins that and the density bound.
    Q("txt_winnowing",
      s"""WITH $withNearClonesSql,
         |tok AS (
         |  SELECT doc_id, $toksSql AS t FROM docs
         |), g AS (
         |  SELECT doc_id, t, len(t) - 3 AS m FROM tok WHERE len(t) >= 4
         |), h AS (
         |  SELECT doc_id, m,
         |         list_transform(range(1, m + 1),
         |           i -> md5(array_to_string(t[i:i+3], ' '))) AS hs
         |  FROM g
         |), f AS (
         |  SELECT doc_id,
         |         list_distinct(list_transform(
         |           range(1, greatest(1, m - 3) + 1),
         |           j -> list_min(hs[j:j+3]))) AS fps
         |  FROM h
         |), p AS (
         |  SELECT doc_id, unnest(fps) AS fp FROM f
         |), keep AS (
         |  SELECT fp FROM p GROUP BY fp HAVING COUNT(*) <= 20
         |), pk AS (
         |  SELECT p.doc_id, p.fp FROM p JOIN keep k ON k.fp = p.fp
         |)
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |       CAST(COUNT(*) AS BIGINT) AS n_shared
         |FROM pk a JOIN pk b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING COUNT(*) >= 2
         |ORDER BY a_id, b_id""".stripMargin) { (s, d) =>
      val K = 4; val W = 4
      // LET-BINDING, load-bearing: naming the token/hash arrays as
      // COLUMNS and referencing them inside the next projection's
      // lambdas lets CollapseProject inline the whole upstream
      // expression into EVERY lambda element — tokenization and gram
      // hashing re-run per window position, O(m²) per doc (measured:
      // 486 s at sf0.1 vs 0.4 s fixed). Binding each array as a lambda
      // VARIABLE via a single-element transform pins one evaluation per
      // row; the optimizer cannot inline through a NamedLambdaVariable.
      val fps = withNearClones(s, d)
        .filter(size(toks(col("text"))) >= K) // sequence() descends below
        .select(col("doc_id"),
          array_distinct(flatten(transform(
            array(toks(col("text"))), // one-element wrapper: binds t once
            t => flatten(transform(
              array(transform(sequence(lit(1), size(t) - (K - 1)),
                i => md5(concat_ws(" ", slice(t, i, lit(K)))))),
              hs => transform(
                sequence(lit(1), greatest(lit(1), size(hs) - (W - 1))),
                j => array_min(slice(hs, j, lit(W))))))))).as("fps"))
      // the fingerprint table feeds FOUR consumers (the df-cap
      // aggregate, the semi-join, and both sides of the pair join) —
      // un-materialized, the interpreted higher-order fingerprint
      // expression re-evaluates per consumer (measured 6.3 s → 1.5 s
      // at sf0.1); one shared persist runs it once
      val p = graft.Caches.shared(
        fps.select(col("doc_id"), explode(col("fps")).as("fp")))
      val keep = p.groupBy("fp").agg(count(lit(1)).as("df"))
        .filter(col("df") <= 20).select("fp")
      val pk = p.join(keep, Seq("fp"), "left_semi")
      pk.select(col("doc_id").as("a_id"), col("fp"))
        .join(pk.select(col("doc_id").as("b_id"), col("fp")), Seq("fp"))
        .filter(col("a_id") < col("b_id"))
        .groupBy("a_id", "b_id").agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 2)
        .orderBy("a_id", "b_id")
    },

    // ── MinHash banding recall, measured AS A QUERY ────────────────────

    // The dedup twin of sim_ivf_recall: banding is PROBABILISTIC (a
    // near-dup pair surfaces only if some band's hashes all collide),
    // so its recall against the planted ground truth is an operating
    // parameter a pipeline owner tunes (bands × rows trade recall
    // against candidate volume) — here it is observable in the same
    // harness that runs the dedup, not a notebook afterthought.
    // Output: planted pair count, pairs the banding caught, total
    // candidate volume (the cost side of the trade-off), and exact
    // integer recall_ppm. Scale shape: the planted relation is
    // eval-sized by definition → broadcast semi-join against the
    // candidate stream; three 1-row aggregates compose via the
    // broadcast scalar-join pattern. The candidate stage itself is the
    // session-shared MinHash kernel every dedup_* consumer rides.
    Q("dedup_minhash_recall",
      s"""WITH $minhashCandSql,
         |planted AS (
         |  SELECT doc_id AS a_id, doc_id + $cloneOffSql AS b_id FROM documents
         |  WHERE doc_id % 10 = 0
         |), hit AS (
         |  SELECT c.a_id FROM cand c
         |  JOIN planted p ON p.a_id = c.a_id AND p.b_id = c.b_id
         |)
         |SELECT CAST((SELECT COUNT(*) FROM planted) AS BIGINT) AS n_planted,
         |       CAST((SELECT COUNT(*) FROM hit) AS BIGINT) AS n_caught,
         |       CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS n_cand,
         |       CAST((SELECT COUNT(*) FROM hit) * 1000000
         |              // nullif((SELECT COUNT(*) FROM planted), 0)
         |            AS BIGINT)
         |         AS recall_ppm""".stripMargin) { (s, d) =>
      val cand = minhashCandidates(s, d).select("a_id", "b_id")
      val planted = Tables.documents(s, d).filter(col("doc_id") % 10 === 0)
        .select(col("doc_id").as("a_id"),
          (col("doc_id") + cloneOff(s, d)).as("b_id"))
      val nP = planted.agg(count(lit(1)).as("n_planted"))
      val nH = cand.join(broadcast(planted), Seq("a_id", "b_id"), "left_semi")
        .agg(count(lit(1)).as("n_caught"))
      val nC = cand.agg(count(lit(1)).as("n_cand"))
      // nullif: zero planted pairs must read as NULL recall on both
      // engines, not a DuckDB division-by-zero error (dedup_cc_quality
      // discipline)
      nP.crossJoin(broadcast(nH)).crossJoin(broadcast(nC))
        .select(col("n_planted"), col("n_caught"), col("n_cand"),
          expr("n_caught * 1000000 div nullif(n_planted, 0)")
            .as("recall_ppm"))
    },

    // ── MinHash banding trade-off curve (r×b sweep, one query) ─────────

    // The dedup twin of sim_ivf_recall_curve: from the SAME four
    // signature hashes, the three band shapes 4×1 / 2×2 / 1×4 trade
    // recall against candidate volume (P[candidate] = 1−(1−J^r)^b —
    // more, shorter bands catch lower-Jaccard pairs at the cost of
    // more false candidates; the production kernel's 2×2 sits in the
    // middle). Measured AS A QUERY so the curve lives in the harness
    // that times it: per config, candidate-pair volume, planted pairs
    // caught, and exact recall_ppm. One signature computation feeds
    // all three configs — band keys are per-row concats, and each
    // config's candidate join is the usual band equi-join, never
    // all-pairs. Monotonicity (both recall AND volume rise from 1×4 to
    // 4×1) is spec-pinned.
    Q("dedup_minhash_curve",
      s"""WITH $minhashCandSql,
         |b41 AS (
         |  SELECT doc_id, 0 AS band, h0 AS key FROM sig
         |  UNION ALL SELECT doc_id, 1, h1 FROM sig
         |  UNION ALL SELECT doc_id, 2, h2 FROM sig
         |  UNION ALL SELECT doc_id, 3, h3 FROM sig
         |), c41 AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM b41 a JOIN b41 b
         |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
         |), c14 AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM sig a JOIN sig b
         |    ON a.h0 = b.h0 AND a.h1 = b.h1 AND a.h2 = b.h2
         |   AND a.h3 = b.h3 AND a.doc_id < b.doc_id
         |), planted AS (
         |  SELECT doc_id AS a_id, doc_id + $cloneOffSql AS b_id FROM documents
         |  WHERE doc_id % 10 = 0
         |), np AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM planted)
         |SELECT config, n_cand, n_caught,
         |       CAST(n_caught * 1000000 // np.n AS BIGINT) AS recall_ppm
         |FROM (
         |  SELECT '1x4' AS config,
         |    CAST((SELECT COUNT(*) FROM c14) AS BIGINT) AS n_cand,
         |    CAST((SELECT COUNT(*) FROM c14 c JOIN planted p
         |          ON p.a_id = c.a_id AND p.b_id = c.b_id) AS BIGINT)
         |      AS n_caught
         |  UNION ALL SELECT '2x2',
         |    CAST((SELECT COUNT(*) FROM cand) AS BIGINT),
         |    CAST((SELECT COUNT(*) FROM cand c JOIN planted p
         |          ON p.a_id = c.a_id AND p.b_id = c.b_id) AS BIGINT)
         |  UNION ALL SELECT '4x1',
         |    CAST((SELECT COUNT(*) FROM c41) AS BIGINT),
         |    CAST((SELECT COUNT(*) FROM c41 c JOIN planted p
         |          ON p.a_id = c.a_id AND p.b_id = c.b_id) AS BIGINT)
         |) t CROSS JOIN np ORDER BY config""".stripMargin) { (s, d) =>
      val sig = minhashSig(s, d)
      val planted = Tables.documents(s, d).filter(col("doc_id") % 10 === 0)
        .select(col("doc_id").as("a_id"),
          (col("doc_id") + cloneOff(s, d)).as("b_id"))
      def candPairs(bands: DataFrame): DataFrame =
        bands.select(col("doc_id").as("a_id"), col("band"), col("key"))
          .join(bands.select(col("doc_id").as("b_id"), col("band"),
            col("key")), Seq("band", "key"))
          .filter(col("a_id") < col("b_id"))
          .select("a_id", "b_id").distinct()
      def keyed(cols: Seq[Seq[String]]): DataFrame =
        cols.zipWithIndex.map { case (hs, i) =>
          sig.select(col("doc_id"), lit(i).as("band"),
            concat(hs.map(col): _*).as("key"))
        }.reduce(_ unionByName _)
      val configs = Seq(
        "1x4" -> keyed(Seq(Seq("h0", "h1", "h2", "h3"))),
        "2x2" -> keyed(Seq(Seq("h0", "h1"), Seq("h2", "h3"))),
        "4x1" -> keyed(Seq(Seq("h0"), Seq("h1"), Seq("h2"), Seq("h3"))))
      val nP = planted.agg(count(lit(1)).as("np"))
      configs.map { case (name, bands) =>
        val cand = candPairs(bands)
        val nc = cand.agg(count(lit(1)).as("n_cand"))
        val nh = cand
          .join(broadcast(planted), Seq("a_id", "b_id"), "left_semi")
          .agg(count(lit(1)).as("n_caught"))
        nc.crossJoin(broadcast(nh)).crossJoin(broadcast(nP))
          .select(lit(name).as("config"), col("n_cand"), col("n_caught"),
            expr("n_caught * 1000000 div np").as("recall_ppm"))
      }.reduce(_ unionByName _).orderBy("config")
    },

    // ── FLAGSHIP curation composite: the full pipeline as ONE query ────

    // The training-data twin of dd_rollup's reference composite: a
    // five-stage curation funnel over a corpus with PLANTED hazards —
    // exact copies (+2*cloneOff, %7), near clones (+cloneOff, %10), and
    // cross-corpus LEAKAGE (copies/clones of EVAL documents, which are
    // excluded from the corpus at ingest) — emitting the stage LEDGER
    // (docs, tokens per stage) a curation run reports:
    //   1_ingest → 2_gate (word-count floor; the corpus-appropriate
    //   Gopher rule — the full matrix is txt_gopher_rules) → 3_exact
    //   (md5 min-id survivor) → 4_near (banded-candidate CC clusters,
    //   min-ALIVE-id survivor) → 5_decontam (eval-shingle overlap
    //   ≥ 50% dropped).
    // The stage ORDER is the story: dedup CANNOT catch an eval clone —
    // its cluster-mate (the eval original) is not in the corpus, so it
    // survives stage 4 as its own cluster and only the contamination
    // gate removes it (spec pins exactly this). Scale shape: each
    // stage is a proven kernel (per-row gate; md5 hash-agg; the
    // session-shared cluster assignment joined once; shingle equi-join
    // vs a broadcast-sized eval set); the ledger is five counts — no
    // stage materializes anything a 100 TB run wouldn't.
    Q("pipeline_curate", {
      val evalPred =
        "substr(md5(concat('eval#', CAST(doc_id AS VARCHAR))), 1, 2) < '10'"
      s"""WITH $minhashCandSql,
         |${ccClusSql()},
         |corpus AS (
         |  SELECT doc_id, text FROM documents WHERE NOT ($evalPred)
         |  UNION ALL
         |  SELECT doc_id + 2 * $cloneOffSql, text FROM documents WHERE doc_id % 7 = 0
         |  UNION ALL
         |  SELECT doc_id + $cloneOffSql, concat(text, ' zz9 qq8') FROM documents
         |  WHERE doc_id % 10 = 0
         |), tokd AS (
         |  SELECT doc_id, text,
         |         len(list_filter(string_split(text, ' '), x -> x <> ''))
         |           AS n_tok
         |  FROM corpus
         |), a2 AS (SELECT * FROM tokd WHERE n_tok >= 50),
         |a3 AS (
         |  SELECT t.* FROM a2 t
         |  JOIN (SELECT md5(text) AS h, MIN(doc_id) AS m FROM a2
         |        GROUP BY md5(text)) g
         |    ON md5(t.text) = g.h AND t.doc_id = g.m
         |), a3c AS (
         |  SELECT a.*, COALESCE(c.cluster, a.doc_id) AS cl
         |  FROM a3 a LEFT JOIN clus c ON c.doc_id = a.doc_id
         |), a4 AS (
         |  SELECT t.doc_id, t.text, t.n_tok FROM a3c t
         |  JOIN (SELECT cl, MIN(doc_id) AS m FROM a3c GROUP BY cl) g
         |    ON t.cl = g.cl AND t.doc_id = g.m
         |), ev AS (
         |  SELECT DISTINCT unnest(list_transform(range(1, len(t) - 2),
         |           i -> array_to_string(t[i:i+3], ' '))) AS sx
         |  FROM (SELECT $toksSql AS t FROM documents WHERE $evalPred) x
         |  WHERE len(t) >= 4
         |), cont AS (
         |  SELECT s.doc_id, COUNT(*) AS n_sh,
         |         SUM(CASE WHEN ev.sx IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
         |  FROM (SELECT doc_id,
         |          unnest(list_transform(range(1, len(t) - 2),
         |            i -> array_to_string(t[i:i+3], ' '))) AS sx
         |        FROM (SELECT doc_id, $toksSql AS t FROM a4) y) s
         |  LEFT JOIN ev ON ev.sx = s.sx
         |  GROUP BY s.doc_id
         |), a5 AS (
         |  SELECT a.* FROM a4 a JOIN cont c ON c.doc_id = a.doc_id
         |  WHERE 2 * c.n_hit < c.n_sh
         |)
         |SELECT stage, n_docs, n_tokens FROM (
         |  SELECT '1_ingest' AS stage, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |         CAST(SUM(n_tok) AS BIGINT) AS n_tokens FROM tokd
         |  UNION ALL SELECT '2_gate', CAST(COUNT(*) AS BIGINT),
         |         CAST(SUM(n_tok) AS BIGINT) FROM a2
         |  UNION ALL SELECT '3_exact', CAST(COUNT(*) AS BIGINT),
         |         CAST(SUM(n_tok) AS BIGINT) FROM a3
         |  UNION ALL SELECT '4_near', CAST(COUNT(*) AS BIGINT),
         |         CAST(SUM(n_tok) AS BIGINT) FROM a4
         |  UNION ALL SELECT '5_decontam', CAST(COUNT(*) AS BIGINT),
         |         CAST(SUM(n_tok) AS BIGINT) FROM a5
         |) t ORDER BY stage""".stripMargin
    }) { (s, d) =>
      val isEval = (id: Column) =>
        substring(md5(concat(lit("eval#"), id.cast("string"))), 1, 2)
          .lt("10")
      val base = Tables.documents(s, d).select("doc_id", "text")
      val corpus = base.filter(!isEval(col("doc_id")))
        .unionByName(base.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 2 * cloneOff(s, d)).as("doc_id"), col("text")))
        .unionByName(base.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + cloneOff(s, d)).as("doc_id"),
            concat(col("text"), lit(" zz9 qq8")).as("text")))
      val tokd = graft.Caches.shared(corpus.select(col("doc_id"), col("text"),
        size(toks(col("text"))).as("n_tok")))
      val a2 = tokd.filter(col("n_tok") >= 50)
      val a3 = a2.withColumn("h", md5(col("text")))
        .join(a2.groupBy(md5(col("text")).as("h"))
          .agg(min("doc_id").as("m")), Seq("h"))
        .filter(col("doc_id") === col("m"))
        .select("doc_id", "text", "n_tok")
      val a3c = a3.join(
          Graph.nearCloneClusters(s, d)
            .select(col("id").as("doc_id"), col("label")),
          Seq("doc_id"), "left")
        .select(col("doc_id"), col("text"), col("n_tok"),
          coalesce(col("label"), col("doc_id")).as("cl"))
      val a4 = graft.Caches.shared(a3c
        .join(a3c.groupBy("cl").agg(min("doc_id").as("m")), Seq("cl"))
        .filter(col("doc_id") === col("m"))
        .select("doc_id", "text", "n_tok"))
      // 4-token contamination shingles (longer than the bigram screen
      // txt_contamination uses): on a tiny shared vocab the BIGRAM
      // universe saturates — the eval union covers most possible
      // bigrams and every doc reads ≥50% "contaminated" (measured:
      // stage 5 went to zero) — while 4-gram space is vocab⁴-sparse,
      // so organic overlap is rare and only genuine copies cross the
      // gate. Let-bound per the bigrams() lesson.
      val quadgrams = (text: Column) =>
        element_at(transform(array(toks(text)), t =>
          transform(sequence(lit(1), size(t) - 3),
            i => concat_ws(" ", slice(t, i, lit(4))))), 1)
      val ev = base.filter(isEval(col("doc_id")))
        .filter(size(toks(col("text"))) >= 4)
        .select(explode(quadgrams(col("text"))).as("sx")).distinct()
      val cont = a4
        .select(col("doc_id"), explode(quadgrams(col("text"))).as("sx"))
        .join(broadcast(ev.withColumn("hit", lit(1L))), Seq("sx"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_sh"),
          sum(when(col("hit").isNotNull, 1L).otherwise(0L)).as("n_hit"))
      val a5 = a4.join(cont, Seq("doc_id"))
        .filter(lit(2) * col("n_hit") < col("n_sh"))
      def ledger(stage: String, df: DataFrame): DataFrame =
        df.agg(count(lit(1)).as("n_docs"),
          sum("n_tok").cast("long").as("n_tokens"))
          .select(lit(stage).as("stage"), col("n_docs"), col("n_tokens"))
      ledger("1_ingest", tokd)
        .unionByName(ledger("2_gate", a2))
        .unionByName(ledger("3_exact", a3))
        .unionByName(ledger("4_near", a4))
        .unionByName(ledger("5_decontam", a5))
        .orderBy("stage")
    },

    // ── ROUGE-2 contamination severity (how bad is each hit?) ──────────

    // txt_contamination answers WHICH training docs overlap the eval
    // slice; this answers HOW BADLY, in the metric eval suites actually
    // report: per eval doc, the best-matching training doc by ROUGE-2
    // recall = |bigrams(eval) ∩ bigrams(train)| / |bigrams(eval)| over
    // DISTINCT bigram sets. A high-recall hit means the eval answer is
    // effectively memorizable from that one training doc — the
    // severity ranking a decontamination triage reads first. Exact
    // integers end-to-end (set sizes, intersection via the shingle
    // equi-join; ppm by non-negative div) + one pinned double. Scale
    // shape: the intersection join carries one row per SHARED shingle
    // (never doc×doc), the top-1 window partitions by eval doc
    // (broadcast-sized slice by construction), and the per-eval total
    // joins from a pre-aggregated eval-size table.
    Q("txt_rouge2", {
      val evalPred =
        "substr(md5(concat('eval#', CAST(doc_id AS VARCHAR))), 1, 2) < '10'"
      s"""WITH sh AS (
         |  SELECT DISTINCT doc_id, unnest(${bigramsSql("t")}) AS sx
         |  FROM (SELECT doc_id, $toksSql AS t FROM documents) x
         |  WHERE len(t) >= 2
         |), ev AS (SELECT doc_id AS e_id, sx FROM sh WHERE $evalPred),
         |tr AS (SELECT doc_id AS t_id, sx FROM sh WHERE NOT ($evalPred)),
         |evn AS (SELECT e_id, CAST(COUNT(*) AS BIGINT) AS n_eval
         |        FROM ev GROUP BY e_id),
         |ov AS (
         |  SELECT ev.e_id, tr.t_id, CAST(COUNT(*) AS BIGINT) AS n_shared
         |  FROM ev JOIN tr ON ev.sx = tr.sx
         |  GROUP BY ev.e_id, tr.t_id
         |), best AS (
         |  SELECT e_id, t_id, n_shared,
         |         row_number() OVER (PARTITION BY e_id
         |           ORDER BY n_shared DESC, t_id) AS rn
         |  FROM ov
         |)
         |SELECT b.e_id AS eval_id, b.t_id AS best_train, evn.n_eval,
         |       b.n_shared,
         |       CAST((1000000 * b.n_shared) // evn.n_eval AS BIGINT)
         |         AS rouge2_ppm,
         |       CAST(b.n_shared AS DOUBLE) / evn.n_eval AS rouge2_recall
         |FROM best b JOIN evn ON evn.e_id = b.e_id
         |WHERE b.rn = 1 ORDER BY eval_id""".stripMargin
    }) { (s, d) =>
      val isEval =
        substring(md5(concat(lit("eval#"), col("doc_id").cast("string"))),
          1, 2).lt("10")
      val sh = distinctBigramShingles(s, d)
      val ev = sh.filter(isEval)
        .select(col("doc_id").as("e_id"), col("sx"))
      val tr = sh.filter(!isEval)
        .select(col("doc_id").as("t_id"), col("sx"))
      val evn = ev.groupBy("e_id").agg(count(lit(1)).as("n_eval"))
      val ov = ev.join(tr, Seq("sx"))
        .groupBy("e_id", "t_id").agg(count(lit(1)).as("n_shared"))
      val w = Window.partitionBy("e_id")
        .orderBy(col("n_shared").desc, col("t_id"))
      ov.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .join(broadcast(evn), Seq("e_id"))
        .select(col("e_id").as("eval_id"), col("t_id").as("best_train"),
          col("n_eval"), col("n_shared"),
          expr("(1000000 * n_shared) div n_eval").as("rouge2_ppm"),
          (col("n_shared").cast("double") / col("n_eval"))
            .as("rouge2_recall"))
        .orderBy("eval_id")
    },

    // ── tokenizer fertility by language (the multilingual audit) ───────

    // Tokens-per-word under the LEARNED BPE vocabulary, cut by
    // language — the number multilingual tokenizer audits lead with
    // (a language whose fertility is 2× pays 2× the context budget for
    // the same text). Fourth consumer of the memoized [[bpeFit]]: the
    // post-merge state carries each word's token count (its row count
    // in st4); per-language occurrence counts re-weight that
    // vocabulary-sized table, so the corpus is touched once more for
    // the (lang, word) rollup and nothing else. Exact integers with
    // two single-division doubles. The SQL mirror re-runs the 4-round
    // trainer CTE chain (AS MATERIALIZED on every multiply-read level —
    // the txt_bpe_merges lesson).
    Q("txt_bpe_fertility", {
      val rounds = (1 to 4).map(bpeRoundSql).mkString(",\n")
      s"""WITH vocab AS (
         |  SELECT word, CAST(COUNT(*) AS BIGINT) AS w FROM (
         |    SELECT unnest($toksSql) AS word FROM documents) x
         |  GROUP BY word
         |), st0 AS MATERIALIZED (
         |  SELECT word, w, CAST(r.pos AS BIGINT) AS pos,
         |         substr(word, CAST(r.pos AS INTEGER), 1) AS tok
         |  FROM vocab, UNNEST(range(1, len(word) + 1)) AS r(pos)
         |),
         |$rounds, wl AS (
         |  SELECT word, CAST(COUNT(*) AS BIGINT) AS n_tok
         |  FROM st4 GROUP BY word
         |), lw AS (
         |  SELECT lang, word, CAST(COUNT(*) AS BIGINT) AS c FROM (
         |    SELECT lang, unnest($toksSql) AS word FROM documents) x
         |  GROUP BY lang, word
         |)
         |SELECT lang,
         |       CAST(SUM(c) AS BIGINT) AS n_words,
         |       CAST(SUM(c * len(lw.word)) AS BIGINT) AS n_chars,
         |       CAST(SUM(c * n_tok) AS BIGINT) AS n_tokens,
         |       CAST(CAST(SUM(c * n_tok) AS DOUBLE)
         |            / CAST(SUM(c) AS DOUBLE) AS DOUBLE) AS fertility,
         |       CAST(CAST(SUM(c * len(lw.word)) AS DOUBLE)
         |            / CAST(SUM(c * n_tok) AS DOUBLE) AS DOUBLE)
         |         AS chars_per_token
         |FROM lw JOIN wl ON wl.word = lw.word
         |GROUP BY lang ORDER BY lang""".stripMargin
    }) { (s, d) =>
      val wl = bpeFit(s, d)._2
        .groupBy("word").agg(count(lit(1)).as("n_tok"))
      val lw = Tables.documents(s, d)
        .select(col("lang"), explode(toks(col("text"))).as("word"))
        .groupBy("lang", "word").agg(count(lit(1)).as("c"))
      lw.join(wl, Seq("word"))
        .groupBy("lang")
        .agg(sum("c").as("n_words"),
          sum(col("c") * length(col("word"))).cast("long").as("n_chars"),
          sum(col("c") * col("n_tok")).as("n_tokens"))
        .select(col("lang"), col("n_words"), col("n_chars"), col("n_tokens"),
          (col("n_tokens").cast("double") / col("n_words").cast("double"))
            .as("fertility"),
          (col("n_chars").cast("double") / col("n_tokens").cast("double"))
            .as("chars_per_token"))
        .orderBy("lang")
    },

    // ── streaming contamination feed, driver-visible (§2.10) ───────────

    // StreamContamination's drop-dir gate materialized against the
    // batch txt_contamination oracle VERBATIM — the sixth driver-
    // visible streaming row, and the only one with no closed-day
    // restriction: the gate has no event time (documents, not events),
    // so every scored row must equal the batch scan row-for-row
    // (StreamContaminationSpec pins it in-JVM; this re-proves it
    // through the DuckDB hash gate each round).
    Q("stream_contamination_feed", contaminationSql) { (s, d) =>
      graft.streaming.StreamContamination.runAvailableNow(s, d)
        .orderBy("doc_id")
    },

    // ── corpus top-k n-grams (the WIMBD ledger) ────────────────────────

    // "What's In My Big Data"-style corpus inspection: the most
    // frequent word TRIGRAMS with document frequency alongside term
    // frequency — the table a corpus audit prints first (boilerplate,
    // licenses, templates all surface here before any model sees
    // them). Exact integer counts; the top-30 rides a
    // TakeOrderedAndProject (per-partition heaps, never a global
    // sort — the txt_vocab_topk guard discipline). Scale shape: one
    // explode → one map-side-combined hash agg over the trigram
    // vocabulary; doc frequency needs the per-(doc, trigram) distinct
    // first, both aggregates map-side combinable.
    Q("txt_trigram_topk",
      s"""WITH tg AS (
         |  SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
         |           i -> concat(t[i], ' ', t[i+1], ' ', t[i+2]))) AS g
         |  FROM (SELECT doc_id, $toksSql AS t FROM documents) x
         |  WHERE len(t) >= 3
         |), tf AS (
         |  SELECT g, CAST(COUNT(*) AS BIGINT) AS tf,
         |         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
         |  FROM tg GROUP BY g
         |)
         |SELECT g AS trigram, tf, df FROM tf
         |ORDER BY tf DESC, trigram LIMIT 30""".stripMargin) { (s, d) =>
      val t = toks(col("text"))
      val tg = Tables.documents(s, d)
        .select(col("doc_id"), t.as("t"))
        .filter(size(col("t")) >= 3)
        .select(col("doc_id"), explode(element_at(transform(array(col("t")),
          tt => transform(sequence(lit(1), size(tt) - 2),
            i => concat_ws(" ", element_at(tt, i), element_at(tt, i + 1),
              element_at(tt, i + 2)))), 1)).as("g"))
      tg.groupBy("g")
        .agg(count(lit(1)).as("tf"), count_distinct(col("doc_id")).as("df"))
        .select(col("g").as("trigram"), col("tf"), col("df"))
        .orderBy(col("tf").desc, col("trigram")).limit(30)
    },

    // ── line-level dedup (the CCNet/Dolma granularity) ─────────────────

    // Exact duplicate removal one level BELOW the document: the corpus
    // is cut into non-overlapping 8-token chunks ("lines" — this
    // corpus has no newline structure, so the unit is positional), and
    // only the globally FIRST occurrence of each chunk survives
    // (first = min (doc_id, idx), the deterministic tie Dolma uses via
    // document order). Documents are then reassembled from their
    // surviving chunks. Scale shape: one explode → one map-side-
    // combined min-agg over the chunk vocabulary → one equi-join back;
    // nothing is ever pairwise, and the reassembly aggregate carries
    // (idx, chunk) structs so no window is needed. At 100 TB this is
    // the standard two-shuffle first-occurrence dedup; the chunk hash
    // (not the chunk text) would key the agg — here the text IS tiny.
    Q("txt_line_dedup",
      s"""WITH t AS (SELECT doc_id, $toksSql AS t FROM documents),
         |ch AS (
         |  SELECT doc_id, i AS idx,
         |         array_to_string(t[CAST(i*8+1 AS BIGINT) : CAST(i*8+8 AS BIGINT)], ' ') AS chunk
         |  FROM (SELECT doc_id, t, unnest(range(0, (len(t)+7)//8)) AS i
         |        FROM t) x
         |), f AS (
         |  SELECT chunk, MIN({'d': doc_id, 'i': idx}) AS fk
         |  FROM ch GROUP BY chunk
         |), k AS (
         |  SELECT ch.doc_id, ch.idx, ch.chunk
         |  FROM ch JOIN f ON ch.chunk = f.chunk
         |              AND {'d': ch.doc_id, 'i': ch.idx} = f.fk
         |), tot AS (
         |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks
         |  FROM ch GROUP BY doc_id
         |), ka AS (
         |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
         |         string_agg(chunk, ' ' ORDER BY idx) AS kept_text
         |  FROM k GROUP BY doc_id
         |)
         |SELECT tot.doc_id, n_chunks,
         |       CAST(COALESCE(n_kept, 0) AS BIGINT) AS n_kept,
         |       COALESCE(kept_text, '') AS kept_text
         |FROM tot LEFT JOIN ka ON tot.doc_id = ka.doc_id
         |ORDER BY tot.doc_id""".stripMargin) { (s, d) =>
      val t = Tables.documents(s, d)
        .select(col("doc_id"), toks(col("text")).as("t"))
      // let-bind the token array (winnowing lesson) so the chunk lambda
      // doesn't re-tokenize per element
      val ch = t.select(col("doc_id"),
        posexplode(element_at(transform(array(col("t")), tt =>
          transform(sequence(lit(0),
            floor((size(tt) + lit(7)) / lit(8)).cast("int") - 1),
            i => array_join(slice(tt, i * 8 + 1, lit(8)), " "))), 1)))
        .toDF("doc_id", "idx", "chunk")
      // first occurrence = lexicographic min (doc_id, idx) as a struct —
      // a packed doc_id*K + idx key silently corrupts past K chunks per
      // doc (keys collide ACROSS documents, identically in both engines,
      // so the cross-engine check can't see it)
      val key = struct(col("doc_id").as("d"), col("idx").as("i"))
      val f = ch.groupBy("chunk").agg(min(key).as("fk"))
      val k = ch.join(f, Seq("chunk")).filter(key === col("fk"))
      val tot = ch.groupBy("doc_id").agg(count(lit(1)).as("n_chunks"))
      val ka = k.groupBy("doc_id").agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("idx"), col("chunk")))),
          x => x.getField("chunk")), " ").as("kept_text"))
      tot.join(ka, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_chunks"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("kept_text"), lit("")).as("kept_text"))
        .orderBy("doc_id")
    },

    // ── Kneser-Ney continuation counts ─────────────────────────────────

    // The KN smoothing backbone: a word's continuation probability is
    // the share of distinct BIGRAM TYPES it completes, not its raw
    // frequency — the quantity that separates "Francisco" (frequent
    // but only after "San") from genuinely productive words. All exact
    // integers: cont_cnt = |{w' : c(w', w) > 0}|, total_types = number
    // of distinct bigram types, p_cont_ppm = floor(cont·10⁶ / T)
    // computed as one double division of exact ints (< 2⁵³) in the
    // identical order on both engines. Scale shape: distinct over
    // (w1, w2) pairs is one map-side-combinable shuffle on the bigram
    // vocabulary; the type total is a broadcast one-row scalar.
    Q("txt_kn_continuation",
      s"""WITH t AS (SELECT doc_id, $toksSql AS t FROM documents),
         |bg AS (SELECT DISTINCT unnest(${bigramsSql("t")}) AS b
         |       FROM t WHERE len(t) >= 2),
         |cc AS (SELECT split_part(b, ' ', 2) AS token,
         |              CAST(COUNT(*) AS BIGINT) AS cont_cnt
         |       FROM bg GROUP BY 1),
         |tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS total_types FROM bg)
         |SELECT token, cont_cnt, total_types,
         |       CAST(floor(cont_cnt * 1000000.0 / total_types) AS BIGINT)
         |         AS p_cont_ppm
         |FROM cc, tt
         |ORDER BY cont_cnt DESC, token""".stripMargin) { (s, d) =>
      val t = Tables.documents(s, d)
        .select(toks(col("text")).as("t")).filter(size(col("t")) >= 2)
      val bg = t.select(explode(bigrams(col("t"))).as("b")).distinct()
      val cc = bg.groupBy(split(col("b"), " ").getItem(1).as("token"))
        .agg(count(lit(1)).as("cont_cnt"))
      val tt = bg.agg(count(lit(1)).as("total_types"))
      cc.crossJoin(broadcast(tt))
        .select(col("token"), col("cont_cnt"), col("total_types"),
          floor(col("cont_cnt") * lit(1000000.0) / col("total_types"))
            .cast("long").as("p_cont_ppm"))
        .orderBy(col("cont_cnt").desc, col("token"))
    },

    // ── document-frequency spectrum (WIMBD corpus profile) ─────────────

    // The df SPECTRUM of the bigram vocabulary: for each document
    // frequency d, how many distinct bigrams appear in exactly d
    // documents, with the cumulative corpus share. The left edge
    // (df = 1, hapax shingles) is novelty; the right edge is
    // boilerplate — the two tails every corpus audit reads first.
    // Scale shape: distinct (doc, gram) → per-gram df (both map-side
    // combinable) → the spectrum groupBy collapses to at most
    // |distinct df values| rows, so the running-total window runs over
    // a SPECTRUM-sized dimension (the evt_cum_users exception — this
    // is the one place a partition-less frame is scale-safe).
    Q("txt_df_spectrum",
      s"""WITH t AS (SELECT doc_id, $toksSql AS t FROM documents),
         |sh AS (SELECT DISTINCT doc_id, unnest(${bigramsSql("t")}) AS g
         |       FROM t WHERE len(t) >= 2),
         |dfr AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS df
         |        FROM sh GROUP BY g),
         |sp AS (SELECT df, CAST(COUNT(*) AS BIGINT) AS n_grams
         |       FROM dfr GROUP BY df),
         |tot AS (SELECT CAST(SUM(n_grams) AS BIGINT) AS total FROM sp)
         |SELECT df, n_grams,
         |       CAST(SUM(n_grams) OVER (ORDER BY df
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |         AS BIGINT) AS cum_grams,
         |       CAST(floor(CAST(SUM(n_grams) OVER (ORDER BY df
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |         AS DOUBLE) * 1000000.0 / total) AS BIGINT) AS cum_ppm
         |FROM sp, tot
         |ORDER BY df""".stripMargin) { (s, d) =>
      val dfr = distinctBigramShingles(s, d)
        .groupBy("sx").agg(count(lit(1)).as("df"))
      val sp = dfr.groupBy("df").agg(count(lit(1)).as("n_grams"))
      val tot = sp.agg(sum("n_grams").cast("long").as("total"))
      val w = org.apache.spark.sql.expressions.Window.orderBy("df")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      sp.crossJoin(broadcast(tot))
        .select(col("df"), col("n_grams"),
          sum("n_grams").over(w).cast("long").as("cum_grams"),
          floor(sum("n_grams").over(w).cast("double") * lit(1000000.0)
            / col("total")).cast("long").as("cum_ppm"))
        .orderBy("df")
    }
  )

  /** The sim_containment_lsh stages, exposed for the scale-law spec:
    * (ed, eq, cand) = corpus shingle sets, quote shingle sets, and the
    * size-banded candidate pairs. A SEARCH operator's scale law is the
    * inverse of a dedup pair-generator's: with the probe set fixed,
    * candidates must stay FLAT as the corpus grows (bucket co-occupancy
    * of the probes, never corpus size) — ContainmentScaleSpec pins it. */
  private[graft] def containmentStages(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = {
    def shingleSet(df: DataFrame, id: String): DataFrame =
      df.filter(size(col("t")) >= 2)
        .select(col(id), explode(bigrams(col("t"))).as("s"))
        .distinct()
    val docs = Tables.documents(s, d)
    val ed = graft.Caches.shared(shingleSet(
      docs.select(col("doc_id"), toks(col("text")).as("t")), "doc_id"))
    val eq = shingleSet(docs.filter(col("doc_id") < 50)
      .select(col("doc_id").as("qid"),
        slice(toks(col("text")), 1, 30).as("t")), "qid")
    def sigs(e: DataFrame, id: String): DataFrame =
      e.groupBy(id).agg(
        (0 until 4).map(k =>
          min(md5(concat(lit(s"es$k#"), col("s")))).as(s"h$k")).head,
        (0 until 4).map(k =>
          min(md5(concat(lit(s"es$k#"), col("s")))).as(s"h$k")).tail: _*)
    val szd = ed.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val sigd = sigs(ed, "doc_id")
      .join(szd, Seq("doc_id"))
      .withColumn("band", when(col("n") < 32, 0)
        .when(col("n") < 64, 1).otherwise(2))
    def r2Keys = array(concat(lit("0:"), col("h0"), col("h1")),
      concat(lit("1:"), col("h2"), col("h3")))
    def r1Keys = array(concat(lit("0:"), col("h0")),
      concat(lit("1:"), col("h1")), concat(lit("2:"), col("h2")),
      concat(lit("3:"), col("h3")))
    val dkeys = sigd.select(col("doc_id"), col("band"),
      explode(when(col("band") === 0, r2Keys).otherwise(r1Keys)).as("key"))
    // a query probes EVERY size band with that band's own key shape
    val qkeys = sigs(eq, "qid")
      .withColumn("band", explode(array(lit(0), lit(1), lit(2))))
      .select(col("qid"), col("band"),
        explode(when(col("band") === 0, r2Keys).otherwise(r1Keys)).as("key"))
    val cand = qkeys.join(dkeys, Seq("band", "key"))
      .select("qid", "doc_id").distinct()
    (ed, eq, cand)
  }

  /** 16-bit SimHash of a token-array column (hex-digit value via
    * conv(·,16,10) ≡ DuckDB's strpos(hexchars)−1). */
  private def simhashCol(t: Column): Column =
    (0 until 16).map { i =>
      val c = i / 4 + 1; val p = 1 << (i % 4)
      val digit = (x: Column) => conv(substring(md5(x), c, 1), 16, 10).cast("int")
      when(aggregate(t, lit(0),
        (a, x) => a + when(floor(digit(x) / p) % 2 === 1, 1).otherwise(-1))
        > 0, 1 << i).otherwise(0)
    }.reduce(_ + _).cast("int")

  /** SQL mirror of [[simhashCol]] over an aliased token list `t`. */
  private def simhashSql: String =
    (0 until 16).map { i =>
      val c = i / 4 + 1; val p = 1 << (i % 4)
      s"""CASE WHEN list_sum(list_transform(t, x ->
         |  CASE WHEN (strpos('0123456789abcdef', substr(md5(x), $c, 1)) - 1) // $p % 2 = 1
         |       THEN 1 ELSE -1 END)) > 0 THEN ${1 << i} ELSE 0 END""".stripMargin
    }.mkString("\n + ")
}
