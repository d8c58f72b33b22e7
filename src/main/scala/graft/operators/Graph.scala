package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.{Caches, Q}

/** Connected components over the near-duplicate candidate graph — the
  * stage after pair generation in a dedup pipeline: candidate PAIRS say
  * "these two look alike"; the CLUSTER decides which single doc
  * survives. Transitivity matters (A~B, B~C must collapse to one
  * survivor even if A~C was never a candidate pair), so pair-wise
  * dedup alone under-deletes.
  *
  * Implementation: iterative min-label propagation WITH pointer
  * jumping — every vertex starts as its own label, each round takes
  * the min label across itself and its neighbors, then path-halves
  * (label ← label's label), fixpoint when no label changes. Each round
  * is two shuffle joins + one hash aggregate; a [[Caches.cut]] cuts
  * the lineage so round N's plan doesn't re-derive rounds 1..N-1.
  * Round count = O(log diameter) thanks to the jump (propagation alone
  * pays the full diameter, and real candidate graphs chain — measured
  * diameter ~11 at sf0.1); the large-star/small-star reformulation
  * (Kiveris et al., "Connected Components in MapReduce and Beyond",
  * SoCC'14) in [[connectedComponentsStar]] is the O(log n)-in-
  * component-SIZE alternative with the same join-per-round shape.
  *
  * The oracle is a bounded pointer-jumped min-label propagation with a
  * convergence certificate ([[TextOps.ccClusSql]]) — until r12 it was a
  * RECURSIVE CTE transitive closure, which enumerates Σ|cluster|² pairs
  * and blew the sf1 checker wall (VERDICT r11 #2).
  */
object Graph {

  /** Min-label-propagation connected components.
    * @param vertices one column `id`
    * @param edges    two columns `src`, `dst` (undirected; any orientation)
    * @return (`id`, `label`) where `label` = min vertex id in the component
    */
  def connectedComponents(vertices: DataFrame, edges: DataFrame,
                          maxIter: Int = 50): DataFrame = {
    // persist the EDGE LIST, not the symmetrized union: both union
    // branches then read one cached copy instead of materializing the
    // (possibly expensive) edge derivation twice
    val e = edges.select(col("src"), col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val sym = e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
    // only vertices that touch an edge can ever change label — the
    // propagation loop runs on the candidate SUBGRAPH (normally ≪ the
    // corpus: most docs have no dup candidate), and the singleton
    // majority bypasses every round as its own cluster. `ids` is cut,
    // and it materializes inside the first `labelSum` job (the round-1
    // labels semi-join it), before `e.unpersist()` below — so the
    // bypass branch of the returned plan reads the cut blocks, not `e`.
    val ids = e.select(col("src").as("id"))
      .unionByName(e.select(col("dst").as("id")))
      .distinct().transform(Caches.cut)
    val solo = vertices.select(col("id"))
      .join(ids, Seq("id"), "left_anti")
      .select(col("id"), col("id").as("label"))
    // convergence probe: labels only ever DECREASE under min-propagation,
    // so Σlabel is strictly monotone until the fixpoint — one tiny
    // aggregate on the already-checkpointed round result replaces a
    // join-with-previous + count job per round. Decimal sum: exact and
    // overflow-free at any vertex-count × id-range.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(coalesce(sum(col("label").cast("decimal(38,0)")),
        lit(java.math.BigDecimal.ZERO).cast("decimal(38,0)")))
        .head().getDecimal(0)
    // The convergence probe is the action that materializes each
    // round's cut, so a round costs one job, not two.
    // Round 1 is FUSED into initialization: with identity labels,
    // propagating min over self∪neighbors IS the first round, so the
    // textbook identity-init round never runs as its own job. Its probe
    // sum CANNOT equal a later round's (it would require every label
    // stationary already, which the loop then confirms in one round).
    var labels = vertices.select(col("id"))
      .join(ids, Seq("id"), "left_semi")
      .select(col("id"), col("id").as("label"))
      .unionByName(sym.select(col("src").as("id"), col("dst").as("label")))
      .groupBy("id").agg(min("label").as("label"))
      .transform(Caches.cut)
    var prevSum = labelSum(labels)
    var it = 0
    var converged = false
    // one propagate + pointer-jump pass, as a PLAN transform (no
    // action). Propagation alone pays DIAMETER rounds, and real
    // candidate graphs do chain (measured diameter ~11 at sf0.1, not
    // the near-clique the MinHash intuition suggests); the jump
    // (path halving: label ← min(label, label(label))) makes the label
    // distance to the root halve each pass → O(log d) passes. Every
    // label is a vertex id of the subgraph, so the self-join matches
    // every row; both steps only ever DECREASE labels, so the Σlabel
    // convergence probe is untouched. The self-join reuses stepped's
    // own exchange (same canonicalized subplan), not a recompute.
    def pass(cur: DataFrame): DataFrame = {
      val viaNbr = sym.join(cur, sym("dst") === cur("id"))
        .select(sym("src").as("id"), col("label"))
      // stepped feeds both sides of the pointer-jump self-join; its
      // SHUFFLE is deduped by exchange reuse, and re-running the cheap
      // post-shuffle aggregate beats paying block-cache writes for it
      // (measured: persisting stepped costs ~18% of the round)
      val stepped = cur.unionByName(viaNbr)
        .groupBy("id").agg(min("label").as("label"))
      val l2 = stepped.select(col("id").as("__lid"), col("label").as("__ll"))
      stepped.join(l2, stepped("label") === l2("__lid"))
        .select(stepped("id"), least(col("label"), col("__ll")).as("label"))
    }
    while (!converged && it < maxIter) {
      // TWO passes per materialized round (VERDICT r8 #2): the job
      // count — not the per-job work — is what a loaded host
      // multiplies (each round = scheduler latency + checkpoint write
      // + probe), and the subgraph is small enough that a deeper
      // per-job DAG is free by comparison. Halves checkpoints and
      // probe jobs for the same propagation distance; convergence
      // detection is untouched because Σlabel is monotone across ANY
      // number of fused passes (equal sums ⟺ neither pass moved).
      // The INNER pass is persisted for the round: the outer pass
      // consumes it from THREE subtrees (union branch, neighbor join,
      // pointer-jump self-join), and exchange reuse only dedupes the
      // shuffle write — the join/agg operators above it re-execute per
      // consumer, which is exactly the 2× cold regression bench_guard
      // caught on the unpersisted fused form. persist() works within
      // a single action: the first consumer computes the blocks, the
      // rest read them.
      val inner = pass(labels)
        .persist(StorageLevel.MEMORY_AND_DISK_SER)
      val next = pass(inner)
        .transform(Caches.cut)
      val s = labelSum(next) // materializes inner (cached once) + next
      inner.unpersist()
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      labels = next
      it += 1
    }
    // a diameter > maxIter graph would otherwise return labels that are
    // silently WRONG (mid-propagation) — fail loudly and name the fix
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — " +
          "component diameter exceeds maxIter; raise it or use " +
          "connectedComponentsStar (O(log n) rounds)")
    e.unpersist()
    labels.unionByName(solo)
  }

  /** Alternating large-star/small-star connected components (Kiveris et
    * al., SoCC'14) — the O(log n)-round variant for graphs whose
    * components can be LONG CHAINS, where min-label propagation's
    * round count (= diameter) would hurt. Each round is two
    * groupBy-min + join passes; edges converge to stars (child → root).
    * Returns (labels, rounds) so callers — and GraphSpec — can see the
    * logarithmic round count, not just trust the citation.
    * [[connectedComponents]] stays the default for near-dup graphs
    * (near-cliques: diameter ≈ 2 makes propagation cheaper per round).
    */
  def connectedComponentsStar(vertices: DataFrame, edges: DataFrame,
                              maxIter: Int = 50): (DataFrame, Int) = {
    // The round's stability probe is itself a full scan of both `ss`
    // and `e` — its shuffle-map stage computes every partition, so
    // each cut materializes INSIDE the probe job (VERDICT r10 #2: an
    // eager checkpoint cost 2 extra jobs/round, 6.34 s, 2.3× baseline);
    // the final label join then reads the cut blocks for free.
    var e = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct()
      .transform(Caches.cut)
    var rounds = 0
    var stable = false
    // r14: each star step used to be a groupBy-min + equi-join back on
    // the group key — two exchanges plus a join per star, four per
    // round. A min window over the SAME partition key attaches the
    // group min to every row in ONE exchange (partitions are
    // degree-bounded, the scalable direction), so a round is now
    // window → distinct twice + the probe: 7 exchanges → 5, no joins.
    // Value-identical to the groupBy+join form by definition of min.
    val wMin = Window.partitionBy("u")
    while (!stable && rounds < maxIter) {
      // large-star: v > u hooks onto min(N(u) ∪ {u})
      val sym = e.unionByName(
        e.select(col("dst").as("src"), col("src").as("dst")))
        .select(col("src").as("u"), col("dst").as("v"))
      val ls = sym
        .withColumn("m", least(min(col("v")).over(wMin), col("u")))
        .filter(col("v") > col("u"))
        .select(col("v").as("src"), col("m").as("dst"))
        .filter(col("src") =!= col("dst")).distinct()
      // small-star: orient v ≤ u, everyone hooks onto the min
      val or = ls.select(greatest(col("src"), col("dst")).as("u"),
        least(col("src"), col("dst")).as("v"))
      val ss = or
        .withColumn("m", min(col("v")).over(wMin))
        .select(explode(array(col("v"), col("u"))).as("src"), col("m").as("dst"))
        .filter(col("src") =!= col("dst")).distinct()
        .transform(Caches.cut)
      // ONE-job stability probe (was 2×exceptAll + 2 counts = ~4 jobs
      // per round): both sides are distinct edge sets, so tagging ±1 and
      // keeping groups whose tag-sum ≠ 0 yields exactly the symmetric
      // difference; isEmpty runs a single early-exit job over the two
      // cut inputs. Exact (no checksum-collision risk —
      // a false "stable" here would silently emit mid-convergence
      // labels).
      stable = ss.select(col("src"), col("dst"), lit(1L).as("t"))
        .unionByName(e.select(col("src"), col("dst"), lit(-1L).as("t")))
        .groupBy("src", "dst").agg(sum("t").as("t"))
        .filter(col("t") =!= 0L)
        .isEmpty
      e = ss
      rounds += 1
    }
    // same loud-failure contract as connectedComponents: exiting at
    // maxIter with the edge set still moving means the labels below
    // would be silently mid-convergence
    if (!stable)
      throw new IllegalStateException(
        s"connectedComponentsStar did not converge in $maxIter rounds — " +
          "raise maxIter (rounds grow O(log n) in component size, so " +
          "hitting this bound means n is astronomically large or the " +
          "edge derivation is unstable)")
    val labels = vertices.select(col("id"))
      .join(e.select(col("src").as("id"), col("dst").as("label")), Seq("id"),
        "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("label"))
    (labels, rounds)
  }

  /** The canonical co-purchase DISTINCT edge set (p1 < p2, parts bought
    * together in one order) over the < 400 part window, persisted once
    * per session through `Caches.shared` (r14): eight graph-family
    * queries and two insight queries embed this exact subplan, and
    * before this helper each one that didn't route through the shared
    * cache re-ran the lineitem self-join per execution — worse, the
    * src/dst-named rebuilds canonicalized UNEQUAL to the cached
    * p1/p2-named plan, so they missed the cross-query hit entirely
    * (the graph_assortativity r13 creep, found again in coreness/
    * kcore/ktruss/label_spread). One construction point makes every
    * consumer's subtree equal by construction; renames happen ABOVE
    * the cached stage. */
  private[graft] def coEdges(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame = {
    val li = graft.Tables.lineitem(s, d).filter(col("l_partkey") < 400)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
    graft.Caches.shared(li.select(col("ok"), col("p").as("p1"))
      .join(li.select(col("ok"), col("p").as("p2")), Seq("ok"))
      .filter(col("p1") < col("p2"))
      .select("p1", "p2").distinct())
  }

  /** [[coEdges]] renamed to the (src, dst) convention the iterative
    * kernels use — the rename sits above the shared cached stage. */
  private[graft] def coEdgesSrcDst(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame =
    coEdges(s, d).select(col("p1").as("src"), col("p2").as("dst"))

  /** The canonical WEIGHTED co-purchase edge set (p1 < p2,
    * w = number of DISTINCT orders sharing the pair, thresholded to
    * w ≥ 2), persisted once per session through `Caches.shared`
    * (VERDICT r14 #4 — the same canonicalization-miss creep [[coEdges]]
    * closed for the distinct kernel): graph_ppr, graph_walk_sample,
    * graph_reach and the LPA family (graph_lpa / graph_modularity via
    * [[lpaGraph]]) each rebuilt their own weighted lineitem self-join
    * per execution. One construction point; renames sit ABOVE the
    * cached stage so every consumer's subtree canonicalizes equal.
    * `count(*)` over the DISTINCT (ok, p) projection ≡ the
    * `countDistinct(ok)` some call sites previously computed over the
    * raw projection — each surviving (ok, p1, p2) combination appears
    * exactly once in the join. */
  private[graft] def coEdgesWeighted(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame = {
    val li = graft.Tables.lineitem(s, d).filter(col("l_partkey") < 400)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
      .distinct()
    graft.Caches.shared(li.select(col("ok"), col("p").as("p1"))
      .join(li.select(col("ok"), col("p").as("p2")), Seq("ok"))
      .filter(col("p1") < col("p2"))
      .groupBy("p1", "p2").agg(count(lit(1)).as("w"))
      .filter(col("w") >= 2))
  }

  /** [[coEdgesWeighted]] renamed to (src, dst, w) — rename above the
    * shared cached stage. */
  private[graft] def coEdgesWeightedSrcDst(
      s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    coEdgesWeighted(s, d).select(col("p1").as("src"),
      col("p2").as("dst"), col("w"))

  /** The near-clone corpus as a graph: vertices = docs, edges = the
    * MinHash-banded candidate pairs. */
  private[graft] def dedupGraph(s: org.apache.spark.sql.SparkSession,
      d: String): (DataFrame, DataFrame) = (
    TextOps.withNearClones(s, d).select(col("doc_id").as("id")),
    TextOps.minhashCandidates(s, d)
      .select(col("a_id").as("src"), col("b_id").as("dst")))

  /** Near-clone cluster labels (id, label), clustered ONCE per
    * (session, dir) and shared: a dedup pipeline materializes the
    * cluster assignment once and feeds every consumer from it (min-id
    * canonicals in dedup_cc, keep-longest survivors in
    * dedup_keep_longest) — re-running the iterative CC job per consumer
    * would multiply its multi-job cost by the consumer count. Memoized,
    * not just shared: the propagation loop's cut lineage makes plain
    * cache substitution unusable here (two runs build distinct RDD
    * lineages, so their plans never canonicalize equal). */
  private[graft] def nearCloneClusters(
      s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    Caches.memo(s, ("nearCloneClusters", d)) {
      val (vertices, edges) = dedupGraph(s, d)
      Caches.shared(connectedComponents(vertices, edges))
    }

  /** k-core of an undirected edge list: repeatedly delete vertices of
    * degree < k (edge deletions lower neighbors' degrees, so peel to a
    * fixpoint). Each round is one hash aggregate (degrees) + two
    * semi-joins (both endpoints survive); a [[Caches.cut]] cuts the
    * per-round lineage like the CC loop. Refuses non-convergence
    * inside `maxIter` instead of returning a mid-peel state — the
    * oracle unrolls exactly `maxIter` rounds, so a converged result is
    * comparable and an unconverged one must raise, never mismatch.
    * Returns (`id`, `deg`) = surviving vertices with their in-core
    * degrees. */
  def kcore(edges: DataFrame, k: Int, maxIter: Int = 8): DataFrame = {
    var sym = edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .transform(Caches.cut)
    var n = sym.count()
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val keep = sym.groupBy("src").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("src").as("id"))
        .transform(Caches.cut)
      val next = sym
        .join(keep.select(col("id").as("src")), Seq("src"), "left_semi")
        .join(keep.select(col("id").as("dst")), Seq("dst"), "left_semi")
        .select("src", "dst")
        .transform(Caches.cut)
      val m = next.count()
      converged = m == n
      sym = next; n = m; iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"kcore(k=$k) did not converge in $maxIter rounds")
    sym.groupBy("src").agg(count(lit(1)).as("deg"))
      .select(col("src").as("id"), col("deg"))
  }

  /** FULL core decomposition (per-node core number) via the h-index
    * iteration (Lü, Chen, Ren, Zhang, Zhou, Stanley — Nat. Commun.
    * 2016): start every node at its degree and repeatedly replace each
    * node's value with the H-INDEX of its neighbors' values; the
    * sequence is per-node monotone non-increasing and its fixpoint is
    * exactly the coreness. graph_kcore answers one membership question
    * (is v in the k-core for one fixed k); this answers all of them at
    * once. Each round is ONE neighbor equi-join + a node-PARTITIONED
    * window (bounded by a node's degree — the scalable direction) +
    * one hash agg; convergence is probed by Σh (monotonicity makes the
    * sum a complete equality witness), and non-convergence inside
    * `maxIter` REFUSES loudly (the connectedComponents discipline —
    * a mid-iteration h is an overestimate, not an approximation
    * anyone asked for). The fixpoint is idempotent, so the unrolled
    * SQL oracle may safely run more rounds than Spark needed. */
  def coreness(edges: DataFrame, maxIter: Int = 12): DataFrame = {
    val sym = edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .transform(Caches.cut)
    val w = Window.partitionBy("src").orderBy(col("nh").desc, col("dst"))
    // the convergence probe right below is the first action on each
    // round's h, so its cut materializes inside THAT job — one job per
    // round (~12 rounds), not a probe plus a materialization
    var h = sym.groupBy(col("src")).agg(count(lit(1)).as("h"))
      .select(col("src").as("id"), col("h"))
      .transform(Caches.cut)
    var prevSum = h.agg(sum("h")).collect()(0).getLong(0)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val next = sym
        .join(h, col("dst") === col("id"))
        .select(col("src"), col("dst"), col("h").as("nh"))
        .withColumn("rn", row_number().over(w))
        .groupBy(col("src"))
        .agg(max(least(col("rn").cast("long"), col("nh"))).as("h"))
        .select(col("src").as("id"), col("h"))
        .transform(Caches.cut)
      val s = next.agg(sum("h")).collect()(0).getLong(0)
      converged = s == prevSum
      h = next; prevSum = s; iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"coreness did not converge in $maxIter rounds")
    h
  }

  /** Bounded-hop BFS over an undirected edge list: minimum hop count
    * from any seed, for every vertex reachable within `maxHops`.
    * Classic frontier expansion — each round is ONE equi-join (frontier
    * against the symmetrized adjacency) plus one anti-join against the
    * visited set, so per-round work is proportional to the frontier's
    * edge boundary, never the whole graph re-scanned per vertex (the
    * textbook per-vertex shortest-path loop). A [[Caches.cut]] cuts
    * the per-round lineage (kcore precedent); an empty frontier exits
    * early — rounds after convergence are free, so a converged result
    * under `maxHops` is exact, and an UNconverged one is still
    * well-defined ("reachable within maxHops"), which is why BFS needs
    * no refusal contract where kcore/ktruss do. Vertices never reached
    * are absent (left-semi semantics, not null-padded). */
  def bfs(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    // the isEmpty probe right below is the first action on each hop's
    // frontier, so its cut materializes inside THAT job; `reached`
    // materializes inside the next hop's anti-join the same way. ~2
    // jobs/hop instead of 3 — the per-hop job constant is what
    // run-to-run variance rides on at local scale.
    val sym = edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .transform(Caches.cut)
    var reached = seeds.select(col("id"), lit(0).as("dist"))
      .transform(Caches.cut)
    var frontier = reached.select("id")
    var hop = 0
    var done = false
    while (!done && hop < maxHops) {
      hop += 1
      val next = sym
        .join(frontier.select(col("id").as("src")), Seq("src"), "left_semi")
        .select(col("dst").as("id")).distinct()
        .join(reached, Seq("id"), "left_anti")
        .transform(Caches.cut)
      if (next.isEmpty) done = true
      else {
        reached = reached
          .unionByName(next.select(col("id"), lit(hop).as("dist")))
          .transform(Caches.cut)
        frontier = next
      }
    }
    reached
  }

  /** Per-edge triangle support of a canonical (src < dst) edge list:
    * triangles enumerated once in x<y<z orientation (2-path + closing
    * edge, the graph_triangles kernel), then each triangle credits its
    * 3 edges. */
  private def support(e: DataFrame): DataFrame = {
    val tri = e.select(col("src").as("x"), col("dst").as("y"))
      .join(e.select(col("src").as("y"), col("dst").as("z")), Seq("y"))
      .join(e.select(col("src").as("x"), col("dst").as("z")), Seq("x", "z"))
    tri.select(col("x").as("src"), col("y").as("dst"))
      .unionByName(tri.select(col("y").as("src"), col("z").as("dst")))
      .unionByName(tri.select(col("x").as("src"), col("z").as("dst")))
      .groupBy("src", "dst").agg(count(lit(1)).as("sup"))
  }

  /** k-truss of a canonical undirected edge list: repeatedly delete
    * edges in fewer than k−2 triangles (each deletion can strip its
    * neighbors' triangles, so peel to a fixpoint). The cohesion
    * screen one notch stronger than [[kcore]] — membership needs
    * TRIANGLES through an edge, not mere degree, so loosely-attached
    * hubs that survive a core peel fall out of the truss. Each round
    * is one triangle enumeration (two equi-joins) + one support agg +
    * one edge semi-filter; zero-support edges drop via the inner join
    * (k ≥ 3 ⇒ threshold ≥ 1). Same convergence contract as kcore:
    * refuses a mid-peel state. Returns surviving edges with in-truss
    * support. At corpus scale the triangle join is the Σ deg² term —
    * the degree-ordered orientation (graph_triangles' note) bounds it;
    * the peel only shrinks the edge set, so round cost is monotone
    * non-increasing. */
  def ktruss(edges: DataFrame, k: Int, maxIter: Int = 8): DataFrame = {
    require(k >= 3, s"ktruss: k must be >= 3, got $k")
    var s = edges.select("src", "dst").distinct().transform(Caches.cut)
    var n = s.count()
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val next = s.join(support(s), Seq("src", "dst"))
        .filter(col("sup") >= k - 2)
        .select("src", "dst")
        .transform(Caches.cut)
      val m = next.count()
      converged = m == n
      s = next; n = m; iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"ktruss(k=$k) did not converge in $maxIter rounds")
    s.join(support(s), Seq("src", "dst"))
      .select(col("src"), col("dst"), col("sup"))
  }

  val queries: Seq[Q] = Seq(

    // Cluster the MinHash-banded candidate pairs of the near-clone
    // corpus; canonical survivor = min doc_id of the component. Docs
    // with no candidate partner are their own singleton cluster (kept
    // verbatim by the dedup).
    Q("dedup_cc",
      s"""WITH ${TextOps.minhashCandSql},
         |${TextOps.ccClusSql()}
         |SELECT doc_id, cluster, cluster = doc_id AS is_canonical
         |FROM clus ORDER BY doc_id""".stripMargin) { (s, d) =>
      nearCloneClusters(s, d)
        .select(col("id").as("doc_id"), col("label").as("cluster"),
          (col("label") === col("id")).as("is_canonical"))
        .orderBy("doc_id")
    },

    // The SAME clustering through the large-star/small-star algorithm —
    // algorithm-independent answer, so it shares dedup_cc's oracle (the
    // bounded label propagation) verbatim. This gives the
    // O(log n)-round variant oracle coverage, not just its round-count
    // spec.
    Q("dedup_cc_star",
      s"""WITH ${TextOps.minhashCandSql},
         |${TextOps.ccClusSql()}
         |SELECT doc_id, cluster, cluster = doc_id AS is_canonical
         |FROM clus ORDER BY doc_id""".stripMargin) { (s, d) =>
      val (vertices, edges) = dedupGraph(s, d)
      connectedComponentsStar(vertices, edges)._1
        .select(col("id").as("doc_id"), col("label").as("cluster"),
          (col("label") === col("id")).as("is_canonical"))
        .orderBy("doc_id")
    },

    // Soft dedup: REWEIGHT duplicates instead of dropping them — each
    // member of a near-dup cluster trains at weight 1/|cluster| (the
    // SoftDeDup idea: hard removal loses paraphrase diversity; down-
    // weighting keeps it while removing the duplication bias). Exact
    // integer ppm weights (1000000 div size, positive operands so div
    // ≡ floor on both engines); composes the memoized CC labels with
    // one size aggregate and one label equi-join — in a batch run the
    // labels frame is the SAME persisted memo dedup_cc computed, so
    // the marginal cost is the size rollup.
    Q("dedup_soft_weight",
      s"""WITH ${TextOps.minhashCandSql},
         |${TextOps.ccClusSql()},
         |cs AS (
         |  SELECT cluster, CAST(COUNT(*) AS BIGINT) AS cluster_size
         |  FROM clus GROUP BY cluster
         |)
         |SELECT c.doc_id, c.cluster, cluster_size,
         |       CAST(1000000 // cluster_size AS BIGINT) AS weight_ppm
         |FROM clus c JOIN cs ON cs.cluster = c.cluster
         |ORDER BY c.doc_id""".stripMargin) { (s, d) =>
      val labels = nearCloneClusters(s, d)
        .select(col("id").as("doc_id"), col("label").as("cluster"))
      val sizes = labels.groupBy("cluster")
        .agg(count(lit(1)).as("cluster_size"))
      labels.join(sizes, Seq("cluster"))
        .select(col("doc_id"), col("cluster"), col("cluster_size"),
          expr("1000000 div cluster_size").as("weight_ppm"))
        .orderBy("doc_id")
    },

    // Quality-aware survivor selection: real dedup pipelines keep the
    // BEST member of each near-dup cluster, not the smallest id — here
    // "best" = longest text (the common keep-longest policy), ties to
    // the smallest doc_id so selection is deterministic. Composes the
    // CC clusters with a per-cluster argmax: ONE window partitioned by
    // cluster (bounded partitions — cluster sizes are near-clone group
    // sizes, never corpus-scale).
    Q("dedup_keep_longest",
      s"""WITH ${TextOps.minhashCandSql},
         |${TextOps.ccClusSql()},
         |m AS (
         |  SELECT c.cluster, c.doc_id, length(d.text) AS n
         |  FROM clus c JOIN docs d ON d.doc_id = c.doc_id
         |)
         |SELECT cluster, doc_id AS survivor, CAST(n AS BIGINT) AS n_chars
         |FROM (SELECT *, row_number() OVER (PARTITION BY cluster
         |              ORDER BY n DESC, doc_id) AS rk FROM m) t
         |WHERE rk = 1 ORDER BY cluster""".stripMargin) { (s, d) =>
      val labels = nearCloneClusters(s, d)
      val lens = TextOps.withNearClones(s, d)
        .select(col("doc_id").as("id"), length(col("text")).as("n"))
      val w = Window.partitionBy("cluster")
        .orderBy(col("n_chars").desc, col("survivor"))
      labels.join(lens, Seq("id"))
        .select(col("label").as("cluster"), col("id").as("survivor"),
          col("n").cast("long").as("n_chars"))
        .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .drop("rk")
        .orderBy("cluster")
    },

    // Per-node triangle counts on the co-purchase graph (parts bought
    // together in one order) — the clustering-coefficient kernel of
    // community/affinity mining. Edges orient a < b, so each triangle
    // a<b<c materializes exactly once in the 2-path ⋈ closing-edge
    // join; every stage is an equi-join or hash aggregate. The part-key
    // window (< 400) keeps this the labelled demo kernel, exactly like
    // dedup_ngram_jaccard's doc window; at corpus scale the standard
    // degree-orientation trick (orient low→high degree, not low→high
    // id) bounds the 2-path fan-out by sqrt(|E|) per node — same plan
    // shape, different orientation key.
    Q("graph_triangles", trianglesOracleSql) { (s, d) =>
      val e = coEdges(s, d)
      val tri = e.select(col("p1").as("a"), col("p2").as("b"))
        .join(e.select(col("p1").as("b"), col("p2").as("c")), Seq("b"))
        .join(e.select(col("p1").as("a"), col("p2").as("c")), Seq("a", "c"))
      tri.select(col("a").as("p"))
        .unionByName(tri.select(col("b").as("p")))
        .unionByName(tri.select(col("c").as("p")))
        .groupBy("p").agg(count(lit(1)).as("n_tri"))
        .orderBy("p")
    },

    // ── global clustering coefficient ──────────────────────────────────

    // Transitivity of the co-purchase graph: C = 3·T / W, the fraction
    // of 2-paths (wedges, W = Σ d(d−1)/2) that close into triangles —
    // the one-number summary of graph_triangles' per-node ledger and
    // the standard small-world diagnostic. T counts each triangle once
    // (the a<b<c orientation of the shared kernel); counts stay exact
    // BIGINTs and the coefficient is ONE pinned division guarded by
    // nullif for the wedge-free degenerate graph. Scale shape: the
    // triangle join is the id-oriented kernel (the degree-oriented
    // O(|E|^1.5) variant beside it is the hub-safe swap-in); the wedge
    // sum is a map-side-combined degree aggregate.
    Q("graph_clustering",
      """WITH e AS (
        |  SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  WHERE a.l_partkey < 400 AND b.l_partkey < 400
        |), tri AS (
        |  SELECT e1.p1 AS a, e1.p2 AS b, e2.p2 AS c
        |  FROM e e1
        |  JOIN e e2 ON e2.p1 = e1.p2
        |  JOIN e e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2
        |), deg AS (
        |  SELECT p, CAST(COUNT(*) AS BIGINT) AS d FROM (
        |    SELECT p1 AS p FROM e UNION ALL SELECT p2 AS p FROM e) x
        |  GROUP BY p
        |)
        |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
        |       (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
        |       (SELECT CAST(COUNT(*) AS BIGINT) FROM tri) AS n_triangles,
        |       (SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) FROM deg)
        |         AS n_wedges,
        |       CAST(CAST(3 * (SELECT COUNT(*) FROM tri) AS DOUBLE)
        |            / nullif((SELECT SUM(d * (d - 1) // 2) FROM deg), 0)
        |         AS DOUBLE) AS global_cc""".stripMargin) { (s, d) =>
      val eC = coEdges(s, d)
      val tri = eC.select(col("p1").as("a"), col("p2").as("b"))
        .join(eC.select(col("p1").as("b"), col("p2").as("c")), Seq("b"))
        .join(eC.select(col("p1").as("a"), col("p2").as("c")),
          Seq("a", "c"))
      val deg = eC.select(col("p1").as("p"))
        .unionByName(eC.select(col("p2").as("p")))
        .groupBy("p").agg(count(lit(1)).as("d"))
      val nT = tri.agg(count(lit(1)).as("n_triangles"))
      val nE = eC.agg(count(lit(1)).as("n_edges"))
      val nN = deg.agg(count(lit(1)).as("n_nodes"),
        sum(expr("d * (d - 1) div 2")).as("n_wedges"))
      nN.crossJoin(broadcast(nE)).crossJoin(broadcast(nT))
        .select(col("n_nodes"), col("n_edges"), col("n_triangles"),
          col("n_wedges"),
          ((col("n_triangles") * 3).cast("double")
            / nullif(col("n_wedges"), lit(0L))).as("global_cc"))
    },

    // The DEGREE-ORIENTATION variant graph_triangles' scaladoc only
    // promised: edges oriented low→high under the total order
    // (degree, id), so every triangle materializes exactly once as a
    // wedge at its LOWEST-order corner — and a node's out-degree is
    // bounded by O(√|E|) (a node keeps an out-edge only toward
    // higher-degree neighbors, and there can't be more than √(2|E|)
    // nodes of degree ≥ √(2|E|)). The 2-path fan-out, Σ out-deg², is
    // therefore O(|E|^1.5) on ANY graph — id-orientation's fan-out is
    // unbounded on a hub (one celebrity part with 10⁶ co-purchases =
    // 10¹² wedges; degree-orientation caps the same hub's wedges at
    // |E|). Same counts, same oracle verbatim (the dedup_cc_star
    // algorithm-independence precedent); GraphSpec pins row equality
    // with graph_triangles AND the √-bound on oriented out-degree.
    Q("graph_triangles_deg", trianglesOracleSql) { (s, d) =>
      // r14: shared edge set ([[coEdges]]). Uncached, the plan below
      // embedded ~45 copies of the lineitem self-join subtree
      // (explain: 4,333 lines, 280 Exchanges, 180 scans — deg's two
      // union branches × dirE's two broadcast-deg joins × tri's three
      // consumers × the final three union branches all re-derive e).
      val e = coEdges(s, d)
      val deg = e.select(col("p1").as("v"))
        .unionByName(e.select(col("p2").as("v")))
        .groupBy("v").agg(count(lit(1)).as("dg"))
      // orient each edge toward the (degree, id)-larger endpoint; the
      // degree dimension is node-sized ⇒ broadcast onto both ends
      val dirE = e
        .join(broadcast(deg.select(col("v").as("p1"), col("dg").as("d1"))),
          Seq("p1"))
        .join(broadcast(deg.select(col("v").as("p2"), col("dg").as("d2"))),
          Seq("p2"))
        .select(
          when(struct(col("d1").as("dg"), col("p1").as("id"))
            < struct(col("d2").as("dg"), col("p2").as("id")),
            col("p1")).otherwise(col("p2")).as("src"),
          when(struct(col("d1").as("dg"), col("p1").as("id"))
            < struct(col("d2").as("dg"), col("p2").as("id")),
            struct(col("d2").as("dg"), col("p2").as("id")))
            .otherwise(struct(col("d1").as("dg"), col("p1").as("id")))
            .as("dstK"))
        .select(col("src"), col("dstK"), col("dstK.id").as("dst"))
        // r14: cut — the oriented edge list feeds THREE subtrees (both
        // wedge arms and the closing-edge semi-join); without it each
        // consumer re-ran the two broadcast-deg joins, tripling the plan
        .transform(Caches.cut)
      // wedges at the lowest-order corner: two out-edges of src, kept
      // once per unordered pair via the SAME (degree, id) order; the
      // closing edge is oriented b→c by construction
      val w1 = dirE.select(col("src"), col("dstK").as("bK"),
        col("dst").as("b"))
      val w2 = dirE.select(col("src"), col("dstK").as("cK"),
        col("dst").as("c"))
      val tri = w1.join(w2, Seq("src"))
        .filter(col("bK") < col("cK"))
        .join(dirE.select(col("src").as("b"), col("dst").as("c")),
          Seq("b", "c"), "left_semi")
      tri.select(col("src").as("p"))
        .unionByName(tri.select(col("b").as("p")))
        .unionByName(tri.select(col("c").as("p")))
        .groupBy("p").agg(count(lit(1)).as("n_tri"))
        .orderBy("p")
    },

    // ── PageRank over the near-dup candidate graph ─────────────────────

    // Centrality on the dedup graph: a doc many near-dup candidates
    // point at is a template/boilerplate hub — rank-weighted sampling
    // and cluster triage both want this signal. Five damped power
    // iterations in EXACT INTEGER arithmetic: ranks are scale-10¹²
    // BIGINTs, a node's contribution is rank div degree (floor), and
    // damping is (85·Σ) div 100 + 15%·10¹² base. Floor loss makes this
    // a deterministic VARIANT of float PageRank (mass shrinks a little
    // per hop) — deliberately: BIGINT sums are associative where float
    // accumulation is not, so Spark and DuckDB produce IDENTICAL ranks
    // and the query hash-oracles exactly, which no float PageRank can.
    // Scale shape: per iteration ONE shuffle join keyed on src (sym
    // and deg share the key), one hash agg on dst, one broadcast-free
    // left join back to vertices; cuts truncate the
    // 5-iteration lineage exactly like the CC loop. Singletons take
    // the base rank every round and skip all joins' matched paths.
    Q("graph_pagerank", {
      val iters = (1 to 5).map { i =>
        s"""r$i AS (
           |  SELECT v.id,
           |         150000000000 + (85 * COALESCE(SUM(p.r // dg.deg), 0)) // 100 AS r
           |  FROM v
           |  LEFT JOIN sym ON sym.dst = v.id
           |  LEFT JOIN r${i - 1} p ON p.id = sym.src
           |  LEFT JOIN deg dg ON dg.id = sym.src
           |  GROUP BY v.id
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH ${TextOps.minhashCandSql},
         |sym AS (
         |  SELECT a_id AS src, b_id AS dst FROM cand
         |  UNION ALL
         |  SELECT b_id AS src, a_id AS dst FROM cand
         |),
         |v AS (SELECT doc_id AS id FROM docs),
         |deg AS (SELECT src AS id, COUNT(*) AS deg FROM sym GROUP BY src),
         |r0 AS (SELECT id, CAST(1000000000000 AS BIGINT) AS r FROM v),
         |$iters
         |SELECT id, CAST(r AS BIGINT) AS pr FROM r5 ORDER BY id""".stripMargin
    }) { (s, d) =>
      val (vertices, edges) = dedupGraph(s, d)
      val sym = edges.select(col("src"), col("dst"))
        .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
        .transform(Caches.cut)
      val deg = sym.groupBy("src").agg(count(lit(1)).as("deg"))
        .withColumnRenamed("src", "did")
        .transform(Caches.cut)
      var r = vertices.select(col("id"), lit(1000000000000L).as("r"))
      for (_ <- 1 to 5) {
        val contrib = sym.join(r, sym("src") === r("id"))
          .join(deg, sym("src") === col("did"))
          .select(sym("dst").as("id"), expr("r div deg").as("c"))
        r = vertices.select(col("id"))
          .join(contrib.groupBy("id").agg(sum(col("c")).as("sc")),
            Seq("id"), "left")
          .select(col("id"), (lit(150000000000L) +
            expr("(85 * coalesce(sc, CAST(0 AS BIGINT))) div 100")).as("r"))
          .transform(Caches.cut)
      }
      r.select(col("id"), col("r").as("pr")).orderBy("id")
    },

    // ── k-core decomposition (16-core of the co-purchase graph) ────────

    // "Which parts sit in a DENSELY interlinked co-purchase cluster?"
    // — the 16-core: every surviving part co-purchases with ≥ 16 other
    // survivors (k chosen where the fixture peels RECURSIVELY: 6
    // cascade rounds, 314 of 400 survive at sf0.01 — a single degree
    // filter keeps 351, so the recursion is visibly load-bearing). The standard noise/periphery filter before community
    // detection (and the bot/spam-ring screen on interaction graphs):
    // peripheral one-hop neighbors peel away recursively, which no
    // single degree filter does. The loop refuses non-convergence; the
    // oracle unrolls the same 8 peeling rounds as CTE stages (the
    // graph_pagerank precedent: a converged fixpoint makes trailing
    // no-op rounds harmless). Scale: O(rounds) × (one degree agg +
    // two semi-joins), round count bounded by the peel depth — real
    // graphs converge in a handful; GraphSpec pins ≤ 8 here and
    // brute-forces the peel in-JVM.
    Q("graph_kcore", {
      // MATERIALIZED is load-bearing: each round reads its predecessor
      // three times, so inlined CTEs would expand 3⁸ scans of s0
      // ("Too many open files" long before any result)
      val rounds = (1 to 8).map { i =>
        s"""s$i AS MATERIALIZED (
           |  SELECT s.src, s.dst FROM s${i - 1} s
           |  JOIN (SELECT src FROM s${i - 1} GROUP BY src
           |        HAVING COUNT(*) >= 16) a ON s.src = a.src
           |  JOIN (SELECT src FROM s${i - 1} GROUP BY src
           |        HAVING COUNT(*) >= 16) b ON s.dst = b.src
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS MATERIALIZED (
         |  SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
         |  FROM lineitem a JOIN lineitem b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         |  WHERE a.l_partkey < 400 AND b.l_partkey < 400
         |), s0 AS MATERIALIZED (
         |  SELECT p1 AS src, p2 AS dst FROM e
         |  UNION ALL
         |  SELECT p2 AS src, p1 AS dst FROM e
         |),
         |$rounds
         |SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS deg
         |FROM s8 GROUP BY src ORDER BY id""".stripMargin
    }) { (s, d) =>
      val e = coEdgesSrcDst(s, d) // shared cached stage (r14)
      kcore(e, k = 16).orderBy("id")
    },

    // ── full core decomposition (per-node coreness) ────────────────────

    // The h-index iteration (Lü et al. 2016) to its fixpoint — every
    // node's core number in one query, where graph_kcore answers a
    // single fixed-k membership. The oracle unrolls 12 MATERIALIZED
    // rounds from the degree start; the fixpoint is idempotent, so
    // post-convergence rounds are no-ops and the unroll count only
    // needs to be ≥ Spark's refusal bound (Spark REFUSES loudly past
    // 12 rounds, so both engines' answers are the same fixpoint or the
    // query fails — never a silent overestimate). Each SQL round is
    // join + per-node window + agg, exactly the Spark plan's shape.
    Q("graph_coreness", {
      val rounds = (1 to 12).map { i =>
        s"""h$i AS MATERIALIZED (
           |  SELECT src AS id, MAX(LEAST(rn, nh)) AS h FROM (
           |    SELECT s.src, p.h AS nh,
           |           row_number() OVER (PARTITION BY s.src
           |             ORDER BY p.h DESC, s.dst) AS rn
           |    FROM s0 s JOIN h${i - 1} p ON p.id = s.dst) t
           |  GROUP BY src
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS MATERIALIZED (
         |  SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
         |  FROM lineitem a JOIN lineitem b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         |  WHERE a.l_partkey < 400 AND b.l_partkey < 400
         |), s0 AS MATERIALIZED (
         |  SELECT p1 AS src, p2 AS dst FROM e
         |  UNION ALL
         |  SELECT p2 AS src, p1 AS dst FROM e
         |), h0 AS MATERIALIZED (
         |  SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS h
         |  FROM s0 GROUP BY src
         |),
         |$rounds
         |SELECT id, CAST(h AS BIGINT) AS coreness
         |FROM h12 ORDER BY id""".stripMargin
    }) { (s, d) =>
      val e = coEdgesSrcDst(s, d) // shared cached stage (r14)
      coreness(e).select(col("id"), col("h").as("coreness")).orderBy("id")
    },

    // ── semi-supervised label spreading (catalog enrichment) ───────────

    // Zhu–Ghahramani label propagation WITH CLAMPED SEEDS, the catalog-
    // enrichment form: every third part keeps its true brand as a seed,
    // the rest take the argmax neighbor-brand vote over 3 synchronous
    // rounds (count DESC, label ASC — fully deterministic), seeds never
    // move. The output is simultaneously the prediction table AND its
    // eval ledger (true brand, is_seed, correct — null where no
    // labeled neighbor reaches the node). Differs from graph_lpa: LPA
    // discovers unsupervised communities from id-labels; this spreads
    // KNOWN labels from a clamped seed set. Scale shape per round: one
    // adjacency⋈labels equi-join + two hash aggs (vote count, argmax
    // via struct-min) — never a per-node scan of the graph.
    Q("graph_label_spread", {
      val rounds = (1 to 3).map { i =>
        s"""v$i AS MATERIALIZED (
           |  SELECT s.src, l.label, CAST(COUNT(*) AS BIGINT) AS c
           |  FROM s0 s JOIN l${i - 1} l ON l.id = s.dst
           |  GROUP BY s.src, l.label
           |), a$i AS (
           |  SELECT src AS id, label FROM (
           |    SELECT src, label, row_number() OVER (PARTITION BY src
           |      ORDER BY c DESC, label) AS rn FROM v$i) t
           |  WHERE rn = 1
           |), l$i AS MATERIALIZED (
           |  SELECT * FROM l0
           |  UNION ALL
           |  SELECT a.id, a.label FROM a$i a
           |  WHERE a.id NOT IN (SELECT id FROM l0)
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS MATERIALIZED (
         |  SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
         |  FROM lineitem a JOIN lineitem b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         |  WHERE a.l_partkey < 400 AND b.l_partkey < 400
         |), s0 AS MATERIALIZED (
         |  SELECT p1 AS src, p2 AS dst FROM e
         |  UNION ALL
         |  SELECT p2 AS src, p1 AS dst FROM e
         |), part400 AS (
         |  SELECT p_partkey AS id, p_brand AS brand FROM part
         |  WHERE p_partkey < 400
         |), l0 AS MATERIALIZED (
         |  SELECT id, brand AS label FROM part400 WHERE id % 3 = 0
         |),
         |$rounds
         |SELECT p.id, p.brand, l.label AS pred,
         |       p.id % 3 = 0 AS is_seed,
         |       l.label = p.brand AS correct
         |FROM part400 p LEFT JOIN l3 l ON l.id = p.id
         |ORDER BY p.id""".stripMargin
    }) { (s, d) =>
      val e = coEdgesSrcDst(s, d) // shared cached stage (r14)
      val sym = e.unionByName(
        e.select(col("dst").as("src"), col("src").as("dst")))
        .transform(Caches.cut)
      val part400 = graft.Tables.part(s, d)
        .filter(col("p_partkey") < 400)
        .select(col("p_partkey").as("id"), col("p_brand").as("brand"))
      val seeds = part400.filter(col("id") % 3 === 0)
        .select(col("id"), col("brand").as("label"))
      var labels = seeds
      for (_ <- 1 to 3) {
        val votes = sym.join(labels, col("dst") === col("id"))
          .groupBy(col("src"), col("label"))
          .agg(count(lit(1)).as("c"))
        val arg = votes.groupBy("src")
          .agg(min(struct((-col("c")).as("nc"), col("label"))).as("a"))
          .select(col("src").as("id"), col("a.label").as("label"))
        labels = seeds.unionByName(
          arg.join(seeds.select("id"), Seq("id"), "left_anti"))
          .transform(Caches.cut)
      }
      part400.join(labels.select(col("id"), col("label").as("pred")),
          Seq("id"), "left")
        .select(col("id"), col("brand"), col("pred"),
          (col("id") % 3 === 0).as("is_seed"),
          (col("pred") === col("brand")).as("correct"))
        .orderBy("id")
    },

    // ── k-truss decomposition (5-truss of the co-purchase graph) ───────

    // The cohesion screen one notch past graph_kcore: an edge stays
    // only while ≥ k−2 triangles run through it INSIDE the survivor
    // set, so loosely-attached hubs that pass a degree peel fall out
    // (spam rings and scraped link farms fake degree easily, triangles
    // expensively). k=5 makes the sf0.01 peel genuinely recursive —
    // 6 rounds to fixpoint, 251 of 4 665 edges survive, where a
    // one-shot support filter would keep 1 729. Oracle: 8 unrolled
    // MATERIALIZED CTE rounds (the graph_kcore precedent — converged
    // fixpoint makes trailing rounds no-ops), each round re-deriving
    // triangles and support from the previous survivor set; GraphSpec
    // brute-forces the peel in-JVM and pins the refusal contract.
    Q("graph_ktruss", {
      val rounds = (1 to 8).map { i =>
        s"""t$i AS MATERIALIZED (
           |  SELECT a.src AS x, a.dst AS y, c.dst AS z
           |  FROM s${i - 1} a JOIN s${i - 1} b ON b.src = a.dst
           |  JOIN s${i - 1} c ON c.src = a.src AND c.dst = b.dst
           |), s$i AS MATERIALIZED (
           |  SELECT s.src, s.dst FROM s${i - 1} s JOIN (
           |    SELECT src, dst, COUNT(*) AS sup FROM (
           |      SELECT x AS src, y AS dst FROM t$i
           |      UNION ALL SELECT y, z FROM t$i
           |      UNION ALL SELECT x, z FROM t$i) q
           |    GROUP BY src, dst) u
           |  ON u.src = s.src AND u.dst = s.dst AND u.sup >= 3
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS MATERIALIZED (
         |  SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
         |  FROM lineitem a JOIN lineitem b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         |  WHERE a.l_partkey < 400 AND b.l_partkey < 400
         |), s0 AS MATERIALIZED (SELECT p1 AS src, p2 AS dst FROM e),
         |$rounds,
         |tf AS MATERIALIZED (
         |  SELECT a.src AS x, a.dst AS y, c.dst AS z
         |  FROM s8 a JOIN s8 b ON b.src = a.dst
         |  JOIN s8 c ON c.src = a.src AND c.dst = b.dst
         |)
         |SELECT s.src, s.dst, CAST(u.sup AS BIGINT) AS sup
         |FROM s8 s JOIN (
         |  SELECT src, dst, COUNT(*) AS sup FROM (
         |    SELECT x AS src, y AS dst FROM tf
         |    UNION ALL SELECT y, z FROM tf
         |    UNION ALL SELECT x, z FROM tf) q
         |  GROUP BY src, dst) u
         |ON u.src = s.src AND u.dst = s.dst
         |ORDER BY s.src, s.dst""".stripMargin
    }) { (s, d) =>
      val e = coEdgesSrcDst(s, d) // shared cached stage (r14)
      ktruss(e, k = 5).orderBy("src", "dst")
    },

    // ── neighborhood-Jaccard link prediction ───────────────────────────

    // "Which parts share a co-purchase neighborhood?" — for every part
    // pair with ≥1 common neighbor, the Jaccard similarity of their
    // neighbor SETS (Liben-Nowell & Kleinberg's common-neighbors /
    // Jaccard link-prediction kernel; also the substitute-product
    // signal). Exact integer form: `common`, both degrees, and
    // j_pct = (100·common) div |Γ(a) ∪ Γ(b)| — no float division, so
    // the hash oracle is engine-exact. `is_edge` marks pairs already
    // connected (link prediction scores the is_edge = 0 rows; the
    // is_edge = 1 rows are the embedding-strength signal). Scale
    // shape: the 2-path equi-join is the triangle kernel's first
    // stage — work is Σ_m deg(m)², bounded by the degree
    // distribution, never pairs²; the same degree-orientation note as
    // graph_triangles applies when hubs appear. One hash agg per
    // stage, degree joins keyed on the pair columns.
    Q("graph_jaccard_neighbors",
      """WITH e AS (
        |  SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  WHERE a.l_partkey < 400 AND b.l_partkey < 400
        |), sym AS (
        |  SELECT p1 AS src, p2 AS dst FROM e
        |  UNION ALL
        |  SELECT p2 AS src, p1 AS dst FROM e
        |), deg AS (
        |  SELECT src AS id, COUNT(*) AS deg FROM sym GROUP BY src
        |), cn AS (
        |  SELECT s1.dst AS a, s2.dst AS b, COUNT(*) AS common
        |  FROM sym s1 JOIN sym s2
        |    ON s1.src = s2.src AND s1.dst < s2.dst
        |  GROUP BY 1, 2
        |)
        |SELECT cn.a, cn.b, CAST(cn.common AS BIGINT) AS common,
        |       CAST(da.deg AS BIGINT) AS deg_a,
        |       CAST(db.deg AS BIGINT) AS deg_b,
        |       CAST((100 * cn.common) // (da.deg + db.deg - cn.common)
        |            AS BIGINT) AS j_pct,
        |       CAST(CASE WHEN ex.p1 IS NOT NULL THEN 1 ELSE 0 END
        |            AS INTEGER) AS is_edge
        |FROM cn
        |JOIN deg da ON da.id = cn.a
        |JOIN deg db ON db.id = cn.b
        |LEFT JOIN e ex ON ex.p1 = cn.a AND ex.p2 = cn.b
        |ORDER BY cn.a, cn.b""".stripMargin) { (s, d) =>
      val e = coEdges(s, d) // shared cached stage replaces the local checkpoint (r14)
      val sym = e.select(col("p1").as("src"), col("p2").as("dst"))
        .unionByName(e.select(col("p2").as("src"), col("p1").as("dst")))
      val deg = sym.groupBy("src").agg(count(lit(1)).as("deg"))
      val cn = sym.select(col("src"), col("dst").as("a"))
        .join(sym.select(col("src"), col("dst").as("b")), Seq("src"))
        .filter(col("a") < col("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("common"))
      cn
        .join(deg.select(col("src").as("a"), col("deg").as("deg_a")), Seq("a"))
        .join(deg.select(col("src").as("b"), col("deg").as("deg_b")), Seq("b"))
        .join(e.select(col("p1").as("a"), col("p2").as("b"),
          lit(1).as("__e")), Seq("a", "b"), "left")
        .select(col("a"), col("b"), col("common"),
          col("deg_a"), col("deg_b"),
          expr("(100 * common) div (deg_a + deg_b - common)").as("j_pct"),
          when(col("__e").isNotNull, 1).otherwise(0).cast("int").as("is_edge"))
        .orderBy("a", "b")
    },

    // ── bounded-hop reachability: BFS rings from a seed set ────────────

    // "Everything within k hops of these nodes" — the blast-radius /
    // related-items expansion (and the crawl-frontier shape: each ring
    // is the next fetch wave). The graph is the co-purchase graph
    // THRESHOLDED to pairs sharing ≥ 2 distinct orders — the same
    // weight cut a production similarity graph applies before walking
    // it, and what gives this fixture real ring structure (sf0.01:
    // rings 0..4, 39 of 400 parts reached — unreached nodes are absent
    // by contract, not null-padded). Oracle: 8 unrolled MATERIALIZED
    // frontier rounds (the graph_kcore precedent; BFS converges in 5
    // on this fixture, so trailing rounds are no-ops and the bound is
    // comparable). GraphSpec brute-forces the distances in-JVM and
    // pins the triangle inequality across edges.
    Q("graph_reach", {
      val rounds = (1 to 8).map { i =>
        s"""f$i AS MATERIALIZED (
           |  SELECT DISTINCT s.dst AS id FROM sym s
           |  JOIN f${i - 1} f ON s.src = f.id
           |  WHERE s.dst NOT IN (SELECT id FROM u${i - 1})
           |), u$i AS MATERIALIZED (
           |  SELECT * FROM u${i - 1}
           |  UNION ALL SELECT id, $i AS dist FROM f$i
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS MATERIALIZED (
         |  SELECT a.l_partkey AS p1, b.l_partkey AS p2
         |  FROM lineitem a JOIN lineitem b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         |  WHERE a.l_partkey < 400 AND b.l_partkey < 400
         |  GROUP BY 1, 2 HAVING COUNT(DISTINCT a.l_orderkey) >= 2
         |), sym AS MATERIALIZED (
         |  SELECT p1 AS src, p2 AS dst FROM e
         |  UNION ALL SELECT p2, p1 FROM e
         |), f0 AS MATERIALIZED (
         |  SELECT DISTINCT src AS id FROM sym WHERE src < 20
         |), u0 AS MATERIALIZED (SELECT id, 0 AS dist FROM f0),
         |$rounds
         |SELECT id, dist FROM u8 ORDER BY id""".stripMargin
    }) { (s, d) =>
      // r15: the weighted kernel through the shared cached stage
      val e = coEdgesWeightedSrcDst(s, d).select("src", "dst")
      val seeds = e.select(col("src"))
        .unionByName(e.select(col("dst").as("src")))
        .filter(col("src") < 20).distinct().select(col("src").as("id"))
      bfs(e, seeds, maxHops = 8).orderBy("id")
    },

    // ── label-propagation communities (4 synchronous LPA rounds) ───────

    // Community detection one step past connectivity: dedup_cc answers
    // "which parts are LINKED", LPA answers "which parts CLUSTER" —
    // near-linear community detection (Raghavan et al. 2007), the
    // standard first cut before modularity methods. Each node adopts
    // the label MOST FREQUENT among its neighbors, ties to the
    // smallest label; a FIXED 4 synchronous rounds, because
    // synchronous LPA does not guarantee a fixpoint (bipartite
    // structures oscillate) — fixed rounds + the deterministic tie
    // rule make the output exact, hash-oracle-able data, where
    // "iterate until stable" would not terminate. Edges are the ≥2-
    // co-occurrence co-purchase graph (graph_reach's sparsified form —
    // LPA on the dense ≥1 graph collapses to one giant community in a
    // round, which exercises nothing). Scale shape per round: one
    // shuffle join (labels onto the symmetric edge list), one
    // (node, label) hash aggregate, then the argmax as min(struct(-n,
    // label)) — a second HASH aggregate, NOT a per-node window, so a
    // celebrity node's million-label vote list still partial-aggregates
    // map-side; isolated vertices never enter any join and keep their
    // own id via the left-join coalesce. Cuts truncate the
    // 4-round lineage (the graph_pagerank pattern). The oracle unrolls
    // the same 4 rounds as MATERIALIZED CTEs with an independent
    // row_number-window argmax formulation.
    Q("graph_lpa",
      s"""WITH $lpaSqlCtes
         |SELECT id, label AS community FROM l4 ORDER BY id""".stripMargin) {
      (s, d) =>
        lpaLabels(s, d)
          .select(col("id"), col("label").as("community")).orderBy("id")
    },

    // ── modularity ledger of the LPA partition ─────────────────────────

    // "Are these communities REAL?" — Newman modularity of the LPA
    // assignment, per community, AS DATA (the evaluation-as-query
    // family: sim_ivf_recall, dedup_minhash_recall): each community's
    // contribution to Q is (L_c/m) − (d_c/2m)², kept EXACT as the
    // integer numerator 4·m·L_c − d_c² over the shared denominator
    // 4m² — intra-edge count, degree mass, member count, and the
    // ppm-scaled contribution per row; Σ contributions = Q. A
    // contribution can be negative (singletons: L_c = 0), and Spark's
    // `div` truncates where DuckDB's `//` floors, so the magnitude is
    // floor-divided and the SIGN carried separately — the vec_drift
    // signed-quotient rule. The 4·m·L_c − d_c² intermediates are
    // promoted to 38-digit exact integers on BOTH sides
    // (DECIMAL(38,0) here, HUGEINT in DuckDB — the agg_corr_ols
    // discipline) BEFORE multiplying: in 64-bit they wrap silently
    // past ~10⁹ edges, precisely the corpus scale the query's shape
    // is designed for. Scale shape: the partition joins the edge
    // list twice on its endpoint keys (broadcast: labels are
    // vertex-sized here; hash at corpus scale), then everything
    // collapses to |communities| rows; m broadcasts as the 1-row
    // scalar join.
    Q("graph_modularity",
      s"""WITH $lpaSqlCtes,
         |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM e),
         |intra AS (
         |  SELECT la.label AS community, CAST(COUNT(*) AS BIGINT) AS intra
         |  FROM e JOIN l4 la ON la.id = e.p1
         |         JOIN l4 lb ON lb.id = e.p2
         |  WHERE la.label = lb.label
         |  GROUP BY la.label
         |), degc AS (
         |  SELECT l.label AS community,
         |         CAST(COUNT(*) AS BIGINT) AS deg_sum
         |  FROM sym s JOIN l4 l ON l.id = s.src
         |  GROUP BY l.label
         |), allc AS (
         |  SELECT l.label AS community,
         |         CAST(COUNT(*) AS BIGINT) AS n_members FROM l4 l
         |  GROUP BY l.label
         |)
         |SELECT a.community, a.n_members,
         |       COALESCE(i.intra, 0) AS intra_edges,
         |       COALESCE(dc.deg_sum, 0) AS deg_sum,
         |       CASE WHEN CAST(4 AS HUGEINT) * m.m * COALESCE(i.intra, 0)
         |                 - CAST(COALESCE(dc.deg_sum, 0) AS HUGEINT)
         |                   * COALESCE(dc.deg_sum, 0)
         |                 < 0 THEN -1 ELSE 1 END AS q_sign,
         |       CAST(abs(CAST(4 AS HUGEINT) * m.m * COALESCE(i.intra, 0)
         |                 - CAST(COALESCE(dc.deg_sum, 0) AS HUGEINT)
         |                   * COALESCE(dc.deg_sum, 0))
         |              * 1000000 // (CAST(4 AS HUGEINT) * m.m * m.m)
         |            AS BIGINT) AS q_abs_ppm
         |FROM allc a
         |LEFT JOIN intra i ON i.community = a.community
         |LEFT JOIN degc dc ON dc.community = a.community
         |CROSS JOIN m
         |ORDER BY a.community""".stripMargin) { (s, d) =>
      val (e, _, sym) = lpaGraph(s, d)
      val labels = lpaLabels(s, d)
      val m = e.agg(count(lit(1)).as("m"))
      val la = labels.select(col("id").as("p1"), col("label").as("ca"))
      val lb = labels.select(col("id").as("p2"), col("label").as("cb"))
      val intra = e.join(broadcast(la), Seq("p1"))
        .join(broadcast(lb), Seq("p2"))
        .filter(col("ca") === col("cb"))
        .groupBy(col("ca").as("community")).agg(count(lit(1)).as("intra"))
      val degc = sym.join(broadcast(labels.select(col("id").as("src"),
          col("label"))), Seq("src"))
        .groupBy(col("label").as("community"))
        .agg(count(lit(1)).as("deg_sum"))
      val allc = labels.groupBy(col("label").as("community"))
        .agg(count(lit(1)).as("n_members"))
      allc
        .join(intra, Seq("community"), "left")
        .join(degc, Seq("community"), "left")
        .select(col("community"), col("n_members"),
          coalesce(col("intra"), lit(0L)).as("intra_edges"),
          coalesce(col("deg_sum"), lit(0L)).as("deg_sum"))
        .crossJoin(broadcast(m))
        .withColumn("num",
          lit(4) * col("m").cast(org.apache.spark.sql.types.DecimalType(38, 0))
            * col("intra_edges")
            - col("deg_sum")
              .cast(org.apache.spark.sql.types.DecimalType(38, 0))
              * col("deg_sum"))
        .select(col("community"), col("n_members"), col("intra_edges"),
          col("deg_sum"),
          when(col("num") < 0, -1).otherwise(1).as("q_sign"),
          expr("""CAST(abs(num) * 1000000 AS DECIMAL(38,0))
                  div (CAST(4 AS DECIMAL(38,0)) * m * m)""")
            .as("q_abs_ppm"))
        .orderBy("community")
    },

    // ── dedup clustering quality vs the planted ground truth ───────────

    // The CLUSTER-level quality measurement (evaluation-as-query, after
    // dedup_minhash_recall's pair level): after banding + connected
    // components, how well do the final clusters reproduce the planted
    // duplicate relation? Predicted-pair volume is Σ C(size, 2) per
    // cluster — computed from the SIZES, never by enumerating pairs, so
    // a corpus-wide mega-cluster costs one integer expression, not its
    // quadratic pair list. On the fixture the result is instructive:
    // recall 10⁶ ppm (every planted pair clustered together — CC can
    // only merge, never split, what banding caught), precision ≈ 10%
    // (organic word-salad near-dups share clusters, and transitivity
    // inflates predicted pairs) — exactly the precision/recall
    // asymmetry dedup pipelines tune their Jaccard re-rank gate for.
    Q("dedup_cc_quality",
      s"""WITH ${TextOps.minhashCandSql},
         |${TextOps.ccClusSql()},
         |planted AS (
         |  SELECT doc_id AS a_id, doc_id + ${TextOps.cloneOffSql} AS b_id FROM documents
         |  WHERE doc_id % 10 = 0
         |), sizes AS (
         |  SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n FROM clus
         |  GROUP BY cluster
         |), pred AS (
         |  SELECT CAST(SUM(n * (n - 1) // 2) AS BIGINT) AS n_pred FROM sizes
         |), tp AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS tp FROM planted p
         |  JOIN clus ca ON ca.doc_id = p.a_id
         |  JOIN clus cb ON cb.doc_id = p.b_id
         |  WHERE ca.cluster = cb.cluster
         |)
         |SELECT CAST((SELECT COUNT(*) FROM planted) AS BIGINT) AS n_planted,
         |       pred.n_pred, tp.tp,
         |       CAST(tp.tp * 1000000
         |              // nullif((SELECT COUNT(*) FROM planted), 0)
         |         AS BIGINT) AS recall_ppm,
         |       CAST(tp.tp * 1000000 // nullif(pred.n_pred, 0) AS BIGINT)
         |         AS precision_ppm
         |FROM pred, tp""".stripMargin) { (s, d) =>
      val labels = nearCloneClusters(s, d)
      val planted = graft.Tables.documents(s, d)
        .filter(col("doc_id") % 10 === 0)
        .select(col("doc_id").as("a_id"),
          (col("doc_id") + TextOps.cloneOff(s, d)).as("b_id"))
      val nPred = labels.groupBy("label").agg(count(lit(1)).as("n"))
        .agg(sum(expr("n * (n - 1) div 2")).cast("long").as("n_pred"))
      val tp = labels.select(col("id").as("a_id"), col("label").as("ca"))
        .join(broadcast(planted), Seq("a_id"))
        .join(labels.select(col("id").as("b_id"), col("label").as("cb")),
          Seq("b_id"))
        .filter(col("ca") === col("cb"))
        .agg(count(lit(1)).as("tp"))
      val nP = planted.agg(count(lit(1)).as("n_planted"))
      // nullif guards: a degenerate corpus (no planted pairs, or every
      // cluster a singleton ⇒ n_pred = 0) must yield NULL on BOTH
      // engines — DuckDB's bare `//` would raise where Spark's `div`
      // returns NULL, turning a well-defined edge into an oracle crash
      nP.crossJoin(broadcast(nPred)).crossJoin(broadcast(tp))
        .select(col("n_planted"), col("n_pred"), col("tp"),
          expr("tp * 1000000 div nullif(n_planted, 0)").as("recall_ppm"),
          expr("tp * 1000000 div nullif(n_pred, 0)").as("precision_ppm"))
    },

    // ── personalized PageRank from a seed set (recommendation walk) ────

    // PPR over the WEIGHTED co-purchase graph: teleport mass returns to
    // the SEED parts (every 50th part id) instead of the uniform base —
    // "what does the catalog look like from these products' shelf", the
    // classic related-items / seed-expansion primitive. Same exact-
    // integer discipline as graph_pagerank (scale-10¹² BIGINT ranks,
    // floor-div contributions, damped 85/15 — BIGINT sums associative ⇒
    // hash-oracle-able where float PPR never is), with two deltas: the
    // base term lands ONLY on seeds, and contributions split by edge
    // WEIGHT over the node's total strength ((r·w) div strength — the
    // weighted walk). Nodes never reached in 4 rounds hold rank 0 and
    // are dropped (absent ≡ unreachable by contract, the graph_reach
    // precedent). Per round: one shuffle join keyed on src + one hash
    // agg on dst; cuts truncate the lineage.
    Q("graph_ppr", {
      val iters = (1 to 4).map { i =>
        s"""r$i AS (
           |  SELECT v.id,
           |         CASE WHEN v.id % 50 = 0 THEN 150000000000 ELSE 0 END
           |           + (85 * COALESCE(SUM((p.r * sym.w) // st.s), 0)) // 100
           |           AS r
           |  FROM v
           |  LEFT JOIN sym ON sym.dst = v.id
           |  LEFT JOIN r${i - 1} p ON p.id = sym.src
           |  LEFT JOIN st ON st.id = sym.src
           |  GROUP BY v.id
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH li AS (
         |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
         |  FROM lineitem WHERE l_partkey < 400
         |), e AS (
         |  SELECT a.p AS src, b.p AS dst, CAST(COUNT(*) AS BIGINT) AS w
         |  FROM li a JOIN li b ON a.ok = b.ok AND a.p < b.p
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 2
         |), sym AS (
         |  SELECT src, dst, w FROM e UNION ALL SELECT dst, src, w FROM e
         |), v AS (SELECT DISTINCT src AS id FROM sym),
         |st AS (SELECT src AS id, CAST(SUM(w) AS BIGINT) AS s
         |       FROM sym GROUP BY src),
         |r0 AS (
         |  SELECT id, CAST(CASE WHEN id % 50 = 0 THEN 1000000000000
         |                       ELSE 0 END AS BIGINT) AS r
         |  FROM v
         |),
         |$iters
         |SELECT id, CAST(r AS BIGINT) AS ppr FROM r4
         |WHERE r > 0 ORDER BY id""".stripMargin
    }) { (s, d) =>
      val e = coEdgesWeightedSrcDst(s, d) // shared cached stage (r15)
      val sym = e.unionByName(
          e.select(col("dst").as("src"), col("src").as("dst"), col("w")))
        .transform(Caches.cut)
      val v = sym.select(col("src").as("id")).distinct()
        .transform(Caches.cut)
      val st = sym.groupBy("src").agg(sum("w").as("s"))
        .withColumnRenamed("src", "sid")
        .transform(Caches.cut)
      val seedBase =
        when(col("id") % 50 === 0, lit(150000000000L)).otherwise(lit(0L))
      var r = v.select(col("id"),
        when(col("id") % 50 === 0, lit(1000000000000L)).otherwise(lit(0L))
          .as("r"))
      for (_ <- 1 to 4) {
        val contrib = sym.join(r, sym("src") === r("id"))
          .join(st, sym("src") === col("sid"))
          .select(sym("dst").as("id"), expr("(r * w) div s").as("c"))
        r = v.join(contrib.groupBy("id").agg(sum(col("c")).as("sc")),
            Seq("id"), "left")
          .select(col("id"), (seedBase +
            expr("(85 * coalesce(sc, CAST(0 AS BIGINT))) div 100")).as("r"))
          .transform(Caches.cut)
      }
      r.filter(col("r") > 0)
        .select(col("id"), col("r").as("ppr")).orderBy("id")
    },

    // ── deterministic random-walk sampling (node2vec's data prep) ──────

    // Fixed-length walks over the weighted co-purchase graph — the
    // corpus a graph-embedding trainer (DeepWalk/node2vec) consumes.
    // The "random" choice is a HASH coin: step t from node v picks the
    // neighbor at index md5("walk<t>#<v>") % degree(v) in the
    // (weight DESC, id) neighbor ranking — deterministic on any
    // cluster, rerun-stable, and therefore DuckDB-oracle-able, the
    // same md5-coin discipline as every sampler in this engine. Walks
    // are 4 steps from every 7th node; each step is ONE equi-join of
    // the frontier against the ranked adjacency (never a gather to the
    // driver), so k-step walks cost k joins regardless of corpus size
    // — the textbook distributed-walk plan. The neighbor ranking
    // window partitions by node (bounded by max degree). Walks can
    // revisit nodes (true random-walk semantics — node2vec wants
    // that). Output is the step ledger (start, step, node), step 0 =
    // the start itself.
    Q("graph_walk_sample", {
      val hex8 = (1 to 8).map { j =>
        val w = 1L << (4 * (8 - j))
        s"(strpos('0123456789abcdef', substr(md5(concat('walk', CAST(t.s AS VARCHAR), '#', CAST(w.cur AS VARCHAR))), $j, 1)) - 1) * $w"
      }.mkString(" + ")
      def step(t: Int) =
        s"""w$t AS (
           |  SELECT w.start, a.dst AS cur FROM w${t - 1} w
           |  JOIN (SELECT $t AS s) t ON TRUE
           |  JOIN adj a ON a.src = w.cur
           |    AND a.idx = ($hex8) % a.deg
           |)""".stripMargin
      s"""WITH li AS (
         |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
         |  FROM lineitem WHERE l_partkey < 400
         |), e AS (
         |  SELECT a.p AS src, b.p AS dst, COUNT(*) AS w
         |  FROM li a JOIN li b ON a.ok = b.ok AND a.p < b.p
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 2
         |), sym AS (
         |  SELECT src, dst, w FROM e
         |  UNION ALL SELECT dst, src, w FROM e
         |), adj AS (
         |  SELECT src, dst,
         |         row_number() OVER (PARTITION BY src
         |           ORDER BY w DESC, dst) - 1 AS idx,
         |         COUNT(*) OVER (PARTITION BY src) AS deg
         |  FROM sym
         |), w0 AS (
         |  SELECT DISTINCT src AS start, src AS cur FROM adj
         |  WHERE src % 7 = 0
         |),
         |${(1 to 4).map(step).mkString(",\n")}
         |SELECT start, CAST(s AS INTEGER) AS step, cur AS node FROM (
         |  SELECT start, 0 AS s, cur FROM w0
         |  UNION ALL SELECT start, 1, cur FROM w1
         |  UNION ALL SELECT start, 2, cur FROM w2
         |  UNION ALL SELECT start, 3, cur FROM w3
         |  UNION ALL SELECT start, 4, cur FROM w4) u
         |ORDER BY start, step, node""".stripMargin
    }) { (s, d) =>
      val e = coEdgesWeightedSrcDst(s, d) // shared cached stage (r15)
      val sym = e.unionByName(
        e.select(col("dst").as("src"), col("src").as("dst"), col("w")))
      val wAdj = Window.partitionBy("src").orderBy(col("w").desc, col("dst"))
      val adj = sym
        .select(col("src"), col("dst"),
          (row_number().over(wAdj) - 1).cast("long").as("idx"),
          count(lit(1)).over(Window.partitionBy("src")).as("deg"))
        .transform(Caches.cut)
      var frontier = adj.select(col("src")).distinct()
        .filter(col("src") % 7 === 0)
        .select(col("src").as("start"), col("src").as("cur"))
      val steps = scala.collection.mutable.ListBuffer(
        frontier.select(col("start"), lit(0).as("step"),
          col("cur").as("node")))
      (1 to 4).foreach { t =>
        val h = conv(substring(md5(concat(lit(s"walk$t#"),
          col("cur").cast("string"))), 1, 8), 16, 10).cast("long")
        frontier = frontier
          .join(adj, col("cur") === col("src") &&
            col("idx") === h % col("deg"))
          .select(col("start"), col("dst").as("cur"))
          // r15 (VERDICT r14 #3, guide §2.4): each frontier feeds BOTH
          // the next step and its own ledger branch — uncut,
          // branch t of the final union re-derived the whole
          // frontier₁..ₜ join chain, O(k²) joins for a k-step walk
          .transform(Caches.cut)
        steps += frontier.select(col("start"), lit(t).as("step"),
          col("cur").as("node"))
      }
      steps.reduce(_ unionByName _)
        .select(col("start"), col("step").cast("int").as("step"),
          col("node"))
        .orderBy("start", "step", "node")
    }
  )

  /** The LPA demo graph: (edges src<dst with ≥2 co-occurrences,
    * vertices, symmetric edge list) over the < 400 co-purchase window —
    * the graph_reach sparsification (LPA on the dense ≥1 graph collapses
    * to one giant community in a round, exercising nothing). */
  private def lpaGraph(s: org.apache.spark.sql.SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = {
    // r15: the weighted kernel through the shared cached stage (the
    // checkpoint that used to cut this stage's lineage is subsumed by
    // the cache — consumers read the InMemoryTableScan directly)
    val e = coEdgesWeighted(s, d).select(col("p1"), col("p2"))
    val sym = e.select(col("p1").as("src"), col("p2").as("dst"))
      .unionByName(e.select(col("p2").as("src"), col("p1").as("dst")))
    val v = graft.Tables.lineitem(s, d).filter(col("l_partkey") < 400)
      .select(col("l_partkey").as("id")).distinct()
      .transform(Caches.cut)
    (e, v, sym)
  }

  /** 4 synchronous LPA rounds over [[lpaGraph]] → (id, label); see
    * graph_lpa's scaladoc for the round mechanics and tie rule. */
  private[graft] def lpaLabels(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame = {
    val (_, v, sym0) = lpaGraph(s, d)
    val sym = Caches.cut(sym0)
    var labels = v.select(col("id"), col("id").as("label"))
    for (_ <- 1 to 4) {
      val votes = sym.join(labels, sym("dst") === labels("id"))
        .select(sym("src").as("vid"), col("label"))
      val top = votes.groupBy("vid", "label")
        .agg(count(lit(1)).as("n"))
        .groupBy("vid")
        .agg(min(struct((col("n") * -1).as("nn"), col("label").as("l")))
          .as("m"))
        .select(col("vid").as("id"), col("m.l").as("nl"))
      labels = v.join(top, Seq("id"), "left")
        .select(col("id"), coalesce(col("nl"), col("id")).as("label"))
        .transform(Caches.cut)
    }
    labels
  }

  /** graph_triangles' oracle, shared verbatim by graph_triangles_deg —
    * the answer is algorithm-independent (dedup_cc_star precedent).
    * LAZY: declared below `queries` (object init order). */
  private lazy val trianglesOracleSql: String =
    """WITH e AS (
      |  SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  WHERE a.l_partkey < 400 AND b.l_partkey < 400
      |), tri AS (
      |  SELECT e1.p1 AS a, e1.p2 AS b, e2.p2 AS c
      |  FROM e e1 JOIN e e2 ON e1.p2 = e2.p1
      |       JOIN e e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2
      |), corners AS (
      |  SELECT a AS p FROM tri
      |  UNION ALL SELECT b FROM tri
      |  UNION ALL SELECT c FROM tri
      |)
      |SELECT p, CAST(COUNT(*) AS BIGINT) AS n_tri
      |FROM corners GROUP BY p ORDER BY p""".stripMargin

  /** The LPA CTE chain (e, sym, v, l0..l4) shared by graph_lpa and
    * graph_modularity — the minhashCandSql convention. LAZY because it
    * is declared below `queries`, whose initializer interpolates it —
    * a plain val would still be null there (object init order). */
  private lazy val lpaSqlCtes: String = {
    val rounds = (1 to 4).map { i =>
      s"""l$i AS MATERIALIZED (
         |  SELECT v.id, COALESCE(t.label, v.id) AS label
         |  FROM v LEFT JOIN (
         |    SELECT id, label FROM (
         |      SELECT s.src AS id, p.label, COUNT(*) AS n,
         |             row_number() OVER (PARTITION BY s.src
         |               ORDER BY COUNT(*) DESC, p.label) AS rk
         |      FROM sym s JOIN l${i - 1} p ON p.id = s.dst
         |      GROUP BY s.src, p.label) q
         |    WHERE rk = 1) t ON t.id = v.id
         |)""".stripMargin
    }.mkString(",\n")
    s"""e AS MATERIALIZED (
       |  SELECT a.l_partkey AS p1, b.l_partkey AS p2
       |  FROM lineitem a JOIN lineitem b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  WHERE a.l_partkey < 400 AND b.l_partkey < 400
       |  GROUP BY 1, 2 HAVING COUNT(DISTINCT a.l_orderkey) >= 2
       |), sym AS MATERIALIZED (
       |  SELECT p1 AS src, p2 AS dst FROM e
       |  UNION ALL SELECT p2, p1 FROM e
       |), v AS MATERIALIZED (
       |  SELECT DISTINCT l_partkey AS id FROM lineitem
       |  WHERE l_partkey < 400
       |), l0 AS MATERIALIZED (SELECT id, id AS label FROM v),
       |$rounds""".stripMargin
  }
}
