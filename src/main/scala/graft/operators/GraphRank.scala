package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointBridge.freeLocalCheckpoint
import org.apache.spark.sql.graft.SessionBridge
import OneTaskGraph.{fitsOneTask, inOneTask}

/** Iterative graph centrality over a pair table — PageRank in
  * DETERMINISTIC INTEGER semantics, for ranking documents inside the
  * near-dup similarity graph (a centrality-weighted alternative to
  * min-id canonical selection: the best-connected member of a dup
  * neighborhood is usually the canonical-quality one) and as the
  * engine's general iterative-graph shape beyond connected
  * components.
  *
  * Semantics (Page et al. 1999, simplified): undirected pairs become
  * two directed edges; per round each node sends
  * `((pr · damp) div 1000) div deg` to every neighbor (integer
  * divisions — both engines compute them identically, so ranks are
  * exact longs with no float drift) and every node restarts with
  * `((1000 − damp) · U div 1000) div N`. Ranks carry in PICOS
  * (U = 10^12): at web-corpus N the per-node mass still holds ~6
  * significant digits, and every intermediate fits a long with >600×
  * headroom. Dangling mass is NOT redistributed (isolated nodes decay
  * to the restart base) — the variant is documented because the
  * integer replay pins it exactly.
  *
  * Scale shape: the pair table persists once and is counted. When its
  * directed edges (2 × pairs) fit one task ([[Dedup.BucketEdges]],
  * ~1M) and the ids are integral, every round runs inside ONE task
  * over the pair table plus the node ids that touch a pair (one
  * broadcast semi-join); nodes without a pair never enter the task and
  * take their closed form (deg 0, the restart base) in one final
  * node-side left join, whose result is the one checkpoint. Larger
  * graphs run one round at a time: edges + degrees persist once; each
  * round is one edge⋈rank join (shuffle on the node key — co-
  * partitioned round to round), one partial-agg contribution sum, one
  * left join back onto the node set. Rank tables are node-sized and
  * each round ends in an EAGER localCheckpoint: without lineage
  * truncation every round's plan embeds the previous one TWICE (once
  * via the rank table, once via the shared edge table), so analysis
  * cost doubles per round (measured 1.7s → 17s across five rounds on a
  * 1k-node graph). Superseded rounds free their blocks immediately.
  * Both shapes return the same rows. */
object GraphRank {

  val U: Long = 1000000000000L // rank unit: picos

  /** Ranks after `iters` rounds: (id, deg, pr_picos) for EVERY node
    * (isolated nodes have deg 0 and the restart-base rank). */
  def pagerank(pairs: DataFrame, nodes: DataFrame, idCol: String,
               iters: Int = 5, dampPermille: Long = 850,
               scope: CacheScope = CacheScope.unmanaged()): DataFrame =
    pagerank(pairs, nodes, idCol, iters, dampPermille, scope, Dedup.BucketEdges)

  /** [[pagerank]] with the one-task capacity in directed edges exposed,
    * so specs can force the per-round loop (capacity 0). */
  private[operators] def pagerank(pairs: DataFrame, nodes: DataFrame, idCol: String,
      iters: Int, dampPermille: Long, scope: CacheScope, oneTaskEdges: Long): DataFrame = {
    require(iters >= 1, "iters must be positive")
    require(dampPermille >= 0 && dampPermille <= 1000,
      "damping is per-mille in [0, 1000]")
    // the pair table feeds BOTH edge orientations — persist it so an
    // expensive upstream miner (LSH) runs once, not per direction; the
    // count materializes it at the caller's width
    val p2 = scope.persist(pairs)
    val nPairs = p2.count()
    val ids = nodes.select(col(idCol).as("id"))
    val oneTask = fitsOneTask(p2, ids, nPairs, oneTaskEdges)
    val ns = if (oneTask) ids else scope.persist(ids) // read every round
    val n = ns.count()
    require(n > 0, "empty node set")
    val base = (1000L - dampPermille) * U / 1000L / n
    if (oneTask) {
      return inOneTask(p2, ns)(_.pagerank(iters, dampPermille, base, U / n))
        .select(col("id"), coalesce(col("deg"), lit(0L)).as("deg"),
          coalesce(col("x"), lit(base)).as("pr_picos"))
        .localCheckpoint()
    }
    val edges = scope.persist(
      p2.select(col("i").as("u"), col("j").as("v"))
        .union(p2.select(col("j").as("u"), col("i").as("v"))))
    val deg = scope.persist(edges.groupBy("u").agg(count(lit(1)).as("deg")))
    // exact integer arithmetic throughout: the ranks are width-
    // independent, so the loop runs at a width sized from the edge count
    val (loopSess, back) = SessionBridge.loopSession(pairs.sparkSession, 2 * nPairs)
    val edgesL = SessionBridge.reRoot(edges, loopSess)
    val degL = SessionBridge.reRoot(deg, loopSess)
    val nsL = SessionBridge.reRoot(ns, loopSess)
    var pr = nsL.select(col("id"), lit(U / n).as("pr")).localCheckpoint()
    for (_ <- 1 to iters) {
      val contribs = edgesL
        .join(pr, edgesL("u") === pr("id")).drop("id")
        .join(degL, "u")
        .select(col("v").as("id"),
          expr(s"((pr * $dampPermille) div 1000) div deg").as("c"))
        .groupBy("id").agg(sum(col("c")).as("s"))
      val next = nsL
        .join(contribs, Seq("id"), "left")
        .select(col("id"),
          (lit(base) + coalesce(col("s"), lit(0L))).as("pr"))
        .localCheckpoint() // eager: truncates lineage, materializes now
      freeLocalCheckpoint(pr)
      pr = next
    }
    // the returned table reads the final round's checkpoint; its
    // blocks are one node-sized table, reclaimed when the caller
    // drops the Dataset
    back(pr.join(degL, pr("id") === degL("u"), "left")
      .select(col("id"), coalesce(col("deg"), lit(0L)).as("deg"),
        col("pr").as("pr_picos")))
  }

  /** Synchronous label propagation (Raghavan et al. 2007) over a
    * pair table — community detection for duplicate/topic
    * neighborhoods, the MODE-based sibling of connected components
    * (CC merges anything reachable; LPA keeps weakly-bridged regions
    * apart because a bridge node adopts whichever side out-VOTES the
    * other). Deterministic variant: every node starts labeled with
    * its own id; each round every node with ≥ 1 neighbor adopts its
    * neighbors' most frequent label, ties broken toward the SMALLEST
    * label (the standard random tie-break replaced by min — engine-
    * replayable); isolated nodes keep their label. Synchronous
    * updates (all nodes flip together per round) — `iters` caps the
    * rounds; LPA is a heuristic whose fixpoint may oscillate, so the
    * round count is part of the contract, exactly like [[pagerank]].
    *
    * Scale shape is [[pagerank]]'s: the pair table persists once and
    * is counted. A graph that fits one task runs every round in it,
    * and nodes without a pair keep their own id through the final
    * node-side left join. Larger graphs run per round: one edge⋈label
    * join (shuffle on the node key), one (node, label) partial-agg
    * count, one struct-argmax collapse, one left join back to the node
    * set; the label table is node-sized and each round ends in an eager
    * `localCheckpoint` with the superseded round freed (the
    * iterative-loop lineage discipline). */
  def labelPropagation(pairs: DataFrame, nodes: DataFrame, idCol: String,
                       iters: Int = 5,
                       scope: CacheScope = CacheScope.unmanaged()): DataFrame =
    labelPropagation(pairs, nodes, idCol, iters, scope, Dedup.BucketEdges)

  /** [[labelPropagation]] with the one-task capacity in directed edges
    * exposed, so specs can force the per-round loop (capacity 0). */
  private[operators] def labelPropagation(pairs: DataFrame, nodes: DataFrame,
      idCol: String, iters: Int, scope: CacheScope, oneTaskEdges: Long): DataFrame = {
    require(iters >= 1, "iters must be positive")
    val p2 = scope.persist(pairs)
    val nPairs = p2.count()
    val ns = nodes.select(col(idCol).as("id"))
    if (fitsOneTask(p2, ns, nPairs, oneTaskEdges)) {
      return inOneTask(p2, ns)(_.labels(iters))
        .select(col("id"),
          coalesce(col("x").cast(ns.schema.head.dataType), col("id")).as("community"))
        .localCheckpoint()
    }
    val edges = scope.persist(
      p2.select(col("i").as("u"), col("j").as("v"))
        .union(p2.select(col("j").as("u"), col("i").as("v"))))
    // votes/argmax are exact integer aggs — width-independent
    val (loopSess, back) = SessionBridge.loopSession(pairs.sparkSession, 2 * nPairs)
    val edgesL = SessionBridge.reRoot(edges, loopSess)
    val nsL = SessionBridge.reRoot(scope.persist(ns), loopSess)
    var lbl = nsL.select(col("id"), col("id").as("lbl")).localCheckpoint()
    for (_ <- 1 to iters) {
      // per-neighbor label votes → (node, label) counts → argmax by
      // (count desc, label asc) via one partial-aggregating struct max;
      // bitwise_not reverses the label order without overflowing
      val votes = edgesL
        .join(lbl, edgesL("u") === lbl("id")).drop("id")
        .groupBy(col("v").as("id"), col("lbl"))
        .agg(count(lit(1)).as("c"))
        .groupBy("id")
        .agg(max(struct(col("c"), bitwise_not(col("lbl")).as("nl"))).as("b"))
        .select(col("id"), bitwise_not(col("b.nl")).as("newLbl"))
      val next = lbl
        .join(votes, Seq("id"), "left")
        .select(col("id"), coalesce(col("newLbl"), col("lbl")).as("lbl"))
        .localCheckpoint() // eager: truncates lineage, materializes now
      freeLocalCheckpoint(lbl)
      lbl = next
    }
    back(lbl.select(col("id"), col("lbl").as("community")))
  }

  /** Per-node triangle counts + local clustering coefficient over a
    * pair table — the density gauge of the near-dup graph (a dup
    * CLUSTER is a near-clique, cc ≈ 1; a hub stitching unrelated
    * docs has many wedges but few closures, cc ≈ 0 — exactly the
    * false-positive shape LSH banding produces).
    *
    * Algorithm: Suri & Vassilvitskii's degree-oriented wedge join
    * ("Counting triangles and the curse of the last reducer", WWW
    * 2011). Every edge orients from the (deg, id)-SMALLER endpoint
    * to the larger; each triangle then has exactly ONE node with two
    * out-edges, so wedges (x→y, x→z with k(y) < k(z)) joined against
    * the oriented edge (y→z) count each triangle once. The
    * orientation is the scale story: out-degrees are bounded by
    * O(√|E|) on any graph, so a celebrity hub generates wedges
    * proportional to its SQUARE ROOT neighborhood, not deg² — the
    * skew fix a naive adjacency self-join lacks.
    *
    * Two shuffles: the wedge self-join keys on the apex, the closure
    * join on the (y, z) pair — both partial-agg-friendly equi-joins.
    * Output: (id, deg, n_tri, cc_micros) for every node in ≥ 1
    * triangle, cc = 2T/(deg·(deg−1)) floored to micros (one double
    * expression of exact longs — engine-portable). */
  def triangleCounts(pairs: DataFrame,
                     scope: CacheScope = CacheScope.unmanaged()): DataFrame = {
    // normalize: distinct undirected edges, self-loops dropped
    val und = scope.persist(pairs
      .select(least(col("i"), col("j")).as("i"),
        greatest(col("i"), col("j")).as("j"))
      .where(col("i") =!= col("j")).distinct())
    val edges = und.select(col("i").as("u"), col("j").as("v"))
      .union(und.select(col("j").as("u"), col("i").as("v")))
    val deg = scope.persist(edges.groupBy("u").agg(count(lit(1)).as("deg")))
    // orient u -> v iff (deg(u), u) < (deg(v), v); carry v's key for
    // the wedge-side comparison
    val eo = scope.persist(edges
      .join(deg.select(col("u"), col("deg").as("du")), "u")
      .join(deg.select(col("u").as("v"), col("deg").as("dv")), "v")
      .where(col("du") < col("dv") ||
        (col("du") === col("dv") && col("u") < col("v")))
      .select(col("u"), col("v"), col("dv")))
    val a = eo.select(col("u"), col("v").as("y"), col("dv").as("dy"))
    val b = eo.select(col("u"), col("v").as("z"), col("dv").as("dz"))
    val wedges = a.join(b, Seq("u"))
      .where(col("dy") < col("dz") ||
        (col("dy") === col("dz") && col("y") < col("z")))
      .select(col("u").as("x"), col("y"), col("z"))
    val tri = wedges
      .join(eo.select(col("u").as("y"), col("v").as("z")), Seq("y", "z"))
      .select(col("x"), col("y"), col("z"))
    tri.select(explode(array(col("x"), col("y"), col("z"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n_tri"))
      .join(deg.select(col("u").as("id"), col("deg")), "id")
      .select(col("id"), col("deg"), col("n_tri"),
        floor(col("n_tri").cast("double") * lit(2000000.0)
          / (col("deg") * (col("deg") - lit(1L))).cast("double") + lit(0.5))
          .cast("long").as("cc_micros"))
  }

  /** k-core decomposition of a pair table by iterative peeling: each
    * round drops every node whose CURRENT degree is below `k` (and
    * the edges it carried), until the survivors all have in-core
    * degree ≥ k (Seidman 1983). On the near-dup graph the k-core is
    * where duplication is DENSE — template farms and mirror clusters
    * sit in high cores while one-off near-dups peel away in round 1,
    * so core membership is a cheap prioritization signal for which
    * dup neighborhoods deserve exact verification first.
    *
    * `rounds` is part of the contract (both engines unroll the same
    * peels); callers must pick it to reach the fixpoint — peeling
    * converges in at most |V| rounds and in practice a handful
    * (spec-asserted stable on the gate graph; assert round-R ≡
    * round-R+1 when adopting new data). Each round is one partial-agg
    * degree count + two node-keyed semi-joins; the edge table shrinks
    * monotonically and every round ends in an eager localCheckpoint
    * with the superseded round freed (the iterative-loop lineage
    * discipline — each round references its predecessor THREE times).
    *
    * Output: (id, deg) for surviving core members — in-core degree,
    * exact longs. Empty when no k-core exists. */
  def kcore(pairs: DataFrame, k: Long, rounds: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    require(rounds >= 1, "rounds must be positive")
    val und = pairs
      .select(least(col("i"), col("j")).as("i"),
        greatest(col("i"), col("j")).as("j"))
      .where(col("i") =!= col("j")).distinct()
    var edges = und.select(col("i").as("u"), col("j").as("v"))
      .union(und.select(col("j").as("u"), col("i").as("v")))
      .localCheckpoint()
    // loop width from the measured (checkpointed) edge count ([[hits]]'
    // discipline); peel rounds are degree counts + semi-joins over a
    // shrinking edge table — exact and width-independent.
    val (loopSess, back) = SessionBridge.loopSession(pairs.sparkSession, edges.count())
    edges = SessionBridge.reRoot(edges, loopSess)
    for (_ <- 1 to rounds) {
      val keep = edges.groupBy("u").agg(count(lit(1)).as("deg"))
        .where(col("deg") >= k).select(col("u"))
      val next = edges
        .join(keep, "u")
        .join(keep.select(col("u").as("v")), "v")
        .select("u", "v")
        .localCheckpoint() // eager: truncates lineage, materializes now
      freeLocalCheckpoint(edges)
      edges = next
    }
    back(edges.groupBy(col("u").as("id")).agg(count(lit(1)).as("deg")))
  }

  /** Multi-source BFS hop distance over a pair table: the minimum
    * number of edges from any node in `sources` to every reachable
    * node, capped at `maxHops` — the transitive-contamination radius
    * of the near-dup graph (a doc two hops from a known-bad seed is
    * a dup-of-a-dup: likely tainted even though no miner paired it
    * with the seed directly).
    *
    * Classic distributed frontier BFS: per round, one edge⋈frontier
    * join (shuffle on the node key) expands hop r−1 survivors, one
    * node-keyed anti-join against the visited set keeps first
    * arrivals only (BFS invariant: first arrival IS the minimum hop
    * count, so no min-aggregation re-visit is ever needed). Only the
    * NEW frontier eagerly localCheckpoints each round; the visited
    * set and the result are lazy unions over those per-round
    * checkpoints (Σ frontier sizes ≤ |V| blocks across ALL rounds),
    * and the loop exits the moment a frontier comes back empty, so
    * a large `maxHops` on an already-converged graph costs nothing.
    * Unreached nodes are simply absent — callers left-join if they
    * want ∞ rows.
    *
    * Output: (id, hops) for every node within `maxHops` of a source;
    * sources themselves report hop 0. Exact longs — both engines
    * replay the rounds identically. */
  def bfsHops(pairs: DataFrame, sources: DataFrame, idCol: String,
              maxHops: Int,
              scope: CacheScope = CacheScope.unmanaged()): DataFrame = {
    require(maxHops >= 1, "maxHops must be positive")
    val p2 = scope.persist(pairs
      .select(col("i"), col("j")).where(col("i") =!= col("j")))
    val edges = scope.persist(
      p2.select(col("i").as("u"), col("j").as("v"))
        .union(p2.select(col("j").as("u"), col("i").as("v"))))
    // loop width from the measured edge count ([[hits]]' discipline);
    // the count materializes the edge cache at the caller's width
    // first. Frontier expansion is distinct/anti-join over exact ids —
    // width-independent.
    val (loopSess, back) = SessionBridge.loopSession(pairs.sparkSession, edges.count())
    val edgesL = SessionBridge.reRoot(edges, loopSess)
    val sourcesL = SessionBridge.reRoot(sources, loopSess)
    val frontiers = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var frontier = sourcesL.select(col(idCol).as("id")).distinct()
      .select(col("id"), lit(0L).as("hops")).localCheckpoint()
    frontiers += frontier
    // the visited set is the LAZY union of the per-round frontier
    // checkpoints: only the new frontier materializes each round
    // (total blocks across all rounds ≤ |V|, vs O(|V|·rounds) when
    // the cumulative table re-checkpointed every round), and each
    // union leg is a checkpoint scan — no recomputation, bounded
    // lineage
    var visited = frontier.select(col("id"))
    var r = 1
    var done = false
    while (r <= maxHops && !done) {
      val next = edgesL
        .join(frontier, edgesL("u") === frontier("id"))
        .select(col("v").as("id")).distinct()
        .join(visited, Seq("id"), "left_anti")
        .select(col("id"), lit(r.toLong).as("hops"))
        .localCheckpoint() // eager: only the NEW frontier materializes
      if (next.isEmpty) { // already-converged graph: stop paying rounds
        freeLocalCheckpoint(next)
        done = true
      } else {
        frontiers += next
        visited = visited.union(next.select(col("id")))
        frontier = next
      }
      r += 1
    }
    back(frontiers.reduce(_.union(_)))
  }

  /** HITS hub/authority scores (Kleinberg, JACM 1999) over a DIRECTED
    * edge table — the directed sibling of [[pagerank]]: an authority
    * is pointed at by good hubs, a hub points at good authorities.
    * On a bipartite consumption graph (customer→supplier, query→doc)
    * the two sides get the two roles and the iteration is the classic
    * co-ranking.
    *
    * Deterministic integer variant: scores carry in MICROS and each
    * half-round rescales by the CURRENT MAXIMUM instead of the L2
    * norm — `x' = (x_raw · 10^6) div max(x_raw)` is one integer
    * multiply + divide both engines compute identically, where the
    * float L2 normalization would drift. The max node always has an
    * incident edge, so the next raw pass is ≥ 10^6 and the divisor
    * never hits zero. Headroom: raw ≤ 10^6·deg, times 10^6 ≤
    * 10^12·deg — longs overflow past deg ≈ 9·10^6, and the oracle
    * side (DuckDB) silently promotes to HUGEINT there instead of
    * wrapping, so the bound is GUARDED up front: max degree over the
    * deduped edge set must sit below the headroom or the call fails
    * loudly (pre-aggregate parallel edges — the distinct() already
    * does — or shard the graph).
    *
    * Scale shape is [[pagerank]]'s: the edge table persists once;
    * each half-round is ONE edge⋈score join feeding a sum on the
    * destination key — the raw table persists for the half-round so
    * the max and the left join back onto the node set both read it
    * without re-running the join (unpersisted, the agg executed twice
    * per half-round: 10 extra shuffles at 5 iters). The rescale
    * divisor is the 1-row max collected driver-side (model-sized, the
    * Lloyd-centroid discipline), so no crossJoin appears in the plan.
    * Score tables are node-sized and each half-round ends in an eager
    * localCheckpoint with the superseded round freed.
    *
    * The loop's shuffle width is sized from the MEASURED edge count —
    * iterative node-sized state at a corpus-tuned width pays ~4·iters
    * × the full per-partition fixed cost for nothing (measured: 8.3s
    * → 3.2s on a 12k-edge graph at local[32]/32). The width is
    * applied in a CLONED session ([[org.apache.spark.sql.graft
    * .SessionBridge]]): the loop's plans re-root into the clone and
    * run at the loop width, while the caller's session conf is never
    * touched — a conf flip on the shared session would silently
    * re-plan every concurrent query at the loop's width. The final
    * plan (two checkpoint scans + one join) re-roots back to the
    * caller's session.
    *
    * Output: (id, hub_micros, auth_micros) for every node incident
    * to an edge; empty input (or self-loops only) returns an empty
    * frame rather than failing. */
  def hits(edges: DataFrame, iters: Int = 5,
           scope: CacheScope = CacheScope.unmanaged()): DataFrame = {
    require(iters >= 1, "iters must be positive")
    val M = 1000000L
    val e0 = scope.persist(edges
      .select(col("u"), col("v")).where(col("u") =!= col("v")).distinct())
    val ns0 = scope.persist(
      e0.select(col("u").as("id")).union(e0.select(col("v").as("id")))
        .distinct())
    // overflow guard: fail loudly where wrapped longs would silently
    // diverge from an arbitrary-precision engine (see scaladoc); the
    // same pass measures the graph (Σ deg = 2|E|) for the shuffle
    // sizing below
    val degStats = e0.select(explode(array(col("u"), col("v"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("d"))
      .agg(max(col("d")).as("mx"), sum(col("d")).as("tot")).collect()(0)
    if (degStats.isNullAt(0)) // no edges survived the self-loop filter
      return ns0.select(col("id"), lit(M).as("hub_micros"),
        lit(M).as("auth_micros"))
    val maxDeg = degStats.getLong(0)
    require(maxDeg < 9000000L,
      s"hits: max node degree $maxDeg exceeds the long headroom " +
        "(raw*10^6 wraps past deg ~9e6); pre-aggregate or shard the graph")
    // big graphs run at the session width in the caller's session;
    // small ones get a conf-isolated clone at the loop width (shared
    // context and cache, so the persisted edge/node tables stay warm)
    val (loopSess, back) = SessionBridge.loopSession(e0.sparkSession, degStats.getLong(1))
    val e = SessionBridge.reRoot(e0, loopSess)
    val ns = SessionBridge.reRoot(ns0, loopSess)
    var hub = ns.select(col("id"), lit(M).as("hub")).localCheckpoint()
    var auth = ns.select(col("id"), lit(M).as("auth")).localCheckpoint()
    def half(score: DataFrame, scoreCol: String, srcKey: String,
             dstKey: String, outCol: String): DataFrame = {
      val raw = e
        .join(score, e(srcKey) === score("id")).drop("id")
        .groupBy(col(dstKey).as("id"))
        .agg(sum(col(scoreCol)).as("raw"))
        .persist() // read twice below (max + left join): join runs once
      try {
        val mx = raw.agg(max(col("raw"))).collect()(0).getLong(0)
        ns.join(raw, Seq("id"), "left")
          .select(col("id"),
            expr(s"(coalesce(raw, 0L) * ${M}L) div ${mx}L").as(outCol))
          .localCheckpoint() // eager: truncates lineage, materializes now
      } finally raw.unpersist() // also on job failure: no stranded blocks
    }
    for (_ <- 1 to iters) {
      val a2 = half(hub, "hub", "u", "v", "auth")
      freeLocalCheckpoint(auth)
      auth = a2
      val h2 = half(auth, "auth", "v", "u", "hub")
      freeLocalCheckpoint(hub)
      hub = h2
    }
    back(hub.join(auth, "id")
      .select(col("id"), col("hub").as("hub_micros"),
        col("auth").as("auth_micros")))
  }

  /** Common-neighbor link prediction over a pair table: for every
    * NON-edge (u, w) sharing ≥ `minCommon` neighbors, the shared-
    * neighbor count and neighborhood Jaccard — the classic
    * missing-link score (Liben-Nowell & Kleinberg, CIKM 2003) used
    * here to surface near-dup pairs the banded miner missed: two docs
    * tied to the same dup neighborhood but never co-bucketed are
    * exactly the LSH false negatives worth re-verifying.
    *
    * Shape: wedges (u—v—w) enumerate via the adjacency self-join on
    * the CENTER v, so work is Σ deg(v)² over centers. Unlike triangle
    * counting there is no orientation escape — a wedge is only seen
    * from its center — so hubs are handled the standard way:
    * `maxCenterDegree` drops centers above the cap (a celebrity node
    * shared by everyone carries no link signal; the cap is part of
    * the contract and both engines apply it identically). Remaining
    * work is two node-keyed equi-joins + one partial-agg count; the
    * existing-edge exclusion is a broadcast-size anti-join on the
    * normalized edge set.
    *
    * Determinism: counts/degrees are exact longs;
    * `jaccard_micros = cn·10^6 div (deg_u + deg_w − cn)` is one
    * BIGINT division. Degrees count the FULL graph (pre-cap) so the
    * score is about the nodes, not the pruning. Output:
    * (i, j, cn, deg_i, deg_j, jaccard_micros), i < j, non-edges
    * only. */
  def commonNeighborScores(pairs: DataFrame, maxCenterDegree: Long,
                           minCommon: Long,
                           scope: CacheScope = CacheScope.unmanaged()): DataFrame = {
    require(maxCenterDegree >= 2, "a wedge center needs degree >= 2")
    require(minCommon >= 1, "minCommon must be positive")
    val und = scope.persist(pairs
      .select(least(col("i"), col("j")).as("i"),
        greatest(col("i"), col("j")).as("j"))
      .where(col("i") =!= col("j")).distinct())
    val edges = und.select(col("i").as("u"), col("j").as("v"))
      .union(und.select(col("j").as("u"), col("i").as("v")))
    val deg = scope.persist(edges.groupBy("u").agg(count(lit(1)).as("deg")))
    // wedge centers under the hub cap; endpoints ordered to count each
    // unordered candidate pair once
    val centers = edges.join(
      deg.where(col("deg") <= maxCenterDegree).select(col("u")), "u")
    val cand = centers.select(col("u"), col("v").as("x"))
      .join(centers.select(col("u"), col("v").as("y")), "u")
      .where(col("x") < col("y"))
      .groupBy(col("x").as("i"), col("y").as("j"))
      .agg(count(lit(1)).as("cn"))
      .where(col("cn") >= minCommon)
      .join(und, Seq("i", "j"), "left_anti") // predictions, not edges
    cand
      .join(deg.select(col("u").as("i"), col("deg").as("deg_i")), "i")
      .join(deg.select(col("u").as("j"), col("deg").as("deg_j")), "j")
      .select(col("i"), col("j"), col("cn"), col("deg_i"), col("deg_j"),
        expr("(cn * 1000000L) div (deg_i + deg_j - cn)")
          .as("jaccard_micros"))
  }
}
