package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph authority scoring — the web-graph signal family a corpus
  * curation pipeline fuses into its quality priors (domain authority as
  * a keep/weight input; the reference's warehouse has no graph surface,
  * so this is beyond-reference scope like the rest of the LLM-pipeline
  * families).
  *
  * The centerpiece is [[linkRank]], a damped authority iteration
  * (PageRank family: Page et al. 1999, "The PageRank Citation Ranking")
  * computed in DETERMINISTIC INTEGER MASS rather than floating-point
  * probability. Every node starts with `base` units of integer mass;
  * each round a node ships `floor(mass · w_edge / w_out)` units down
  * each out-edge, dangling nodes (no out-edges) redistribute uniformly,
  * and damping mixes a constant teleport grant back in — all in `Long`
  * arithmetic (`div` floor division, non-negative operands throughout).
  * Integer sums are order-independent, so the result is bit-identical
  * regardless of partitioning, join order, or engine — the same move
  * that made the k-means and gradient-descent training loops
  * oracle-replayable (int8 quantization / dec6 residuals): an oracle
  * engine replaying the rounds as chained CTEs with `//` floor division
  * reproduces every mass exactly. Floor rounding loses at most
  * `w_out − 1` units per node per round (plus `n − 1` on the dangling
  * pool) — a deterministic leak both engines share, irrelevant to
  * ranking use.
  *
  * Scale posture: one round = one edge⋈mass equi-join on `src` + one
  * map-side-combinable `sum` shuffle keyed on `dst` + one 1-row dangling
  * aggregate — the Pregel shape, linear in |E| with no all-pairs
  * anywhere. Round state is one (node, mass) row per node, pinned via
  * lazy `localCheckpoint` and freed as soon as the next round
  * materializes (the connected-components loop's lifecycle,
  * [[graft.ops.text.Dedup.clusterComponents]]); the edge and out-weight
  * tables are pinned once through [[graft.CacheScope]] so K rounds scan
  * the raw input once, not K times.
  *
  * Every round loop here runs under the session's AQE. Both settings were
  * measured at sf0.1: at local[8] (8 shuffle partitions) AQE off was
  * 30-40% faster, because each per-round action re-plans stage by stage
  * and that scheduling dominates at 8 partitions; at local[32] AQE off
  * was 1.3-3.8× SLOWER across the loop family, because a checkpointed
  * frame has no static size and only AQE's runtime stats turn the
  * per-round sort-merge joins into broadcasts. The second effect grows
  * with partition count — the regime a real cluster lives in.
  *
  * Overflow bound (documented, `require`-checked): masses are bounded by
  * the conserved total `n · base`, so the round expression needs
  * `dampNum · n · base < 2^63` and the share expression
  * `max_mass · max_edge_weight < 2^63`. At `base = 10^6` that admits
  * ~10^11 nodes with 4 bits to spare for edge weights — raise/lower
  * `base` to trade rank resolution against headroom.
  */
object Graph {

  /** Pre-flight degree audit — the census to read BEFORE paying for
    * [[linkRank]] rounds on an unknown graph (the near-dup families'
    * band-census idiom, SURVEY §8): node/edge counts, dangling share
    * (how much mass the uniform redistribution will move), and
    * out-weight skew (the hub whose share computation dominates a
    * round, and the first overflow suspect when raising `base`).
    *
    * Output: ONE row — (n_nodes, n_edges, total_weight, n_dangling,
    * max_out_weight, top_hub_share). `top_hub_share` is one int/int
    * double division — exact cross-engine parity.
    *
    * Shape: one combinable groupBy(src) over edges + two 1-row
    * aggregates, broadcast-joined — flat in graph size.
    */
  def degreeAudit(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val outW = edges.groupBy("src").agg(sum("weight").as("w_out"))
    val nodeSide = nodes
      .join(outW, nodes("node") === outW("src"), "left")
      .agg(count(lit(1)).as("n_nodes"),
        count(when(col("w_out").isNull, lit(1))).as("n_dangling"),
        coalesce(max("w_out"), lit(0L)).as("max_out_weight"))
    val edgeSide = edges.agg(count(lit(1)).as("n_edges"),
      coalesce(sum("weight"), lit(0L)).as("total_weight"))
    nodeSide.crossJoin(broadcast(edgeSide))
      .select(col("n_nodes"), col("n_edges"), col("total_weight"),
        col("n_dangling"), col("max_out_weight"),
        when(col("total_weight") > 0,
          col("max_out_weight").cast("double") /
            col("total_weight").cast("double"))
          .as("top_hub_share"))
  }

  /** Damped integer-mass link authority after exactly `iters` rounds
    * (see object doc for the arithmetic and why it is engine-exact).
    *
    *   - `nodes`: (node: Long) — the FULL vertex set; vertices without
    *     out-edges are dangling and redistribute uniformly, vertices
    *     absent from `nodes` are outside the graph (shares sent to them
    *     are dropped — keep edges ⊆ nodes × nodes);
    *   - `edges`: (src: Long, dst: Long, weight: Long > 0) — directed,
    *     pre-aggregated (one row per (src, dst); build multiplicity into
    *     `weight`);
    *   - round update, all `Long` floor division:
    *     {{{
    *     share(s → d)  = (mass_s * weight_sd) div w_out_s
    *     dang_share    = (Σ mass over dangling) div n_nodes
    *     mass'_n       = teleport + (dampNum * (in_n + dang_share)) div dampDen
    *     teleport      = ((dampDen - dampNum) * base) div dampDen
    *     }}}
    *
    * Output: (node, mass) — one row per `nodes` row. Ranking consumers
    * sort by (mass DESC, node); fusion consumers feed mass straight
    * into [[graft.ops.Quality]]-side weighted signal fusion.
    */
  def linkRank(nodes: DataFrame, edges: DataFrame, iters: Int = 4,
               base: Long = 1000000L, dampNum: Long = 85L,
               dampDen: Long = 100L): DataFrame = {
    val nodeTbl = graft.CacheScope.pin(
      nodes.select(col("node"), lit(true).as("is_seed")))
    iterate(nodeTbl, edges,
      init = nodeTbl.select(col("node"), lit(base).as("mass")),
      iters, base, dampNum, dampDen)
  }

  /** PERSONALIZED link authority (topic-sensitive PageRank, Haveliwala
    * 2002): teleport mass and the dangling pool flow only to `seeds` —
    * a trusted-source set — so mass measures proximity to the seeds
    * along edges, not global citation volume (the "authority relative
    * to a trust list" prior a curation mixture weights by). Non-seed
    * nodes start at zero and earn mass exclusively through in-edges.
    * Same integer arithmetic, same round shape, same oracle
    * replayability as [[linkRank]] — the seed flag is one broadcast
    * membership join resolved before the rounds start.
    */
  def linkRankSeeded(nodes: DataFrame, edges: DataFrame, seeds: DataFrame,
                     iters: Int = 4, base: Long = 1000000L,
                     dampNum: Long = 85L, dampDen: Long = 100L): DataFrame = {
    val nodeTbl = graft.CacheScope.pin(
      nodes.select(col("node"))
        .join(broadcast(seeds.select(col("node"), lit(true).as("is_seed"))),
          Seq("node"), "left")
        .select(col("node"), coalesce(col("is_seed"), lit(false))
          .as("is_seed")))
    iterate(nodeTbl, edges,
      init = nodeTbl.select(col("node"),
        when(col("is_seed"), lit(base)).otherwise(lit(0L)).as("mass")),
      iters, base, dampNum, dampDen)
  }

  /** Continue rounds from a PERSISTED (node, mass) state — the
    * warm-start the registry maintenance loop runs after edges change:
    * `iters` more rounds from where the last run stopped instead of a
    * cold restart. Deterministic arithmetic makes the contract exact:
    * `linkRankFrom(linkRank(…, k1), …, k2) == linkRank(…, k1 + k2)`
    * bit-for-bit on unchanged edges (GraphSpec pins it) — so after an
    * edge delta, warm rounds converge from the previous fixpoint at the
    * usual incremental discount.
    */
  def linkRankFrom(state: DataFrame, nodes: DataFrame, edges: DataFrame,
                   iters: Int = 2, base: Long = 1000000L,
                   dampNum: Long = 85L, dampDen: Long = 100L): DataFrame = {
    val nodeTbl = graft.CacheScope.pin(
      nodes.select(col("node"), lit(true).as("is_seed")))
    iterate(nodeTbl, edges,
      init = nodeTbl.select(col("node"))
        .join(state.select(col("node"), col("mass")), Seq("node"), "left")
        .select(col("node"), coalesce(col("mass"), lit(0L)).as("mass")),
      iters, base, dampNum, dampDen)
  }

  /** Sign-and-commit [[linkRank]] output as a versioned Manifest
    * snapshot — the authority registry a curation pipeline joins as a
    * quality prior (the SemDeDup centroid-model / signature-table
    * pattern). Returns the committed version.
    */
  def authorityRefresh(nodes: DataFrame, edges: DataFrame, table: String,
                       iters: Int = 4, base: Long = 1000000L,
                       dampNum: Long = 85L, dampDen: Long = 100L): Int =
    graft.io.Manifest.write(
      linkRank(nodes, edges, iters, base, dampNum, dampDen), table)

  /** The registry MAINTENANCE step — warm-continue the committed state
    * through `iters` more rounds over the CURRENT edge table and commit
    * the next version. On unchanged edges this advances the same
    * trajectory a longer cold run would take (the [[linkRankFrom]]
    * contract); after an edge delta it re-converges from the previous
    * fixpoint. Returns the new version.
    */
  def authorityUpdate(nodes: DataFrame, edges: DataFrame, table: String,
                      iters: Int = 2, base: Long = 1000000L,
                      dampNum: Long = 85L, dampDen: Long = 100L): Int = {
    val spark = nodes.sparkSession
    graft.io.Manifest.write(
      linkRankFrom(graft.io.Manifest.read(spark, table), nodes, edges,
        iters, base, dampNum, dampDen), table)
  }

  /** Exact per-node triangle counts + clustering coefficient over the
    * UNDIRECTED SIMPLE graph underlying `edges` (direction and weight
    * dropped, self-loops and duplicate pairs collapsed) — the local
    * density signal behind community/boilerplate structure detection
    * (a near-dup cluster is triangle-dense; organic citation is not).
    *
    * Algorithm: degree-ordered edge orientation (Suri &
    * Vassilvitskii 2011, "Counting Triangles and the Curse of the Last
    * Reducer"): orient every undirected edge from the (degree, node)-
    * smaller endpoint to the larger, join oriented out-neighbor pairs
    * (wedges) on their pivot, and close each wedge against the oriented
    * edge table. Every triangle is found EXACTLY once, and out-degrees
    * under this orientation are O(√m), so the wedge join's fan-out is
    * bounded even on power-law graphs — the property that makes this
    * the 100 TB plan where a naive adjacency self-join explodes on the
    * hub. Two equi-joins + combinable counts, no iteration; the oracle
    * replays the same joins verbatim.
    *
    * Output: (node, degree, triangles, clustering_coeff) — one row per
    * `nodes` row; coeff = 2·triangles / (degree·(degree−1)), exact
    * int/int IEEE division, NULL when degree < 2.
    */
  def triangles(nodes: DataFrame, edges: DataFrame): DataFrame = {
    // undirected simple edge set: one row per unordered pair
    val und = graft.CacheScope.pin(
      edges.filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("u"),
          greatest(col("src"), col("dst")).as("v"))
        .distinct())
    val deg = und.select(col("u").as("node"))
      .unionAll(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
    // orient u→v by (degree, node) rank; ties cannot occur on equal
    // nodes (simple graph), so the orientation is total
    val withDeg = und
      .join(deg.select(col("node").as("u"), col("degree").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("degree").as("dv")), "v")
    val oriented = graft.CacheScope.pin(
      withDeg.select(
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")),
          col("u")).otherwise(col("v")).as("a"),
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")),
          struct(col("dv").as("d"), col("v").as("n")))
          .otherwise(struct(col("du").as("d"), col("u").as("n")))
          .as("bd"))
        .select(col("a"), col("bd").getField("n").as("b"),
          col("bd").getField("d").as("db")))
    // wedges at pivot a: unordered out-neighbor pairs, kept in rank
    // order so the closing edge (b, c) is exactly the oriented form
    val e1 = oriented.select(col("a"), col("b").as("wb"), col("db").as("dwb"))
    val e2 = oriented.select(col("a"), col("b").as("wc"), col("db").as("dwc"))
    val wedges = e1.join(e2, "a")
      .filter(col("dwb") < col("dwc") ||
        (col("dwb") === col("dwc") && col("wb") < col("wc")))
    val tri = wedges.join(
      oriented.select(col("a").as("wb"), col("b").as("wc")),
      Seq("wb", "wc"))
      .select(col("a"), col("wb"), col("wc"))
    val perNode = tri.select(col("a").as("node"))
      .unionAll(tri.select(col("wb").as("node")))
      .unionAll(tri.select(col("wc").as("node")))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
    nodes.select(col("node"))
      .join(deg, Seq("node"), "left")
      .join(perNode, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("degree"), lit(0L)).as("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
      .withColumn("clustering_coeff",
        when(col("degree") >= 2,
          lit(2.0) * col("triangles").cast("double") /
            (col("degree").cast("double") *
              (col("degree").cast("double") - lit(1.0)))))
  }

  /** Convergence POST-FLIGHT — [[degreeAudit]]'s sibling on the other
    * side of the rounds: runs [[linkRank]]'s exact arithmetic and
    * reports, per round, the maximum |Δmass| across nodes and how many
    * nodes moved at all. Fixed-`iters` rounds otherwise give the
    * operator no signal whether 4 rounds SUFFICED on this graph (a
    * long-diameter chain needs more; a dense co-purchase core needs
    * fewer) — this table is that signal: a tail residual near the
    * integer floor (≲ a few mass units) means converged-for-ranking;
    * a large one means raise `iters` (or lower it where rounds are
    * wasted). Cost: the rounds themselves plus ONE combinable
    * (max, count) aggregate per round over the state the round already
    * materialized — nothing new shuffles.
    *
    * Output: (round, max_abs_delta, n_changed), round 1..iters —
    * integer max/count over integer deltas, so order-independent and
    * oracle-replayable like every mass (the oracle unrolls the same
    * chained CTEs and diffs consecutive rounds).
    */
  def linkRankResidual(nodes: DataFrame, edges: DataFrame, iters: Int = 4,
                       base: Long = 1000000L, dampNum: Long = 85L,
                       dampDen: Long = 100L): DataFrame = {
    val spark = nodes.sparkSession
    val nodeTbl = graft.CacheScope.pin(
      nodes.select(col("node"), lit(true).as("is_seed")))
    val buf = scala.collection.mutable.Buffer.empty[(Long, Long)]
    // the final mass state is discarded here (the residual LADDER is the
    // output) — free its checkpoint blocks instead of leaking them
    val finalMass = iterate(nodeTbl, edges,
      init = nodeTbl.select(col("node"), lit(base).as("mass")),
      iters, base, dampNum, dampDen, residuals = Some(buf))
    graft.unpersistCheckpoint(finalMass)
    import spark.implicits._
    buf.toSeq.zipWithIndex
      .map { case ((d, n), i) => (i + 1, d, n) }
      .toDF("round", "max_abs_delta", "n_changed")
  }

  /** Convergence-GATED authority — [[linkRankResidual]]'s measurement
    * acting as the STOPPING RULE: rounds run until max |Δmass| ≤ `tol`
    * or `maxIters`, whichever first. This closes the fixed-`iters`
    * guesswork both ways (a long-diameter chain gets the extra rounds
    * it needs; a dense core stops paying for rounds that move nothing)
    * while staying fully oracle-replayable: the per-round residual is
    * an integer max — a deterministic function of the graph — so the
    * stop round is too, and the oracle unrolls `maxIters` chains, computes
    * the same residuals, and gates its final SELECT on the same
    * first-round-under-tol decision (the census-dispatch idiom, at the
    * iteration dimension). Extra cost over plain rounds: the one
    * combinable residual aggregate per round.
    *
    * Output: (node, mass, rounds) — `rounds` the constant round count
    * actually taken, for observability and replay audit. Choosing tol:
    * mass resolution is `base`-scaled, so `tol ≈ base/10` stops when
    * ranking order is stable at the top; `tol = 0` runs to the exact
    * integer fixpoint or `maxIters`.
    */
  def linkRankConverged(nodes: DataFrame, edges: DataFrame, tol: Long,
                        maxIters: Int = 8, base: Long = 1000000L,
                        dampNum: Long = 85L,
                        dampDen: Long = 100L): DataFrame = {
    require(tol >= 0, s"tol must be >= 0, got $tol")
    val nodeTbl = graft.CacheScope.pin(
      nodes.select(col("node"), lit(true).as("is_seed")))
    val (mass, rounds) = iterateCounted(nodeTbl, edges,
      init = nodeTbl.select(col("node"), lit(base).as("mass")),
      maxIters, base, dampNum, dampDen, stopTol = Some(tol))
    mass.withColumn("rounds", lit(rounds))
  }

  /** ONE authority trajectory, every round tapped — (round, node, mass)
    * for rounds 0..`maxIters` (round 0 = the uniform `base` init): the
    * [[labelPropTrajectory]] convention at the authority family, so
    * [[linkRank]] (a depth tap), [[linkRankResidual]] (adjacent-round
    * diffs), and [[linkRankConverged]] (the tol stop replayed from the
    * diff ladder) read one materialized relation instead of each
    * re-running the rounds. Deterministic integer arithmetic makes the
    * consumers bit-equal to the live operators (GraphSpec pins it).
    */
  def linkRankTrajectory(nodes: DataFrame, edges: DataFrame,
                         maxIters: Int, base: Long = 1000000L,
                         dampNum: Long = 85L,
                         dampDen: Long = 100L): DataFrame = {
    val nodeTbl = graft.CacheScope.pin(
      nodes.select(col("node"), lit(true).as("is_seed")))
    val taps = scala.collection.mutable.Buffer.empty[(Int, DataFrame)]
    iterateCounted(nodeTbl, edges,
      init = nodeTbl.select(col("node"), lit(base).as("mass")),
      maxIters, base, dampNum, dampDen, taps = Some(taps))
    taps.map { case (r, m) =>
      m.select(lit(r).as("round"), col("node"), col("mass"))
    }.reduce(_ unionAll _)
  }

  /** [[linkRankResidual]] read off a [[linkRankTrajectory]]: per-round
    * (max |Δmass|, changed-node count) for rounds 1..`iters` are the
    * adjacent-round diffs — one self-join, one combinable aggregate.
    */
  def linkRankResidualFromTrajectory(trajectory: DataFrame,
                                     iters: Int): DataFrame =
    trajectory.filter(col("round") between(1, iters))
      .join(trajectory
        .select((col("round") + 1).as("round"), col("node"),
          col("mass").as("_prev")), Seq("round", "node"))
      .groupBy("round")
      .agg(coalesce(max(abs(col("mass") - col("_prev"))), lit(0L))
        .as("max_abs_delta"),
        count(when(col("mass") =!= col("_prev"), 1)).as("n_changed"))
      .select(col("round").cast("int").as("round"),
        col("max_abs_delta"), col("n_changed"))

  /** [[linkRankConverged]] read off a [[linkRankTrajectory]]: the stop
    * round is the FIRST round with max |Δmass| ≤ `tol` (else
    * `maxIters`) — replayed from the bounded diff ladder — and the
    * shipped masses are the trajectory's tap at that round (the live
    * loop's state at its stop, by determinism).
    */
  def linkRankConvergedFromTrajectory(trajectory: DataFrame, tol: Long,
                                      maxIters: Int): DataFrame = {
    require(tol >= 0, s"tol must be >= 0, got $tol")
    val diffs = linkRankResidualFromTrajectory(trajectory, maxIters)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    require((1 to maxIters).forall(diffs.contains),
      s"trajectory must cover rounds 1..$maxIters, has ${diffs.keys.toSeq.sorted}")
    val taken = (1 to maxIters).find(r => diffs(r) <= tol).getOrElse(maxIters)
    trajectory.filter(col("round") === taken)
      .select(col("node"), col("mass"), lit(taken).as("rounds"))
  }

  /** BFS hop distance from a trusted SEED set — the "how many links from
    * a source I trust" crawl-frontier signal that complements
    * [[linkRankSeeded]]'s mass-proximity prior (hops is the metric a
    * crawl-depth keep rule actually thresholds on; seeded mass is the
    * weighted analogue). Directed: distance follows `src → dst` edges.
    *
    * Frontier-based min-plus propagation: round h joins ONLY the nodes
    * settled at distance h−1 against the edge table, so each edge is
    * relaxed at most once over the whole run (total work O(|E|) across
    * all rounds — not O(rounds · |E|) like a dense relaxation), and the
    * loop stops as soon as a round settles nothing. With unit weights
    * the first time a node is reached IS its minimal distance, so early
    * stop and extra rounds are both semantic no-ops — the oracle simply
    * unrolls `maxHops` dense rounds and matches bit-for-bit, no stop
    * decision to replay (the idempotent-tail idiom, also [[kcore]]).
    *
    * Output: (node, hops) one row per `nodes` row — hops NULL when the
    * node is unreachable from every seed within `maxHops`.
    *
    * State compaction (r14): the loop checkpoints only the PER-ROUND
    * DELTA — the nodes first settled this round — never the full
    * (node, hops) relation. Settled state is the lazy union of the
    * round deltas (≤ maxHops + 1 checkpointed frames, together at most
    * one row per reachable node), so total checkpoint WRITE volume is
    * O(|reached|), not the O(rounds · |V|) a full-state re-checkpoint
    * pays — at 100 TB node scale that factor is the difference between
    * a bounded frontier crawl and re-serializing the node table every
    * round (sf1-scale measurement in SURVEY §8). The per-round count
    * that drives the early stop doubles as the delta's materializing
    * action, and the final left join pins nothing new.
    */
  def hopDistance(nodes: DataFrame, edges: DataFrame, seeds: DataFrame,
                  maxHops: Int = 6): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    val edgeTbl = graft.CacheScope.pin(
      edges.select(col("src"), col("dst")).distinct()
        .repartition(col("src")))
    // pinned for the same reason as edgeTbl: the per-round frontier
    // restriction (left_semi) re-reads it every hop
    val nodeTbl = graft.CacheScope.pin(nodes.select(col("node")))
    // hop-0 delta: the seed rows (semi join — a duplicated seed id must
    // not duplicate a node row)
    var delta = nodeTbl
      .join(seeds.select(col("node")), Seq("node"), "left_semi")
      .select(col("node"), lit(0L).as("hops"))
      .localCheckpoint(false)
    val deltas = scala.collection.mutable.Buffer(delta)
    var hop = 0
    var frontierSize = delta.count()
    while (hop < maxHops && frontierSize > 0) {
      hop += 1
      // Periodic delta FOLD (r14 ADVICE): the settled set is the lazy
      // union of per-round delta frames, so round h's anti-join would
      // re-scan h checkpointed frames — O(maxHops²) frame reads over a
      // deep crawl, with every delta checkpoint alive until the end. At
      // the documented maxHops=6 that is ≤ 7 tiny frames (fine); past 8
      // frames the older deltas fold into ONE compacted checkpoint, so
      // a deep crawl reads O(1) folded + O(fold window) frames per
      // round and write volume stays O(|reached|·rounds/window), never
      // the full-state O(rounds·|V|) re-checkpoint the delta design
      // exists to avoid. The live frontier (deltas.last) is never
      // folded — the relax join reads it standalone.
      if (deltas.size > 8) {
        val keep = deltas.last
        val folded = deltas.dropRight(1).reduce(_ unionAll _)
          .localCheckpoint(false)
        folded.count()
        deltas.dropRight(1).foreach(graft.unpersistCheckpoint)
        deltas.clear()
        deltas += folded
        deltas += keep
      }
      val settled = deltas.map(_.select("node")).reduce(_ unionAll _)
      val reached = edgeTbl
        .join(delta.select(col("node").as("src")), "src")
        .select(col("dst").as("node")).distinct()
      // min-plus with unit weights: first touch IS the minimal distance,
      // so the new frontier is exactly reached-minus-settled — RESTRICTED
      // to the node table: an edge endpoint absent from `nodes` is not a
      // vertex of this graph and must neither settle nor propagate (the
      // full-state loop had this for free because its state was built
      // from `nodes`; the delta loop must impose it, or distances leak
      // through phantom vertices the oracle's node-joined rounds never
      // see)
      delta = reached.join(settled, Seq("node"), "left_anti")
        .join(nodeTbl, Seq("node"), "left_semi")
        .select(col("node"), lit(hop.toLong).as("hops"))
        .localCheckpoint(false)
      frontierSize = delta.count()
      deltas += delta
    }
    nodeTbl.join(deltas.reduce(_ unionAll _), Seq("node"), "left")
      .select(col("node"), col("hops"))
  }

  /** WEIGHTED hop distance — [[hopDistance]]'s min-plus generalization
    * (Bellman-Ford relaxation rounds in the same frontier shape): the
    * cheapest total edge weight from the seed set, where unit BFS would
    * return the fewest EDGES. The distinction bites exactly when a
    * multi-hop light path undercuts a direct heavy edge (the GraphSpec
    * fixture: 1→3 direct at cost 100 vs 1→2→3 at 20 — unit BFS says
    * hops=1, the weighted read says 20 via the longer path), which is
    * the read a crawl-budget or trust-propagation rule over weighted
    * links actually wants.
    *
    * Frontier-based: round h relaxes only edges OUT of nodes whose
    * distance improved in round h−1, so a settled region stops paying;
    * unlike unit BFS a reached node CAN improve later (the cheaper
    * longer path arrives in a later round). State is DELTA-CHECKPOINTED
    * (r16, closing the r15 verdict's named caveat): each round persists
    * only its IMPROVED rows, and the current state is the lazy
    * groupBy-MIN over the delta frames — correct because every
    * improvement strictly lowers a node's value, so the minimum across
    * all recorded values IS the latest. Write volume drops from
    * O(rounds · |reached|) (the r15 full-state re-checkpoint) to
    * O(Σ improved) — on the sf0.1 bench graph that is the difference
    * between re-writing the whole reached relation six times and
    * writing each node's improvements only. Past 8 frames the older
    * deltas fold into one compacted groupBy-MIN checkpoint (the
    * [[hopDistance]] fold, adapted to re-improvable state — fold =
    * min-merge, not append). Rounds bound path LENGTH: after
    * `maxRounds` rounds every cheapest path of at most `maxRounds`
    * edges is exact (full Bellman-Ford needs |V|−1).
    *
    * Stops early when a round improves nothing — min-plus is idempotent
    * at the fixpoint (a no-improvement round reproduces itself), so the
    * early-stopped state equals the oracle's fixed `maxRounds` unroll
    * bit-for-bit, no stop decision to replay (the [[hopDistance]] /
    * [[kcore]] idiom). All-integer arithmetic; parallel directed edges
    * merge by MIN weight (only the lightest can matter); non-negative
    * weights are ENFORCED in-expression (a negative weight would break
    * the monotone-improvement contract silently — the [[negLabel]]
    * raise_error-rider style, no extra validation job).
    *
    * Output: (node, dist) one row per `nodes` row — dist NULL when the
    * node is unreachable from every seed within `maxRounds` edges.
    * `checkpointRows`, when supplied, records the row count persisted
    * each round (init + per-round improvements) — the write-volume
    * instrument the delta design is measured by.
    */
  def hopDistanceWeighted(nodes: DataFrame, edges: DataFrame,
                          seeds: DataFrame,
                          maxRounds: Int = 6,
                          checkpointRows:
                            Option[scala.collection.mutable.Buffer[Long]] =
                            None): DataFrame = {
    require(maxRounds >= 0, s"maxRounds must be >= 0, got $maxRounds")
    val guarded = when(col("weight") >= 0, col("weight"))
      .otherwise(raise_error(format_string(
        "hopDistanceWeighted needs non-negative weights; got %d",
        col("weight"))).cast("long"))
    val edgeTbl = graft.CacheScope.pin(
      edges.select(col("src"), col("dst"), guarded.as("weight"))
        .groupBy("src", "dst").agg(min("weight").as("weight"))
        .repartition(col("src")))
    val nodeTbl = graft.CacheScope.pin(nodes.select(col("node")))
    val init = nodeTbl
      .join(seeds.select(col("node")), Seq("node"), "left_semi")
      .select(col("node"), lit(0L).as("dist"))
    val fin = minPlusLoop(nodeTbl, edgeTbl, init, maxRounds, checkpointRows)
    nodeTbl.join(fin, Seq("node"), "left")
      .select(col("node"), col("dist"))
  }

  /** The shared min-plus relaxation loop over DELTA-CHECKPOINTED state —
    * one body for [[hopDistanceWeighted]] (weighted edges, cold seeds)
    * and [[hopDistanceFrom]] (unit edges, warm state), so the two reads
    * cannot drift. `init` is the round-0 state (node, dist), already
    * restricted to `nodeTbl`; `edgeTbl`/`nodeTbl` are pinned by the
    * caller. Per round: relax only the previous round's improved rows'
    * out-edges, persist ONLY the improvements (every improvement
    * strictly lowers a value, so the lazy groupBy-MIN over the frames
    * is the current state), fold frames past the window. Stops early
    * when a round improves nothing — min-plus is idempotent at the
    * fixpoint, so the early-stopped state equals the fixed unroll
    * bit-for-bit. Returns the final (node, dist) state relation.
    */
  private def minPlusLoop(nodeTbl: DataFrame, edgeTbl: DataFrame,
                          init: DataFrame, maxRounds: Int,
                          checkpointRows:
                            Option[scala.collection.mutable.Buffer[Long]])
      : DataFrame = {
    var frontier = init.localCheckpoint(false)
    val deltas = scala.collection.mutable.Buffer(frontier)
    def stateView = deltas.reduce(_ unionAll _)
      .groupBy("node").agg(min("dist").as("dist"))
    var round = 0
    var frontierSize = frontier.count()
    checkpointRows.foreach(_ += frontierSize)
    while (round < maxRounds && frontierSize > 0) {
      round += 1
      // the hopDistance fold window, adapted to re-improvable state:
      // fold = groupBy-MIN compaction (an append-only fold would keep
      // superseded values alive and the state view would be wrong)
      if (deltas.size > 8) {
        val keep = deltas.last
        val folded = deltas.dropRight(1).reduce(_ unionAll _)
          .groupBy("node").agg(min("dist").as("dist"))
          .localCheckpoint(false)
        folded.count()
        deltas.dropRight(1).foreach(graft.unpersistCheckpoint)
        deltas.clear()
        deltas += folded
        deltas += keep
      }
      // relax only the improved nodes' out-edges; phantom endpoints
      // (absent from `nodes`) neither settle nor propagate — the
      // hopDistance guard, same reason
      val improved = edgeTbl
        .join(frontier.select(col("node").as("src"), col("dist")), "src")
        .select(col("dst").as("node"), (col("dist") + col("weight")).as("c"))
        .groupBy("node").agg(min("c").as("c"))
        .join(nodeTbl, Seq("node"), "left_semi")
        .join(stateView, Seq("node"), "left")
        .filter(col("dist").isNull || col("c") < col("dist"))
        .select(col("node"), col("c").as("dist"))
        .localCheckpoint(false)
      frontierSize = improved.count()
      checkpointRows.foreach(_ += frontierSize)
      frontier = improved
      deltas += improved
    }
    stateView
  }

  /** WARM-CONTINUE a committed hop-distance relation through `rounds`
    * more min-plus relaxation rounds over the CURRENT edge table — the
    * [[labelPropFrom]] contract at the distance family (r16, the one
    * graph family that still recomputed cold every run): `state` is a
    * previously computed (node, hops) relation; its non-null rows enter
    * as upper bounds (seeds re-pinned to 0), and unit-weight relaxation
    * improves them wherever the grown edge set opened a shorter path.
    *
    * Correctness contract (why warm start is sound here): min-plus
    * relaxation converges to the unique shortest-distance fixpoint from
    * ANY state whose values are valid upper bounds, and a distance
    * computed on FEWER edges is always an upper bound on the distance
    * over more — so this is exact under the edge registry's append-only
    * growth (the only mutation [[graft.streaming.IncrementalStream]]'s
    * maintenance loop performs). Edge REMOVAL would break it (distances
    * may need to increase; a stale low bound never re-rises) — that is
    * a [[distanceRefresh]] from cold, same as every registry family.
    *
    * On unchanged edges a CONVERGED state improves nothing and passes
    * through bit-for-bit (min-plus idempotence), so warm(cold(g1), g1⊎g2)
    * equals cold(g1⊎g2) once both converge — GraphSpec pins it. Unlike
    * unit [[hopDistance]]'s first-touch delta loop, the warm loop must
    * allow RE-improvement (a committed distance can shrink when a new
    * edge lands), so it runs the [[minPlusLoop]] shape with unit
    * weights. Round 1 relaxes every warm row's out-edges (one full
    * sweep — the state does not record WHICH edges are new); subsequent
    * rounds pay only for what actually improved.
    *
    * Output: (node, hops), one row per `nodes` row, NULL when
    * unreached. New nodes (in `nodes` but not `state`) enter unreached
    * and acquire distances through relaxation, exactly as a batch
    * replay would place them.
    */
  def hopDistanceFrom(state: DataFrame, nodes: DataFrame, edges: DataFrame,
                      seeds: DataFrame, rounds: Int = 2): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    val edgeTbl = graft.CacheScope.pin(
      edges.select(col("src"), col("dst")).distinct()
        .select(col("src"), col("dst"), lit(1L).as("weight"))
        .repartition(col("src")))
    val nodeTbl = graft.CacheScope.pin(nodes.select(col("node")))
    val init = nodeTbl
      .join(state.select(col("node"), col("hops")), Seq("node"), "left")
      .join(seeds.select(col("node")).distinct()
        .select(col("node"), lit(true).as("_seed")), Seq("node"), "left")
      .select(col("node"),
        when(col("_seed"), lit(0L)).otherwise(col("hops")).as("dist"))
      .filter(col("dist").isNotNull)
    val fin = minPlusLoop(nodeTbl, edgeTbl, init, rounds, None)
    nodeTbl.join(fin, Seq("node"), "left")
      .select(col("node"), col("dist").as("hops"))
  }

  /** [[hopDistanceFrom]] at the WEIGHTED family — warm-continue a
    * committed (node, dist) relation through `rounds` more min-plus
    * relaxation rounds over the current weighted edge table. The
    * soundness contract is STRICTLY NARROWER than the unit form's, and
    * the difference is exactly the weights: warm start is exact only
    * when the edge set GROWS and every pre-existing edge keeps its
    * weight (new edges and new parallel-edge alternatives only lower
    * the min-plus fixpoint, so committed distances stay valid upper
    * bounds). A weight INCREASE on an existing edge can raise true
    * distances, which a stale low bound never re-rises to — that
    * mutation demands a cold re-run, same as edge removal in the unit
    * form. The live loop exists since r17:
    * [[graft.streaming.IncrementalStream.runWeightedDistanceStream]]
    * merges edge deltas by weight MIN per (src, dst) — monotonically
    * non-increasing registry weights, so the warm contract holds
    * batch after batch (the shared loop's default SUM-merge is what
    * kept this family batch-only through r16).
    */
  def hopDistanceWeightedFrom(state: DataFrame, nodes: DataFrame,
                              edges: DataFrame, seeds: DataFrame,
                              rounds: Int = 2): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    val guarded = when(col("weight") >= 0, col("weight"))
      .otherwise(raise_error(format_string(
        "hopDistanceWeightedFrom needs non-negative weights; got %d",
        col("weight"))).cast("long"))
    val edgeTbl = graft.CacheScope.pin(
      edges.select(col("src"), col("dst"), guarded.as("weight"))
        .groupBy("src", "dst").agg(min("weight").as("weight"))
        .repartition(col("src")))
    val nodeTbl = graft.CacheScope.pin(nodes.select(col("node")))
    val init = nodeTbl
      .join(state.select(col("node"), col("dist")), Seq("node"), "left")
      .join(seeds.select(col("node")).distinct()
        .select(col("node"), lit(true).as("_seed")), Seq("node"), "left")
      .select(col("node"),
        when(col("_seed"), lit(0L)).otherwise(col("dist")).as("dist"))
      .filter(col("dist").isNotNull)
    val fin = minPlusLoop(nodeTbl, edgeTbl, init, rounds, None)
    nodeTbl.join(fin, Seq("node"), "left")
      .select(col("node"), col("dist"))
  }

  /** Build-and-commit the hop-distance relation as a versioned Manifest
    * snapshot (the [[authorityRefresh]] idiom — cold [[hopDistance]]
    * from the seed set). Returns the version. */
  def distanceRefresh(nodes: DataFrame, edges: DataFrame, seeds: DataFrame,
                      table: String, maxHops: Int = 6): Int =
    graft.io.Manifest.write(hopDistance(nodes, edges, seeds, maxHops), table)

  /** Registry MAINTENANCE — warm-continue the committed distances
    * through `rounds` more relaxation rounds over the CURRENT edge
    * table ([[hopDistanceFrom]]) and commit the next version. Sound
    * only under append-only edge growth — see [[hopDistanceFrom]]'s
    * contract. Returns the new version. */
  def distanceUpdate(nodes: DataFrame, edges: DataFrame, seeds: DataFrame,
                     table: String, rounds: Int = 2): Int = {
    val spark = nodes.sparkSession
    graft.io.Manifest.write(
      hopDistanceFrom(graft.io.Manifest.read(spark, table), nodes, edges,
        seeds, rounds), table)
  }

  /** Community detection by synchronous weighted label propagation
    * (Raghavan et al. 2007, "Near linear time algorithm to detect
    * community structures in large-scale networks") — the grouping
    * signal BETWEEN connected components and near-dup clusters: a
    * mirror farm is one tight community inside a component that also
    * contains its organic neighborhood, and a curation mixture wants to
    * cap per-community, not per-component. Labels live on the
    * UNDIRECTED weighted graph under `edges` (symmetrized, parallel
    * edges merged by weight sum).
    *
    * Determinism (the async-LPA coin-flip replaced): all nodes update
    * simultaneously each round, a node adopts the label with the
    * largest total incident weight, and ties break to the SMALLEST
    * label — an integer-total order, so the labeling after `rounds` is
    * a pure function of the graph and both engines replay it exactly
    * (synchronous LPA can oscillate on bipartite structure; the fixed
    * round count makes that a bounded, deterministic behavior rather
    * than a termination hazard). Per round: one edge⋈label equi-join,
    * one combinable (node, label) weight sum, one combinable
    * max-of-struct argmax — the Pregel shape, no windows over nodes.
    *
    * Output: (node, label) one row per `nodes` row; isolated nodes keep
    * their own id as label.
    */
  def labelPropagate(nodes: DataFrame, edges: DataFrame,
                     rounds: Int = 3): DataFrame =
    lpaLoop(nodes, edges, rounds, stopOnStable = false, residuals = None)
      ._1

  /** Per-round CHANGED-LABEL counts for [[labelPropagate]] — the
    * residual post-flight the authority family got in r13
    * ([[linkRankResidual]]), at the community family: one row per round
    * (round, n_changed), where n_changed counts nodes whose label
    * differs from the previous round. FREE at the operator's own cost:
    * the count rides the action each round already runs to materialize
    * its checkpoint, so observability adds zero jobs. n_changed = 0
    * means the labeling has reached its fixpoint (synchronous LPA is
    * idempotent there — identical input rounds produce identical
    * output), so the first zero names the round count
    * [[labelPropConverged]] would take. Deterministic integer counts —
    * oracle-replayable by diffing consecutive unrolled rounds.
    */
  def labelPropResidual(nodes: DataFrame, edges: DataFrame,
                        rounds: Int = 3): DataFrame = {
    val spark = nodes.sparkSession
    val buf = scala.collection.mutable.Buffer.empty[Long]
    // the final labeling is discarded (the ladder is the output) —
    // free its checkpoint blocks instead of leaking them (unpersist
    // must see the CHECKPOINTED frame, not the derived projection)
    val (_, finalCkpt, _) = lpaLoopCk(nodes, edges, rounds,
      stopOnStable = false, residuals = Some(buf))
    graft.unpersistCheckpoint(finalCkpt)
    import spark.implicits._
    buf.toSeq.zipWithIndex.map { case (n, i) => (i + 1, n) }
      .toDF("round", "n_changed")
  }

  /** Convergence-GATED label propagation — the residual acting as the
    * stopping rule: rounds run until a round changes NO label or
    * `maxRounds`, whichever first. Synchronous LPA is idempotent at the
    * fixpoint (a zero-change round reproduces itself forever), so the
    * early-stopped labeling equals a fixed `maxRounds` unroll
    * bit-for-bit, and the emitted `rounds` — first zero-change round,
    * else `maxRounds` — is a deterministic integer function of the
    * graph the oracle recomputes from the same consecutive-round diffs
    * (the [[linkRankConverged]] shape; labels themselves need no
    * branch dispatch, by idempotence).
    *
    * Output: (node, label, rounds) — `rounds` constant.
    *
    * NOTE synchronous LPA has no convergence guarantee — dense or
    * near-bipartite regions can trade labels indefinitely (the sf0.01
    * co-purchase fixture still changes ~1k labels at round 6) — which
    * is exactly why the budget exists and why [[labelPropResidual]] is
    * the instrument to read BEFORE trusting a labeling: a ladder that
    * plateaus instead of dying means the graph needs async/seeded
    * variants or a coarser edge filter, not more rounds.
    */
  def labelPropConverged(nodes: DataFrame, edges: DataFrame,
                         maxRounds: Int = 8): DataFrame = {
    val (labels, taken) = lpaLoop(nodes, edges, maxRounds,
      stopOnStable = true, residuals = None)
    labels.withColumn("rounds", lit(taken))
  }

  /** Modularity-GATED label propagation — the production recipe the
    * r14 instruments point at: run `maxRounds` budgeted SYNCHRONOUS
    * rounds (the form that resists the monster-community sweep) and
    * return the labeling of the round with the HIGHEST modularity —
    * selection by QUALITY, not by termination, because the two
    * instruments measurably disagree about which labeling to ship
    * (the residual ladder never settles on a dense graph, yet the
    * 6-round labeling scores Q ≈ 0.30 where the converged semisync one
    * scores ≈ 0.007).
    *
    * The selection is EXACT: every round of one graph shares the (2m)²
    * modularity denominator, so comparing the DECIMAL(38,0) numerators
    * q_num = in_all·2m − Σ tot_c² IS comparing Q, with no double
    * anywhere in the decision — the oracle replays the same integer
    * argmax (earliest round on exact ties). Per round the price is one
    * [[relabel]] pass plus one [[modularityParts]] aggregate (two joins
    * against the pinned symmetrized table, 1-row result); only the
    * incumbent-best and current checkpoints stay alive.
    *
    * `patience` > 0 adds the QUALITY-PLATEAU stop (r14 verdict's top
    * item): stop as soon as `patience` consecutive rounds fail to
    * improve the exact numerator, instead of always paying the full
    * budget. The sf0.01 co-purchase ladder is unimodal — Q climbs
    * 0.065 → 0.319 over rounds 1-10, then the monster-community sweep
    * takes over and it FALLS monotonically to 0.063 by round 16 — so a
    * budget that merely contains the peak (the old maxRounds=6 config
    * truncated it mid-climb at 0.297) both overpays after the peak and
    * underpays before it. The stop decision compares the same exact
    * DECIMAL numerators as the selection, so it is an integer function
    * of the graph: the oracle unrolls the full budget, rebuilds
    * best-so-far per depth, and recomputes stop = first depth with
    * (depth − best_depth) ≥ patience — live stop and replay pick the
    * same round by construction. `patience = 0` keeps the pure budgeted
    * argmax (every round scored).
    *
    * Output: (node, label, rounds) — `rounds` = the selected round.
    */
  def labelPropQualityGated(nodes: DataFrame, edges: DataFrame,
                            maxRounds: Int = 6,
                            patience: Int = 0): DataFrame = {
    require(maxRounds >= 1, s"need at least one round, got $maxRounds")
    require(patience >= 0, s"patience must be >= 0, got $patience")
    val sym = graft.CacheScope.pin(symmetrized(edges))
    var cur = nodes.select(col("node"), col("node").as("label"))
      .localCheckpoint(false)
    var best: DataFrame = null
    var bestNum: java.math.BigDecimal = null
    var bestRound = 0
    var r = 0
    var plateaued = false
    while (r < maxRounds && !plateaued) {
      r += 1
      val next = relabel(sym, cur)
        .select(col("node"),
          coalesce(col("nb_label"), col("label")).as("label"))
        .localCheckpoint(false)
      // the 1-row exact quality aggregate doubles as the round's
      // materializing action
      val num = modularityParts(next, sym).select("q_num").head().getDecimal(0)
      val prev = cur
      cur = next
      if (bestNum == null || num.compareTo(bestNum) > 0) {
        if (best != null && !(best eq prev)) graft.unpersistCheckpoint(best)
        best = next
        bestNum = num
        bestRound = r
      }
      if (!(prev eq best)) graft.unpersistCheckpoint(prev)
      if (patience > 0 && r - bestRound >= patience) plateaued = true
    }
    if (!(cur eq best)) graft.unpersistCheckpoint(cur)
    best.withColumn("rounds", lit(bestRound))
  }

  /** Per-round community-QUALITY ladder — [[modularity]] scored along
    * ONE synchronous-LPA trajectory instead of re-running the loop per
    * depth (scoring depths {3, 6} separately pays 3+6 relabel rounds;
    * the ladder pays max(depths)). One row per requested depth,
    * (rounds, two_m, n_communities, modularity), with the identical
    * exact-operand arithmetic as [[modularity]] (the ONE double
    * division happens on exact DECIMAL/BIGINT operands, so both engines
    * round identically). The instrument that pairs with
    * [[labelPropQualityGated]]: the actor ships argmax-Q, the ladder is
    * how a user reads WHERE the peak sits and how sharp it is.
    */
  def labelPropQualityLadder(nodes: DataFrame, edges: DataFrame,
                             depths: Seq[Int]): DataFrame = {
    require(depths.nonEmpty && depths.forall(_ >= 1),
      s"depths must be >= 1, got $depths")
    require(depths == depths.sorted && depths.distinct == depths,
      s"depths must be strictly increasing, got $depths")
    val sym = graft.CacheScope.pin(symmetrized(edges))
    val want = depths.toSet
    var cur = nodes.select(col("node"), col("node").as("label"))
      .localCheckpoint(false)
    val out = scala.collection.mutable.Buffer.empty[(Int, DataFrame)]
    for (r <- 1 to depths.max) {
      val next = relabel(sym, cur)
        .select(col("node"),
          coalesce(col("nb_label"), col("label")).as("label"))
        .localCheckpoint(false)
      next.count() // materialize this round's checkpoint
      if (want(r)) out += ((r, next))
      // free the superseded frame unless it is itself a tapped depth
      if (!out.exists(_._2 eq cur)) graft.unpersistCheckpoint(cur)
      cur = next
    }
    // tapped checkpoints stay pinned: the returned lazy plan reads them
    out.map { case (r, lab) =>
      modularity(lab, sym, edgesSymmetrized = true)
        .select(lit(r).as("rounds"), col("two_m"),
          col("n_communities"), col("modularity"))
    }.reduce(_ unionByName _).orderBy("rounds")
  }

  /** ONE synchronous-LPA trajectory, every round tapped — (round, node,
    * label) for rounds 0..`maxRounds` (round 0 is the identity
    * labeling). The materialization behind the r16 community-family
    * consolidation: q_communities, the residual ladder, the
    * convergence gate, the quality ladder, and the quality-plateau
    * gate each used to unroll their OWN trajectory of the SAME graph —
    * five runs of identical rounds. The trajectory is a pure integer
    * function of the graph (the shared [[relabel]] kernel), so every
    * instrument is a cheap projection/aggregate of this one relation:
    * labels at depth d ARE `labelPropagate(d)`, consecutive-round
    * diffs ARE the residual ladder, per-round quality numerators ARE
    * the gate's decisions — all bit-exact, proven operator-vs-consumer
    * in GraphSpec. In production this is the registry pattern: compute
    * the trajectory once per graph snapshot, let every read tap it.
    *
    * Scale: maxRounds+1 tapped checkpoints of |V|-row labelings (the
    * loop itself is the plain lpaLoop cost); the result unions them,
    * so persist it (the callers go through a materialized table).
    */
  def labelPropTrajectory(nodes: DataFrame, edges: DataFrame,
                          maxRounds: Int): DataFrame = {
    require(maxRounds >= 1, s"need at least one round, got $maxRounds")
    val sym = graft.CacheScope.pin(symmetrized(edges))
    var cur = nodes.select(col("node"), col("node").as("label"))
      .localCheckpoint(false)
    val taps = scala.collection.mutable.Buffer((0, cur))
    for (r <- 1 to maxRounds) {
      val next = relabel(sym, cur)
        .select(col("node"),
          coalesce(col("nb_label"), col("label")).as("label"))
        .localCheckpoint(false)
      next.count() // materialize this round's checkpoint
      taps += ((r, next))
      cur = next
    }
    taps.map { case (r, lab) =>
      lab.select(lit(r).as("round"), col("node"), col("label"))
    }.reduce(_ unionAll _)
  }

  /** [[labelPropResidual]] read off a [[labelPropTrajectory]]: the
    * per-round changed-label counts for rounds 1..`rounds` are the
    * consecutive-round diffs of the trajectory — one self-join on
    * (node, adjacent rounds), one combinable count. Bit-equal to the
    * live instrument (GraphSpec proves operator == consumer).
    */
  def residualFromTrajectory(trajectory: DataFrame,
                             rounds: Int): DataFrame =
    trajectory.filter(col("round") between(1, rounds))
      .join(trajectory
        .select((col("round") + 1).as("round"), col("node"),
          col("label").as("_prev")), Seq("round", "node"))
      .groupBy("round")
      .agg(sum(when(col("label") =!= col("_prev"), 1L).otherwise(0L))
        .as("n_changed"))
      .select(col("round").cast("int").as("round"), col("n_changed"))

  /** [[labelPropConverged]] read off a [[labelPropTrajectory]]: the
    * stop round is the FIRST zero-change round (else `maxRounds`) —
    * replayed from the residual diffs, a bounded collect — and the
    * shipped labels are the trajectory's tap at that round (identical
    * by sync-LPA idempotence, the live operator's own argument).
    */
  def convergedFromTrajectory(trajectory: DataFrame,
                              maxRounds: Int): DataFrame = {
    val diffs = residualFromTrajectory(trajectory, maxRounds)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    require((1 to maxRounds).forall(diffs.contains),
      s"trajectory must cover rounds 1..$maxRounds, has ${diffs.keys.toSeq.sorted}")
    val taken = (1 to maxRounds).find(r => diffs(r) == 0L).getOrElse(maxRounds)
    trajectory.filter(col("round") === taken)
      .select(col("node"), col("label"), lit(taken).as("rounds"))
  }

  /** [[labelPropQualityGated]] read off a [[labelPropTrajectory]]: the
    * per-round exact DECIMAL quality numerators for rounds
    * 1..`maxRounds` come out of ONE pass (symmetrized edges joined to
    * the trajectory on (endpoint, round) — |E|·rounds rows through two
    * combinable aggregates, instead of the live loop's one aggregate
    * per round), the plateau stop and argmax selection replay from the
    * collected ≤ maxRounds-row ladder exactly as the live loop decides
    * them (strict improvement, earliest round on exact ties, stop at
    * `patience` consecutive non-improvements), and the shipped labels
    * are the trajectory's tap at the selected round.
    */
  def qualityGatedFromTrajectory(trajectory: DataFrame, edges: DataFrame,
                                 maxRounds: Int,
                                 patience: Int = 0): DataFrame = {
    require(maxRounds >= 1, s"need at least one round, got $maxRounds")
    require(patience >= 0, s"patience must be >= 0, got $patience")
    val sym = symmetrized(edges)
    val la = trajectory.filter(col("round") between(1, maxRounds))
      .select(col("round"), col("node").as("src"), col("label").as("_la"))
    val lb = trajectory.filter(col("round") between(1, maxRounds))
      .select(col("round"), col("node").as("dst"), col("label").as("_lb"))
    // the modularityParts arithmetic verbatim, grouped by round — the
    // trajectory labelings are FULL by construction, so the inner
    // joins are the left-join + raise_error guard's happy path
    val perRC = sym.join(la, Seq("src")).join(lb, Seq("dst", "round"))
      .groupBy(col("round"), col("_la").as("label"))
      .agg(sum(when(col("_la") === col("_lb"), col("weight"))
        .otherwise(lit(0L))).as("in_c"),
        sum(col("weight")).as("tot_c"))
    val nums = perRC.groupBy("round")
      .agg((coalesce(sum(col("in_c")), lit(0L)).cast(Dec38) *
        coalesce(sum(col("tot_c")), lit(0L)).cast(Dec38) -
        coalesce(sum(col("tot_c").cast(Dec38) * col("tot_c").cast(Dec38)),
          lit(0L).cast(Dec38))).as("q_num"))
      .collect().map(r => r.getInt(0) -> r.getDecimal(1)).toMap
    require((1 to maxRounds).forall(nums.contains),
      s"trajectory must cover rounds 1..$maxRounds, has ${nums.keys.toSeq.sorted}")
    var best: java.math.BigDecimal = null
    var bestRound = 0
    var r = 0
    var plateaued = false
    while (r < maxRounds && !plateaued) {
      r += 1
      val num = nums(r)
      if (best == null || num.compareTo(best) > 0) {
        best = num
        bestRound = r
      }
      if (patience > 0 && r - bestRound >= patience) plateaued = true
    }
    trajectory.filter(col("round") === bestRound)
      .select(col("node"), col("label"), lit(bestRound).as("rounds"))
  }

  /** [[labelPropQualityLadder]] read off a [[labelPropTrajectory]]:
    * score the tapped depths with the shared [[modularity]] aggregate
    * (symmetrize-and-pin once) — identical output, no relabel rounds.
    */
  def qualityLadderFromTrajectory(trajectory: DataFrame, edges: DataFrame,
                                  depths: Seq[Int]): DataFrame = {
    require(depths.nonEmpty && depths.forall(_ >= 1),
      s"depths must be >= 1, got $depths")
    require(depths == depths.sorted && depths.distinct == depths,
      s"depths must be strictly increasing, got $depths")
    val sym = graft.CacheScope.pin(symmetrized(edges))
    depths.map { d =>
      modularity(trajectory.filter(col("round") === d)
        .select(col("node"), col("label")), sym, edgesSymmetrized = true)
        .select(lit(d).as("rounds"), col("two_m"),
          col("n_communities"), col("modularity"))
    }.reduce(_ unionByName _).orderBy("rounds")
  }

  /** WARM-START label propagation — continue synchronous rounds from a
    * committed (node, label) state instead of the identity labeling.
    * The loop's entire state IS the labeling, so the trajectory
    * composes exactly: from(cold(k1), k2) == cold(k1 + k2) on unchanged
    * edges (the [[linkRankFrom]] contract at the community family);
    * after an edge delta it re-settles from the previous labeling
    * instead of from scratch — the steady-state maintenance shape,
    * where a 100 TB graph's labeling costs k1 rounds ONCE and each
    * refresh pays only the incremental rounds. Nodes present in
    * `nodes` but absent from `state` (new nodes) start at their own id.
    */
  def labelPropFrom(state: DataFrame, nodes: DataFrame, edges: DataFrame,
                    rounds: Int = 2): DataFrame = {
    val init = nodes.select(col("node"))
      .join(state.select(col("node"), col("label")), Seq("node"), "left")
      .select(col("node"), coalesce(col("label"), col("node")).as("label"))
    lpaLoop(nodes, edges, rounds, stopOnStable = false, residuals = None,
      init = Some(init))._1
  }

  /** Build-and-commit the community labeling as a versioned Manifest
    * snapshot (the [[authorityRefresh]] idiom). Returns the version. */
  def communityRefresh(nodes: DataFrame, edges: DataFrame, table: String,
                       rounds: Int = 3): Int =
    graft.io.Manifest.write(labelPropagate(nodes, edges, rounds), table)

  /** Registry MAINTENANCE — warm-continue the committed labeling through
    * `rounds` more synchronous rounds over the CURRENT edge table and
    * commit the next version ([[authorityUpdate]]'s contract: unchanged
    * edges advance the cold trajectory exactly; an edge delta
    * re-settles from the previous labeling). Returns the new version. */
  def communityUpdate(nodes: DataFrame, edges: DataFrame, table: String,
                      rounds: Int = 1): Int = {
    val spark = nodes.sparkSession
    graft.io.Manifest.write(
      labelPropFrom(graft.io.Manifest.read(spark, table), nodes, edges,
        rounds), table)
  }

  /** [[lpaLoop]] with the final CHECKPOINTED frame exposed, for callers
    * that discard the labeling and must free its blocks. */
  private def lpaLoopCk(nodes: DataFrame, edges: DataFrame, maxRounds: Int,
                        stopOnStable: Boolean,
                        residuals: Option[scala.collection.mutable.Buffer[Long]])
      : (DataFrame, DataFrame, Int) = lpaLoopImpl(nodes, edges, maxRounds,
    stopOnStable, residuals)

  private def lpaLoop(nodes: DataFrame, edges: DataFrame, maxRounds: Int,
                      stopOnStable: Boolean,
                      residuals: Option[scala.collection.mutable.Buffer[Long]],
                      init: Option[DataFrame] = None)
      : (DataFrame, Int) = {
    val (labels, _, taken) = lpaLoopImpl(nodes, edges, maxRounds,
      stopOnStable, residuals, init)
    (labels, taken)
  }

  /** The undirected weighted view every community operator shares:
    * self-loops dropped, both directions emitted, parallel edges merged
    * by weight sum — (src, dst, weight) with each undirected edge
    * appearing once per direction.
    *
    * Partitioned by `src` BEFORE the pin: every iterative consumer joins
    * this table on `src` once per round (LPA) or per sub-step
    * (semi-sync, 72 times at the bench budget), and a cached relation's
    * partitioning is reused by the join — one build-time shuffle buys a
    * shuffle-free big side for the whole loop. At sf0.1 the measured
    * gain is modest (~7% on the semisync loop — per-stage dispatch
    * latency dominates at that scale); the term it removes is the one
    * that GROWS with the graph, |E| shuffled per round, which is what
    * matters at the 100 TB target.
    */
  def symmetrized(edges: DataFrame): DataFrame =
    edges.filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"), col("weight"))
      .unionAll(edges.filter(col("src") =!= col("dst"))
        .select(col("dst").as("src"), col("src").as("dst"), col("weight")))
      .groupBy("src", "dst").agg(sum("weight").as("weight"))
      .repartition(col("src"))

  /** Newman MODULARITY of a labeling over the weighted undirected graph
    * (Newman & Girvan 2004): Q = Σ_c ( in_c/2m − (tot_c/2m)² ), where
    * 2m is the total symmetrized weight, in_c the symmetrized weight
    * inside community c, and tot_c the total degree weight of c — the
    * community-QUALITY instrument that makes "did the labeling improve"
    * a measured claim instead of a hope (an oscillating sync-LPA
    * labeling scores NEGATIVE — worse than one blob — which is exactly
    * what the residual plateau warns about; GraphSpec pins this on the
    * bipartite fixture).
    *
    * Determinism/oracle: every aggregate is an exact integer (or
    * DECIMAL(38,0) for the products — in_c·2m and tot_c² square a total
    * that can pass 2^63 at corpus scale), combinable and
    * order-independent; the ONE division to double happens at the very
    * end on exact operands, so both engines round identically (the
    * house no-unordered-double-sums rule). Cost: two joins of the edge
    * table against the labeling + two combinable aggregates — no
    * iteration, no windows.
    *
    * Output: 1 row (two_m, n_communities, modularity) — modularity NULL
    * on an edgeless graph (2m = 0: undefined, not 0).
    *
    * `edgesSymmetrized = true` declares `edges` ALREADY in the
    * [[symmetrized]] form (both directions, merged weights, no self
    * loops) and skips the rebuild — for callers scoring several
    * labelings of one graph, who should symmetrize-and-pin once
    * (symmetrizing a symmetric table would double every weight, so the
    * flag is explicit, never inferred).
    *
    * `labels` must be a FULL labeling — every edge endpoint resolves a
    * label — and that contract is ENFORCED in-expression (raise_error
    * on the first unlabeled endpoint): a partial labeling would
    * otherwise silently score only the induced subgraph with a shrunken
    * 2m. Isolated nodes may be absent (no edge reads their label; they
    * still count toward n_communities only if present).
    */
  def modularity(labels: DataFrame, edges: DataFrame,
                 edgesSymmetrized: Boolean = false): DataFrame = {
    val sym = if (edgesSymmetrized) edges else symmetrized(edges)
    modularityParts(labels, sym)
      .select(
        col("two_m"),
        col("n_communities"),
        when(col("two_m") > 0,
          col("q_num").cast("double") /
            (col("two_m").cast(Dec38) * col("two_m").cast(Dec38))
              .cast("double"))
          .as("modularity"))
  }

  private val Dec38 = "decimal(38,0)"

  /** The exact 1-row quality aggregate behind [[modularity]] and
    * [[labelPropQualityGated]]: (in_all, two_m, tot_sq, q_num,
    * n_communities) over an ALREADY-symmetrized edge table. `q_num` =
    * in_all·2m − Σ tot_c² in DECIMAL(38,0) — every round of one graph
    * shares the (2m)² denominator, so comparing q_num IS comparing Q
    * exactly, with no double anywhere in the decision.
    */
  private def modularityParts(labels: DataFrame, sym: DataFrame): DataFrame = {
    val l = labels.select(col("node"), col("label"))
    // FULL-labeling contract enforced in-expression (r14 ADVICE): with
    // inner joins a partial labeling would silently score the induced
    // subgraph (2m shrinks and the caller never learns); the left join +
    // raise_error rider fails loudly on the first unlabeled endpoint and
    // costs nothing on the always-full labelings the operators pass.
    def req(endpoint: String,
            label: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      coalesce(label, raise_error(format_string(
        "modularity needs a FULL labeling: edge endpoint %d has no label",
        col(endpoint))).cast("long"))
    val labeled = sym
      .join(l.select(col("node").as("src"), col("label").as("_la")),
        Seq("src"), "left")
      .join(l.select(col("node").as("dst"), col("label").as("_lb")),
        Seq("dst"), "left")
      .select(col("weight"), req("src", col("_la")).as("_la"),
        req("dst", col("_lb")).as("_lb"))
    // per-community totals: in_c (same-label weight, both directions) and
    // tot_c (degree weight) fall out of ONE pass over the labeled edges
    val perC = labeled
      .groupBy(col("_la").as("label"))
      .agg(sum(when(col("_la") === col("_lb"), col("weight"))
        .otherwise(lit(0L))).as("in_c"),
        sum(col("weight")).as("tot_c"))
    perC
      .agg(sum(col("in_c")).as("in_all"),
        coalesce(sum(col("tot_c")), lit(0L)).as("two_m"),
        coalesce(sum(col("tot_c").cast(Dec38) * col("tot_c").cast(Dec38)),
          lit(0L).cast(Dec38)).as("tot_sq"))
      .crossJoin(l.agg(countDistinct(col("label")).as("n_communities")))
      .select(col("in_all"), col("two_m"), col("tot_sq"),
        (coalesce(col("in_all"), lit(0L)).cast(Dec38) *
          col("two_m").cast(Dec38) - col("tot_sq")).as("q_num"),
        col("n_communities"))
  }

  /** `-label` with the non-negative-id contract enforced IN-expression:
    * raises on the first negative label instead of silently inverting
    * the smallest-label tie-break (and sidesteps the Long.MinValue
    * negation overflow). Rides the aggregate that uses it — no extra
    * validation job.
    */
  private def negLabel(label: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(label >= 0, -label)
      .otherwise(raise_error(format_string(
        "LPA labels must be non-negative node ids; got %d", label)).cast("long"))

  /** The ONE synchronous relabel kernel every LPA form shares — the
    * oracles must match this argmax bit-for-bit, so it exists exactly
    * once: neighbor-label weight totals over `edgeSlice`, argmax by
    * (weight DESC, label ASC) as one combinable max over (w, −label)
    * — labels are node ids ≥ 0, ENFORCED by [[negLabel]] inside the
    * aggregate (a negative id would silently invert the smallest-label
    * tie-break, and Long.MinValue negation overflows) — then the
    * coalesce carry for nodes the slice gave no neighbors. Extra
    * columns on `cur` (e.g. a `_prev` carry) pass through the join
    * untouched; the caller reselects.
    */
  private def relabel(edgeSlice: DataFrame, cur: DataFrame): DataFrame = {
    // ONE exchange per relabel (r18, guide §2.4): partition the joined
    // edges by dst ONCE — HashPartitioning(dst) satisfies the weight
    // aggregate's ClusteredDistribution(dst, label), the argmax's
    // ClusteredDistribution(dst), AND (as node) the carry join's key,
    // so the (dst,label)-agg → dst-argmax → node-join chain that
    // previously planned THREE exchanges per sub-step now plans none
    // beyond this. Trade: the shuffle carries raw labeled-edge rows
    // instead of (dst,label) partials — near-identical volume here
    // ((dst,label) pairs ≈ edges once parallel edges are merged, which
    // symmetrized already did). Measured at sf0.1/32c: semisync loop
    // jobs/round 17.5 → ~8, wall −40% (OPTIMIZATION_r18.md).
    val nb = edgeSlice
      .join(cur.select(col("node").as("src"), col("label")), "src")
      .repartition(col("dst"))
      .groupBy(col("dst"), col("label"))
      .agg(sum("weight").as("w"))
    val best = nb
      .groupBy(col("dst").as("node"))
      .agg(max(struct(col("w").as("w"), negLabel(col("label")).as("nl"))).as("b"))
      .select(col("node"), (-col("b.nl")).as("nb_label"))
    cur.join(best, Seq("node"), "left")
  }

  /** The synchronous LPA loop shared by the three public forms. The
    * per-round materializing action doubles as the changed-label count
    * (filter-count over the just-checkpointed 3-column frame), so the
    * residual instrument and the stop rule cost nothing beyond what
    * the plain operator already paid. Returns (labels projection,
    * final checkpointed frame, rounds taken).
    */
  private def lpaLoopImpl(nodes: DataFrame, edges: DataFrame, maxRounds: Int,
                          stopOnStable: Boolean,
                          residuals: Option[scala.collection.mutable.Buffer[Long]],
                          init: Option[DataFrame] = None)
      : (DataFrame, DataFrame, Int) = {
    require(maxRounds >= 1, s"need at least one round, got $maxRounds")
    val sym = graft.CacheScope.pin(symmetrized(edges))
    var ckpt = init
      .getOrElse(nodes.select(col("node"), col("node").as("label")))
      .select(col("node"), col("label"))
      .localCheckpoint(false)
    var labels = ckpt
    var r = 0
    var taken = 0
    var stable = false
    while (r < maxRounds && !stable) {
      val next3 = relabel(sym, labels)
        .select(col("node"),
          coalesce(col("nb_label"), col("label")).as("label"),
          col("label").as("_prev"))
        .localCheckpoint(false)
      // materialize + measure in one action
      val changed = next3.filter(col("label") =!= col("_prev")).count()
      residuals.foreach(_ += changed)
      graft.unpersistCheckpoint(ckpt)
      ckpt = next3
      labels = next3.select("node", "label")
      taken += 1
      if (stopOnStable && changed == 0L) stable = true
      r += 1
    }
    (labels, ckpt, taken)
  }

  /** Community detection by SEMI-SYNCHRONOUS label propagation — the
    * published remedy (Cordasco & Gargano 2010, "Community detection
    * via semi-synchronous label propagation algorithms") for the one
    * failure mode the synchronous form honestly instruments but cannot
    * fix: on dense / near-bipartite structure, simultaneous updates
    * trade labels forever ([[labelPropResidual]] measures the sf0.01
    * co-purchase fixture plateauing at ~1k changed labels per round).
    * The cure is to color the nodes and update ONE color class per
    * sub-step, so a node never updates simultaneously with the
    * neighbors it is reading — the two-sided swap that powers the
    * oscillation cannot happen between color classes. The guarantee
    * needs a PROPER coloring (no edge inside a class); a distributed
    * proper coloring is itself an iterative job, so the coloring here
    * is the cheap deterministic approximation `node % numColors`, and
    * the RESIDUAL LADDER is the certificate that the approximation
    * suffices: on the sf0.01 co-purchase fixture, `numColors = 2`
    * (parity) still leaves enough same-color edges to sustain a 3-node
    * limit cycle (the ladder plateaus at exactly 3 changed labels per
    * round, measured to round 36), `numColors = 5` reaches zero only at
    * round 20, while `numColors = 3` and `= 4` BOTH reach a zero-change
    * round at round 16 and stay there — so C=3 buys the same certified
    * stop for 25% fewer sequential sub-steps per round than C=4 (the
    * r15 retune). Pick C by reading the ladder, not by faith.
    *
    * Determinism: every sub-step is the same argmax-by-(weight DESC,
    * label ASC) integer tie-break as [[labelPropagate]], and the
    * sub-step ORDER (color 0 first, ascending) is fixed — the labeling
    * after any round count is a pure function of the graph, so the
    * oracle unrolls the same C sub-steps per round and matches
    * bit-for-bit. Per round the join volume equals ONE synchronous
    * round (each symmetrized edge feeds exactly the sub-step of its
    * head's color); the extra price is C-1 more aggregate+join
    * latencies per round.
    *
    * Stops at the first round that changes NO label (a full-round
    * fixpoint reproduces itself — both sub-steps are argmax-stable — so
    * the early stop equals the fixed unroll, the [[labelPropConverged]]
    * argument), else `maxRounds`.
    *
    * CONVERGENCE ≠ QUALITY — read [[modularity]] before trusting the
    * converged labeling: sequentializing the updates is also what lets
    * the largest label SWEEP a dense graph (the LPA literature's
    * monster-community epidemic, which the synchronous form's
    * simultaneous updates resist). Measured on the co-purchase
    * fixtures: the converged semisync labeling scores Q ≈ 0.007
    * (sf0.01, 48 communities) / 0.004 (sf0.1) — barely better than one
    * blob — where the UNconverged 6-round synchronous labeling scores
    * Q ≈ 0.297 / 0.299. The production recipe this pair of instruments
    * points at is budgeted synchronous rounds gated by modularity, with
    * semisync as the termination device only where the sweep does not
    * bite (sparse or well-separated graphs; the bipartite spec
    * fixture).
    *
    * Output: (node, label, rounds) — `rounds` constant: the first
    * zero-change round, else `maxRounds`.
    */
  def labelPropSemiSync(nodes: DataFrame, edges: DataFrame,
                        maxRounds: Int = 8,
                        numColors: Int = 2): DataFrame = {
    val (labels, taken) = semiLoop(nodes, edges, maxRounds,
      stopOnStable = true, residuals = None, numColors)
    labels.withColumn("rounds", lit(taken))
  }

  /** Per-round CHANGED-LABEL counts for [[labelPropSemiSync]] — the
    * residual ladder at the semi-synchronous family: one (round,
    * n_changed) row per round, counting nodes whose label after ALL
    * numColors sub-steps differs from the round start. This is the
    * instrument that certifies both the semi-sync claim AND the color
    * count: on the fixture where the synchronous ladder plateaus at
    * ~1k, parity (C=2) plateaus at 3 and C=4 reaches a zero row. Free
    * at the operator's own cost (the count rides each round's
    * materializing action).
    */
  def labelPropSemiSyncResidual(nodes: DataFrame, edges: DataFrame,
                                rounds: Int = 8,
                                numColors: Int = 2): DataFrame = {
    val spark = nodes.sparkSession
    val buf = scala.collection.mutable.Buffer.empty[Long]
    val (_, finalCkpt, _) = semiLoopImpl(nodes, edges, rounds,
      stopOnStable = false, residuals = Some(buf), numColors)
    graft.unpersistCheckpoint(finalCkpt)
    import spark.implicits._
    buf.toSeq.zipWithIndex.map { case (n, i) => (i + 1, n) }
      .toDF("round", "n_changed")
  }

  private def semiLoop(nodes: DataFrame, edges: DataFrame, maxRounds: Int,
                       stopOnStable: Boolean,
                       residuals: Option[scala.collection.mutable.Buffer[Long]],
                       numColors: Int = 2)
      : (DataFrame, Int) = {
    val (labels, _, taken) = semiLoopImpl(nodes, edges, maxRounds,
      stopOnStable, residuals, numColors)
    (labels, taken)
  }

  /** The semi-synchronous loop: per round, sub-step c (for c = 0 ..
    * numColors-1 in order) re-labels the nodes with `node % numColors
    * == c` from the partially-updated labeling the previous sub-steps
    * left. The edge filter (`dst % numColors`) sits UNDER the label
    * join, so each sub-step shuffles only its color's incident edges
    * and a full round moves the same join volume as one synchronous
    * round. Sub-step state is lazily checkpointed and the round's
    * single count action materializes the chain; previous-round and
    * intermediate sub-step blocks are freed as soon as the round lands.
    */
  private def semiLoopImpl(nodes: DataFrame, edges: DataFrame, maxRounds: Int,
                           stopOnStable: Boolean,
                           residuals: Option[scala.collection.mutable.Buffer[Long]],
                           numColors: Int = 2)
      : (DataFrame, DataFrame, Int) = {
    require(maxRounds >= 1, s"need at least one round, got $maxRounds")
    require(numColors >= 2, s"need at least two colors, got $numColors")
    val sym = graft.CacheScope.pin(symmetrized(edges))
    // per-color edge SLICES pinned once over the pinned base (r18):
    // every round's sub-step c previously re-read and re-filtered the
    // FULL pinned edge table — C·rounds cached scans of |E| rows each;
    // the slice pins make that rounds·|E|/C per color (one base read
    // per slice at materialization). Costs a second |E| of cache — the
    // slices partition the base — which is the same trade the loop
    // already makes per checkpointed round frame.
    val symC = (0 until numColors).map(c =>
      graft.CacheScope.pin(sym.filter(col("dst") % numColors === c)))
    // one color class recomputes its argmax from `cur` via the shared
    // [[relabel]] kernel; `best` carries only that color's nodes, so
    // the coalesce is the carry for the rest
    def substep(cur: DataFrame, color: Int): DataFrame =
      relabel(symC(color), cur)
        .select(col("node"),
          coalesce(col("nb_label"), col("label")).as("label"),
          col("_prev"))
    var ckpt = nodes.select(col("node"), col("node").as("label"))
      .localCheckpoint(false)
    var labels = ckpt
    var r = 0
    var taken = 0
    var stable = false
    while (r < maxRounds && !stable) {
      val start = ckpt.select(col("node"), col("label"),
        col("label").as("_prev"))
      // per-sub-step lazy checkpoints, materialized by the ONE round-end
      // count: keeping each sub-step's plan shallow beats chaining the C
      // relabels into one deep per-round plan (measured sf0.1: the
      // chained variant DOUBLES the round cost — optimizer + codegen on
      // the deep join tree outweigh the per-sub-step planning passes)
      val partials = scala.collection.mutable.Buffer.empty[DataFrame]
      var cur = start
      for (c <- 0 until numColors) {
        cur = substep(cur, c).localCheckpoint(false)
        partials += cur
      }
      val next3 = cur
      val changed = next3.filter(col("label") =!= col("_prev")).count()
      residuals.foreach(_ += changed)
      graft.unpersistCheckpoint(ckpt)
      partials.dropRight(1).foreach(graft.unpersistCheckpoint)
      ckpt = next3
      labels = next3.select("node", "label")
      taken += 1
      if (stopOnStable && changed == 0L) stable = true
      r += 1
    }
    (labels, ckpt, taken)
  }

  /** k-core membership by iterative peeling (Seidman 1983, "Network
    * structure and minimum degree"): repeatedly delete nodes whose
    * degree in the SURVIVING undirected simple graph is below `k`,
    * until stable or `maxRounds` peels. The k-core is the standard
    * "dense enough to matter" mask over a link graph — spam farms and
    * boilerplate rings sit in high cores while organic long-tail pages
    * peel away — and the iterative cascade is exactly what a one-shot
    * degree filter misses (removing leaves exposes new leaves).
    *
    * Peeling is MONOTONE and idempotent at the fixpoint: once a round
    * deletes nothing, every further round deletes nothing. So the
    * early-stopped loop equals the oracle's fixed `maxRounds` unroll
    * bit-for-bit, converged or not — no stop decision to replay (the
    * [[hopDistance]] argument). Per round: one combinable degree count
    * + two semi joins, linear in surviving edges; round state is one
    * (u, v) row per surviving edge, checkpointed and freed like every
    * loop here.
    *
    * Output: (node, degree) for nodes surviving all peels, with their
    * residual degree — at the fixpoint every residual degree ≥ k.
    */
  def kcore(nodes: DataFrame, edges: DataFrame, k: Int,
            maxRounds: Int = 8): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxRounds >= 1, s"need at least one peel, got $maxRounds")
    var und = edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct()
      .join(nodes.select(col("node").as("u")), Seq("u"), "semi")
      .join(nodes.select(col("node").as("v")), Seq("v"), "semi")
      .select("u", "v")
      .localCheckpoint(false)
    var edgeCount = und.count()
    var round = 0
    var stable = edgeCount == 0L
    while (round < maxRounds && !stable) {
      val deg = und.select(col("u").as("node"))
        .unionAll(und.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("degree"))
      val keep = deg.filter(col("degree") >= k)
      val next = und
        .join(keep.select(col("node").as("u")), Seq("u"), "semi")
        .join(keep.select(col("node").as("v")), Seq("v"), "semi")
        .select("u", "v")
        .localCheckpoint(false)
      val nextCount = next.count()
      if (nextCount == edgeCount) { stable = true; graft.unpersistCheckpoint(next) }
      else {
        graft.unpersistCheckpoint(und)
        und = next
        edgeCount = nextCount
      }
      round += 1
    }
    und.select(col("u").as("node"))
      .unionAll(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
      .filter(col("degree") >= k)
  }

  private def iterate(nodeTbl: DataFrame, edges: DataFrame,
                      init: DataFrame, iters: Int, base: Long,
                      dampNum: Long, dampDen: Long,
                      residuals: Option[scala.collection.mutable.Buffer[(Long, Long)]] = None): DataFrame =
    iterateCounted(nodeTbl, edges, init, iters, base, dampNum, dampDen,
      residuals)._1

  /** The shared round loop. `nodeTbl` is (node, is_seed) — already
    * pinned by the caller; teleport and the dangling pool flow only to
    * seed rows (`is_seed` all-true degenerates to uniform [[linkRank]]).
    * With `residuals` set, each round also appends (max |Δmass|,
    * count of changed nodes) vs the previous round's state — one
    * combinable aggregate over the two checkpointed states
    * ([[linkRankResidual]]'s instrumentation). With `stopTol` set, the
    * loop breaks as soon as that residual is ≤ the tolerance
    * ([[linkRankConverged]]'s gate; either option forces the per-round
    * aggregate, neither adds a shuffle). Returns (final state, rounds
    * taken).
    */
  private def iterateCounted(nodeTbl: DataFrame, edges: DataFrame,
                      init: DataFrame, iters: Int, base: Long,
                      dampNum: Long, dampDen: Long,
                      residuals: Option[scala.collection.mutable.Buffer[(Long, Long)]] = None,
                      stopTol: Option[Long] = None,
                      taps: Option[scala.collection.mutable.Buffer[(Int, DataFrame)]] = None): (DataFrame, Int) = {
    require(iters >= 1, s"need at least one round, got $iters")
    require(dampNum >= 0 && dampNum <= dampDen && dampDen > 0,
      s"damping must satisfy 0 <= dampNum <= dampDen, got $dampNum/$dampDen")
    require(base > 0, s"base mass must be positive, got $base")
    // one setup job for both counts (r17; was two driver actions —
    // each is a full job-latency at local scale, and the node table is
    // pinned so the second scan bought nothing)
    val nRow = nodeTbl.agg(count(lit(1)).as("n"),
      count(when(col("is_seed"), lit(1))).as("s")).first()
    val (nNodes, nSeeds) = (nRow.getLong(0), nRow.getLong(1))
    require(nNodes > 0, "empty node set")
    require(nSeeds > 0, "empty teleport target set")
    // conserved-total overflow guard (object doc): every mass is bounded
    // by n·base + n·teleport ≤ 2·n·base, so the damped sum stays in Long
    // when dampNum · 2 · n · base < 2^63.
    require(BigInt(dampNum) * 2 * BigInt(nNodes) * BigInt(base) <
      BigInt(Long.MaxValue),
      s"dampNum*2*n*base overflows Long: n=$nNodes base=$base")
    // partitioned by the per-round join key BEFORE the pin: the loop
    // joins this table on `src` every round, and a cached relation's
    // partitioning is reused — one build-time shuffle, zero per-round
    // edge shuffles (the symmetrized() note)
    val edgeTbl = graft.CacheScope.pin(
      edges.select(col("src"), col("dst"), col("weight"))
        .repartition(col("src")))
    // share-expression overflow guard (object doc): `mass * weight` with
    // mass <= 2*n*base needs 2*n*base*max(weight) < 2^63. One combinable
    // max over the already-pinned edge table — textRank feeds corpus-scale
    // pair COUNTS as weights, so this bound is reachable, not theoretical.
    // The bound is deliberately JOINTLY-PESSIMISTIC (it assumes one node
    // holds ~all conserved mass AND owns the max-weight edge) — a run it
    // rejects may have been numerically fine, but the failure mode it
    // prevents is a silent negative-mass wrap, so the guard errs loud.
    // The remedy it names is always available and exact: rank is
    // invariant to a uniform integer rescale of edge weights (and to
    // lowering base), so divide weights by a common factor and re-run.
    val maxW = edgeTbl.agg(coalesce(max("weight"), lit(0L)))
      .first().getLong(0)
    require(BigInt(2) * BigInt(nNodes) * BigInt(base) * BigInt(maxW) <
      BigInt(Long.MaxValue),
      s"2*n*base*maxWeight overflows Long in the share expression: " +
        s"n=$nNodes base=$base maxWeight=$maxW — lower base or rescale " +
        "edge weights (rank is invariant to a uniform weight rescale)")
    val outW = graft.CacheScope.pin(
      edgeTbl.groupBy("src").agg(sum("weight").as("w_out")))
    val teleport = (dampDen - dampNum) * base / dampDen
    var mass = init.localCheckpoint(false)
    taps.foreach(_ += ((0, mass)))
    var round = 0
    var converged = false
    while (round < iters && !converged) {
      val inMass = edgeTbl
        .join(mass.withColumnRenamed("node", "src"), "src")
        .join(outW, "src")
        .select(col("dst").as("node"),
          expr("(mass * weight) div w_out").as("share"))
        .groupBy("node").agg(sum("share").as("in_mass"))
      val dangRow = mass
        .join(outW, mass("node") === outW("src"), "left_anti")
        .agg(coalesce(sum("mass"), lit(0L)).as("dang_total"))
      val next = nodeTbl
        .join(inMass, Seq("node"), "left")
        .crossJoin(broadcast(dangRow))
        .select(col("node"),
          expr(s"(CASE WHEN is_seed THEN ${teleport}L ELSE 0L END) + " +
            s"($dampNum * (coalesce(in_mass, 0L) + " +
            s"(CASE WHEN is_seed THEN dang_total div ${nSeeds}L " +
            s"ELSE 0L END))) div $dampDen").as("mass"))
        .localCheckpoint(false)
      // materialize the round, then free the superseded state's blocks
      // (Dataset.unpersist is a no-op on localCheckpoint blocks — the
      // clusterComponents lifecycle note applies verbatim).
      next.count()
      if (residuals.isDefined || stopTol.isDefined) {
        val r = next
          .join(mass.withColumnRenamed("mass", "prev_mass"), "node")
          .agg(coalesce(max(abs(col("mass") - col("prev_mass"))), lit(0L))
            .as("d"),
            count(when(col("mass") =!= col("prev_mass"), 1)).as("n"))
          .first()
        residuals.foreach(_ += ((r.getLong(0), r.getLong(1))))
        if (stopTol.exists(r.getLong(0) <= _)) converged = true
      }
      // a tapped trajectory keeps every round's frame alive (the
      // returned view reads them); the plain path frees superseded state
      if (taps.isEmpty) graft.unpersistCheckpoint(mass)
      mass = next
      round += 1
      taps.foreach(_ += ((round, next)))
    }
    (mass, round)
  }
}
