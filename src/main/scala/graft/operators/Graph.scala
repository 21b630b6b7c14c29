package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Link-graph authority scoring (SURVEY.md §2 S) — the URL/domain
  * quality-weighting step of a web-corpus pipeline (CommonCrawl-style
  * harmonic/PageRank centrality feeding crawl prioritization and
  * per-domain quality priors; Page et al. 1999).
  *
  * Exact integer arithmetic throughout (the §7.5.15 contract): ranks
  * live on a 2^20 fixed-point grid, the damping factor is the rational
  * `dampNum/dampDen`, and every division is a floor division over
  * NONNEGATIVE longs — so Spark's `div`, Java's `floorDiv` and
  * DuckDB's `//` all agree, the iteration is partition-order-free, and
  * the DuckDB oracle replays the whole power iteration in unrolled
  * CTEs (the K6/Q18 posture). Dangling nodes (no out-links) leak their
  * mass — the standard simplification; they still RECEIVE rank.
  *
  * Shuffle economics per iteration: ranks ⋈ out-degrees is node-keyed,
  * then ONE exchange keys contributions by edge source and ONE
  * aggregates them by destination — 2 exchanges per iteration, edges
  * materialized once up front (`localCheckpoint`) instead of re-read
  * from source every round. At cluster scale pre-partition the edge
  * table by `src` once (bucketed write) and every iteration's first
  * exchange disappears; the rank frame is ∝ nodes, orders of magnitude
  * smaller than the edge list it never re-scans.
  */
object Graph {

  /** When one of the loops below stops. */
  private sealed trait Stop

  /** After exactly `n` rounds — the gate/oracle contract (an
    * unrolled-CTE oracle needs a static round count). */
  private final case class Rounds(n: Int) extends Stop { require(n >= 1) }

  /** At the first round whose move (the algorithm's measure of how far
    * a round moved its frame, in `unit`) is ≤ `tol`. LOUD once
    * `maxIters` rounds have not got there: an operator that silently
    * returns an unconverged answer is a wrong-answer machine, and
    * `hint` says which failure mode to suspect. A converged result
    * equals the fixed-round form run for the same number of rounds
    * (spec-asserted): both run the same loop body. */
  private final case class Converged(
      tol: Long, maxIters: Int, op: String, unit: String, hint: String) extends Stop {
    require(tol >= 0 && maxIters >= 1)
  }

  /** The one loop: `step` maps a round's frame to the next,
    * materialized. Under [[Converged]], `move` aggregates over each
    * node's row of the next frame joined to its previous-round columns
    * (renamed `prev_<col>`) — one node-keyed join of two checkpointed
    * ∝nodes frames plus a 1-row aggregate, noise next to the round's
    * own exchanges. */
  private def run(init: DataFrame, stop: Stop)(
      step: DataFrame => DataFrame, move: Column): DataFrame = stop match {
    case Rounds(n) => (1 to n).foldLeft(init)((cur, _) => step(cur))
    case Converged(tol, maxIters, op, unit, hint) =>
      var cur = init
      var t = 0
      var delta = Long.MaxValue
      while (delta > tol) {
        require(t < maxIters,
          s"$op: a round still moved $delta $unit (tol $tol) after $maxIters rounds — $hint")
        val next = step(cur)
        val prev = cur.select(cur.columns.toSeq.map(c =>
          if (c == "node") col(c) else col(c).as(s"prev_$c")): _*)
        delta = next.join(prev, "node").agg(coalesce(move, lit(0L))).head().getLong(0)
        cur = next
        t += 1
      }
      cur
  }

  /** The (src, dst) long edge list every algorithm iterates over,
    * checkpointed by default: it is re-joined every round, so the
    * source is scanned once. */
  private def edgeList(
      edges: DataFrame, srcCol: String, dstCol: String,
      checkpoint: Boolean = true): DataFrame = {
    val e = edges.select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
    if (checkpoint) e.localCheckpoint() else e
  }

  /** Every node that an edge touches, checkpointed: the left side of
    * every round's rebuild. */
  private def nodesOf(e: DataFrame): DataFrame =
    e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .localCheckpoint()

  /** Power-iteration PageRank over an edge list. Returns one row per
    * node: (node, rank) with rank on the `scale` fixed-point grid
    * (a node with no in-links holds the `(1−d)·scale` base). */
  def pageRank(
      edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 3, scale: Long = 1L << 20,
      dampNum: Long = 17, dampDen: Long = 20): DataFrame =
    pageRankRun(Rounds(iters), scale, dampNum, dampDen)(edgeList(edges, srcCol, dstCol))

  /** [[pageRank]] over a `src`-BUCKETED edge table
    * ([[graft.sources.Writers.bucketedTable]]) — the cluster-scale
    * posture the fixed-iter doc promises, made real: the edge frame is
    * deliberately NOT checkpointed (a checkpoint erases the table's
    * bucketing `outputPartitioning`), so every iteration's rank⋈edge
    * join co-locates on the bucket layout in place and the
    * EDGE-PROPORTIONAL exchange disappears from every round — only the
    * ∝nodes share frame shuffles to match the buckets
    * (GraphBucketingSpec proves the one-fewer-exchange plan). The
    * trade: each round re-scans the bucketed parquet instead of a
    * checkpoint — exactly right when edges dwarf memory (the 100 TB
    * case), wrong for toy graphs (use [[pageRank]]). */
  def pageRankBucketed(
      spark: org.apache.spark.sql.SparkSession, edgeTable: String,
      srcCol: String, dstCol: String,
      iters: Int = 3, scale: Long = 1L << 20,
      dampNum: Long = 17, dampDen: Long = 20): DataFrame =
    pageRankRun(Rounds(iters), scale, dampNum, dampDen)(
      edgeList(spark.table(edgeTable), srcCol, dstCol, checkpoint = false))

  /** [[pageRank]] run to a FIXED POINT instead of a fixed round count
    * — what a production link-graph job actually does (Page 1999 §2.6
    * iterates to tolerance). Stops when the largest per-node rank
    * move of a round is ≤ `tol` grid units, loudly at `maxIters`;
    * damping < 1 contracts the iteration, so failing there only means
    * tol/maxIters were mis-sized. */
  def pageRankConverged(
      edges: DataFrame, srcCol: String, dstCol: String,
      tol: Long = 1L << 8, maxIters: Int = 50, scale: Long = 1L << 20,
      dampNum: Long = 17, dampDen: Long = 20): DataFrame =
    pageRankRun(
      Converged(tol, maxIters, "pageRankConverged", "grid units",
        "raise maxIters or tol (damping contracts, so this is a sizing problem, not divergence)"),
      scale, dampNum, dampDen)(edgeList(edges, srcCol, dstCol))

  // `edges` by name: the parameters are checked before the edge
  // checkpoint runs a job
  private def pageRankRun(stop: Stop, scale: Long, dampNum: Long, dampDen: Long)(
      edges: => DataFrame): DataFrame = {
    require(dampNum > 0 && dampNum < dampDen && scale > 0)
    val e = edges
    val nodes = nodesOf(e)
    val outDeg = e.groupBy("src").agg(count(lit(1)).as("out_c"))
      .localCheckpoint()
    val base = Math.floorDiv((dampDen - dampNum) * scale, dampDen)
    run(nodes.withColumn("rank", lit(scale)), stop)(
      // checkpoint: truncate the per-iteration lineage (§7.1)
      iterate(e, nodes, outDeg, _, base, dampNum, dampDen).localCheckpoint(),
      max(abs(col("rank") - col("prev_rank"))))
      .orderBy("node")
  }

  /** S2 — HITS hubs & authorities (Kleinberg 1999): the link-graph
    * twin of [[pageRank]] for corpora where PORTALS (hub pages whose
    * outlinks concentrate on good content) matter as much as
    * endpoints. Same exact-integer contract: scores on the `scale`
    * grid, and per-round normalization by the OVERFLOW-FREE floor
    * rule `x div max(1, X_max div scale)` — dividing by a per-round
    * constant instead of forming `scale·x/X_max` keeps every
    * intermediate ≤ N·scale (a `scale²·N` product would overflow
    * int64 at ~10⁷ nodes), stays weakly monotone (ranks never
    * invert), and replays exactly in any engine with integer floor
    * division. Two exchanges per half-round (keyed join + keyed agg);
    * edges/nodes checkpointed once; score frames ∝ nodes. */
  def hits(
      edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 3, scale: Long = 1L << 20): DataFrame =
    hitsRun(Rounds(iters), scale)(edgeList(edges, srcCol, dstCol))

  /** [[hits]] run to a fixed point: stops when the largest hub AND
    * auth move of a round is ≤ `tol` grid units, loudly at `maxIters`.
    * The failure mode it names is REAL: the integer floor
    * normalization can fall into a small limit cycle instead of a
    * fixed point (the LPA-oscillation analogue — e.g. a hub whose
    * in-sum hovers between g·scale and g·scale + g − 1 flips a grid
    * unit forever). */
  def hitsConverged(
      edges: DataFrame, srcCol: String, dstCol: String,
      tol: Long = 1L << 8, maxIters: Int = 50,
      scale: Long = 1L << 20): DataFrame =
    hitsRun(
      Converged(tol, maxIters, "hitsConverged", "grid units",
        "the integer floor normalization can limit-cycle (oscillate by a few grid " +
          "units forever): raise tol past the cycle amplitude, or use the fixed-iter " +
          "hits and pick a round parity"),
      scale)(edgeList(edges, srcCol, dstCol))

  private def hitsRun(stop: Stop, scale: Long)(edges: => DataFrame): DataFrame = {
    require(scale > 0)
    val e = edges
    val nodes = nodesOf(e)
    run(nodes.select(col("node"), lit(scale).as("hub"), lit(scale).as("auth")), stop)(
      hitsRound(e, nodes, _, scale),
      max(greatest(abs(col("hub") - col("prev_hub")), abs(col("auth") - col("prev_auth")))))
      .orderBy("node")
  }

  /** One full HITS round (authority half then hub half, each with the
    * overflow-free floor normalization) over checkpointed `e`/`nodes`
    * frames; returns a checkpointed (node, hub, auth) frame. */
  private def hitsRound(
      e: DataFrame, nodes: DataFrame, scores: DataFrame,
      scale: Long): DataFrame = {
    def normalized(raw: DataFrame, c: String): DataFrame = {
      // 1-row max broadcast back (exchange = one long per partition)
      val mx = raw.agg(max(col(c)).as("__mx"))
      raw.crossJoin(broadcast(mx))
        .select(col("node"),
          expr(s"$c div greatest(CAST(1 AS BIGINT), __mx div $scale)").as(c))
    }
    // authority: sum of in-link hub scores over the live hub frame
    val rawAuth = nodes.join(
        e.join(scores.select(col("node").as("src"), col("hub")), "src")
          .groupBy("dst").agg(sum("hub").as("auth"))
          .withColumnRenamed("dst", "node"),
        Seq("node"), "left")
      .select(col("node"), coalesce(col("auth"), lit(0L)).as("auth"))
    val auth = normalized(rawAuth, "auth").localCheckpoint()
    // hub: sum of out-link authority scores (the refreshed ones)
    val rawHub = nodes.join(
        e.join(auth.select(col("node").as("dst"), col("auth")), "dst")
          .groupBy("src").agg(sum("auth").as("hub"))
          .withColumnRenamed("src", "node"),
        Seq("node"), "left")
      .select(col("node"), coalesce(col("hub"), lit(0L)).as("hub"))
    val hub = normalized(rawHub, "hub").localCheckpoint()
    nodes.join(hub, "node").join(auth, "node").localCheckpoint()
  }

  /** S3 — synchronous label-propagation community detection (Raghavan
    * et al. 2007): the clustering twin of [[pageRank]]/[[hits]], used
    * to group a link graph into site/topic communities (mirror farms,
    * boilerplate rings) before per-community dedup or quality priors.
    *
    * Deterministic contract (no engine agrees on ASYNC LPA, so the
    * synchronous variant is the one an oracle can replay): every node
    * starts labeled with its own id; each round every node adopts the
    * most frequent label among its neighbors over the UNDIRECTED edge
    * multiset (each directed edge contributes both directions, with
    * multiplicity), ties broken by smallest label, isolated nodes keep
    * their label. The argmax folds as the map-combinable
    * `min(struct(-cnt, lbl))` — counts are positive longs, so the
    * sign-flip is exact and the round is partition-order-free.
    *
    * Shuffle economics per round: ONE exchange keys the neighbor list
    * by `nbr` to pick up live labels, one keyed count by (node,label),
    * one keyed argmax by node — the label frame (∝ nodes) is what
    * iterates; the edge list is materialized once. At cluster scale
    * pre-bucket the neighbor table by `nbr` and the first exchange of
    * every round disappears (the [[pageRank]] posture). */
  def labelPropagation(
      edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 3): DataFrame =
    labelPropagationRun(Rounds(iters))(edgeList(edges, srcCol, dstCol))

  /** [[labelPropagation]] run until NO label changes (the natural LPA
    * fixed point — Raghavan 2007 §3 stops when every node already
    * holds a majority label), loudly at `maxIters`: synchronous LPA can
    * 2-cycle on bipartite structure (the known oscillation). */
  def labelPropagationConverged(
      edges: DataFrame, srcCol: String, dstCol: String,
      maxIters: Int = 50): DataFrame =
    labelPropagationRun(
      Converged(0L, maxIters, "labelPropagationConverged", "labels",
        "either raise maxIters or the graph oscillates (synchronous LPA 2-cycles on " +
          "bipartite structure; use the fixed-iter labelPropagation and pick a round parity)"))(
      edgeList(edges, srcCol, dstCol))

  private def labelPropagationRun(stop: Stop)(e: DataFrame): DataFrame = {
    val nbrs = e.select(col("src").as("node"), col("dst").as("nbr"))
      .union(e.select(col("dst").as("node"), col("src").as("nbr")))
      .localCheckpoint()
    val nodes = nodesOf(e)
    run(nodes.withColumn("lbl", col("node")), stop)(
      propagateOnce(nbrs, nodes, _).localCheckpoint(),
      count(when(col("lbl") =!= col("prev_lbl"), true)))
      .orderBy("node")
  }

  /** One synchronous LPA round, un-materialized (the PlanAuditSpec
    * hook, as with [[iterate]]). `labels` must carry (node, lbl). */
  private[graft] def propagateOnce(
      nbrs: DataFrame, nodes: DataFrame, labels: DataFrame): DataFrame = {
    val counts = nbrs
      .join(labels.select(col("node").as("nbr"), col("lbl")), "nbr")
      .groupBy("node", "lbl").agg(count(lit(1)).as("cnt"))
    val best = counts
      .groupBy("node")
      .agg(min(struct((-col("cnt")).as("nc"), col("lbl"))).as("b"))
      .select(col("node"), col("b.lbl").as("new_lbl"))
    nodes
      .join(labels, "node")
      .join(best, Seq("node"), "left")
      .select(col("node"), coalesce(col("new_lbl"), col("lbl")).as("lbl"))
  }

  /** One power-iteration round, un-materialized — the loop body, also
    * the plan PlanAuditSpec audits (the checkpoint in [[pageRank]]
    * executes each round's plan eagerly, so the returned frame's own
    * plan no longer shows the iteration shape). */
  private[graft] def iterate(
      e: DataFrame, nodes: DataFrame, outDeg: DataFrame, ranks: DataFrame,
      base: Long, dampNum: Long, dampDen: Long): DataFrame = {
    val inflow = e
      .join(ranks.join(outDeg, col("node") === col("src"))
        .select(col("node").as("src"), expr("rank div out_c").as("share")), "src")
      .groupBy("dst").agg(sum("share").as("inflow"))
    nodes
      .join(inflow, col("node") === col("dst"), "left")
      .select(col("node"),
        (lit(base) + expr(s"($dampNum * coalesce(inflow, CAST(0 AS BIGINT))) div $dampDen"))
          .as("rank"))
  }
}
