package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics on edge-list DataFrames. Companion to the
  * connected-components labeler in [[TextDedup.duplicateClusters]]: same
  * execution discipline (fixed shuffle budget per iteration,
  * `localCheckpoint` so the logical plan stays iteration-constant instead
  * of growing a join tower Catalyst must re-analyze every pass).
  *
  * PageRank here is the standard damped formulation WITHOUT dangling-mass
  * redistribution (callers whose graphs have sink nodes should add the
  * symmetric reverse edges, as the bipartite query does — a symmetric
  * graph has no sinks). Each iteration costs exactly two exchanges:
  *
  *   1. ranks join edges on src — both sides hash-partitioned on the
  *      same key, and `outdeg` is folded INTO the rank table up front so
  *      the loop joins two tables, not three;
  *   2. contribution sum keyed by dst — map-side combined, so the shuffle
  *      carries at most |V| rows per partition, not |E|.
  *
  * At 1000 executors the edge table partitioning is reused every
  * iteration (it never changes), which is the property that matters at
  * 100 TB — only rank rows (|V|, small) move per pass. GraphX-style
  * vertex cuts would shave the constant, not the shape.
  */
object Graph {

  /** Adaptive broadcast decision for the iterative loops' |V|-row side
    * (r17, guide §3.1 "pick the join strategy deliberately"). A lazily
    * checkpointed frame is a `LogicalRDD` with the DEFAULT (effectively
    * infinite) size estimate, so the planner picks sort-merge and plans
    * a shuffle of the EDGE side every iteration; AQE converts the join
    * to broadcast-hash at runtime, but only after the probe side's
    * shuffle has been planned — its map stage still writes once per
    * iteration (measured: forcing the broadcast took the 3-iteration
    * LPA loop from 2.91 to 2.38 s at sf0.1, bit-identical labels). One
    * count over the already-materialized frame makes the decision the
    * planner would have made with honest stats: broadcast while a
    * padded per-row estimate stays under the engine's own
    * `spark.sql.autoBroadcastJoinThreshold`, shuffle join beyond it —
    * the 100 TB path is unchanged (a billion-node label/rank table is
    * never broadcast).
    */
  private[graft] def broadcastIfSmall(df: DataFrame, rows: Long,
                                      bytesPerRow: Long = 64L): DataFrame = {
    // "-1" (the documented auto-broadcast off switch) does not parse as
    // a byte string — any unparseable or non-positive threshold means
    // "never broadcast", same as the planner's own reading of the conf
    val thr = try {
      org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        df.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB"))
    } catch { case _: IllegalArgumentException | _: NumberFormatException => -1L }
    if (thr > 0 && rows * bytesPerRow <= thr) broadcast(df) else df
  }

  /** k-hop reachability (bounded BFS) from a seed set: returns (node,
    * hop) with each reached node's MINIMUM hop distance ≤ k. The
    * per-level shape is the scale-correct BFS: frontier ⋈ edges on src
    * (hash-equi-join), distinct on the new frontier, anti-join against
    * the reached set so no node is expanded twice — per level the work
    * is O(frontier-adjacent edges), and `localCheckpoint` keeps the plan
    * level-constant. The bounded k (vs full transitive closure) is what
    * a 100 TB graph permits: each level is one join + one anti-join, k
    * levels total, no fixpoint probe.
    */
  def kHop(edges: DataFrame, seeds: DataFrame, k: Int): DataFrame = {
    require(k >= 0, "k must be >= 0")
    val e = edges.select("src", "dst").localCheckpoint(false)
    var reached = seeds.select(col("node"), lit(0).as("hop"))
      .distinct().localCheckpoint(false)
    var frontier = reached.select("node")
    // per-hop row counts drive the join-strategy decision
    // ([[broadcastIfSmall]]): the checkpointed frontier/reached frames
    // carry the default (huge) size estimate, so the planner would
    // otherwise sort-merge and shuffle the EDGE side every hop. The
    // counts read already-materialized checkpoints (measured: 3-hop
    // trade-graph BFS 2.15 -> 1.91 s at sf0.1, identical rows); on a
    // graph whose frontier outgrows the broadcast bar the decision
    // flips back to the shuffle join per hop.
    var frontierRows = reached.count()
    var reachedRows = frontierRows
    (1 to k).foreach { h =>
      val next = broadcastIfSmall(frontier, frontierRows)
        .join(e, frontier("node") === e("src"))
        .select(e("dst").as("node")).distinct()
        .join(broadcastIfSmall(reached.select("node"), reachedRows),
          Seq("node"), "left_anti")
        .withColumn("hop", lit(h))
        .localCheckpoint(false)
      // next is already checkpointed; reached is a shallow union of
      // checkpointed levels — checkpointing the union too would store a
      // duplicate copy of the whole reached set per hop
      frontierRows = next.count()
      reachedRows += frontierRows
      reached = reached.unionAll(next)
      frontier = next.select("node")
    }
    reached
  }

  /** Damped PageRank over `edges` (columns `src`, `dst`), a fixed number
    * of iterations from a uniform start. Returns (node, rank) for every
    * node appearing as src or dst; ranks sum to 1 on sink-free graphs.
    */
  def pageRank(edges: DataFrame, iterations: Int,
               damping: Double = 0.85): DataFrame = {
    require(iterations >= 0, "iterations must be >= 0")
    // materialize the edge list ONCE: everything below (nodes, degrees,
    // and every iteration's src-join) re-reads it, and without the
    // checkpoint the caller's edge-construction plan (often a join +
    // distinct) would re-execute per iteration
    val e = edges.select("src", "dst").localCheckpoint(false)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .localCheckpoint(false)
    // |V| once: a literal in both rank formulas, and the per-iteration
    // join-strategy decision ([[broadcastIfSmall]] — the node count never
    // changes across iterations)
    val nNodes = nodes.count()
    val n = lit(nNodes.toDouble)
    val deg = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).cast("double").as("outdeg"))
    // (node, outdeg) pinned ONCE (r17): the per-iteration rank rebuild
    // previously re-joined `deg` every pass — the same |V|-sized join
    // repeated `iterations` times for a value that never changes. Folding
    // it into the node table up front drops one join (and the deg
    // re-aggregation) from every iteration; the loop is now exactly the
    // two exchanges the scaladoc advertises plus one |V|-row rebuild.
    val nodesDeg = nodes
      .join(deg, Seq("node"), "left")
      .select(col("node"), coalesce(col("outdeg"), lit(0.0)).as("outdeg"))
      .localCheckpoint(false)
    // rank and outdeg travel together: the loop below joins edges against
    // ONE table keyed by node (outdeg 0 = sink; contributes nothing)
    var ranks = nodesDeg
      .select(col("node"), (lit(1.0) / n).as("rank"), col("outdeg"))
      .localCheckpoint(false)
    for (_ <- 1 to iterations) {
      val inflow = e
        .join(broadcastIfSmall(
          ranks.withColumnRenamed("node", "src"), nNodes), Seq("src"))
        .select(col("dst").as("node"), (col("rank") / col("outdeg")).as("c"))
        .groupBy("node").agg(sum(col("c")).as("inflow"))
      ranks = nodesDeg
        .join(inflow, Seq("node"), "left")
        .select(col("node"),
          (lit(1.0 - damping) / n +
            lit(damping) * coalesce(col("inflow"), lit(0.0))).as("rank"),
          col("outdeg"))
        .localCheckpoint(false)
    }
    ranks.select("node", "rank")
  }

  /** Synchronous label propagation over a directed edge list (symmetrize
    * first for undirected semantics), a fixed number of iterations from
    * label = node id. Each round every node adopts its neighbors' most
    * frequent label, ties to the smallest label — a deterministic
    * argmax expressed as ONE struct-max aggregate `max((count, −label))`
    * per node (never a per-node sort or window): two exchanges per
    * iteration, with each node's own label unioned in as a ZERO-weight
    * vote (a node with no in-edges keeps its label — directed misuse is
    * well-defined instead of silently dropping rows; real votes always
    * outweigh it, so symmetrized results are untouched) and
    * `localCheckpoint` keeping the plan iteration-constant. Fixed
    * iterations make the
    * result an exact engine-reproducible fixed-point prefix (sync LPA on
    * bipartite graphs can oscillate — bounded rounds are the contract,
    * not convergence).
    */
  def labelPropagation(edges: DataFrame, iterations: Int): DataFrame = {
    require(iterations >= 0, "iterations must be >= 0")
    val e = edges.select("src", "dst").localCheckpoint(false)
    var labels = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .select(col("node"), col("node").as("label"))
      .localCheckpoint(false)
    // |V| once, for the per-iteration join-strategy decision
    // ([[broadcastIfSmall]] — labels stays |V| rows every iteration)
    val nNodes = labels.count()
    for (_ <- 1 to iterations) {
      // each node's own label rides along as a ZERO-weight vote: a real
      // vote (weight 1) always beats it, so semantics on a symmetrized
      // graph are untouched — but a node with no in-edges (directed
      // misuse) keeps its own label instead of silently vanishing. The
      // union folds into the same keyed aggregate: no extra join, no
      // third exchange per iteration.
      labels = e
        .join(broadcastIfSmall(
          labels.withColumnRenamed("node", "src"), nNodes), Seq("src"))
        .select(col("dst").as("node"), col("label"), lit(1L).as("w"))
        .unionByName(labels.select(col("node"), col("label"),
          lit(0L).as("w")))
        .groupBy("node", "label").agg(sum(col("w")).as("c"))
        .groupBy("node")
        .agg(max(struct(col("c"), (-col("label")).as("nl"))).as("m"))
        .select(col("node"), (-col("m.nl")).as("label"))
        .localCheckpoint(false)
    }
    labels
  }

  /** Per-node triangle counts over an undirected edge list (columns
    * `src`, `dst`; duplicates, self-loops, and either orientation
    * accepted). Returns (node, n_tri) for every node in ≥1 triangle.
    *
    * Scale shape: the classic degree-ordered orientation. Each edge is
    * directed from its lower-(degree, id) endpoint to the higher one, so
    * every triangle is counted exactly once (as the wedge at its
    * lowest-ordered corner) and — the 100 TB property — each node's
    * out-adjacency in the oriented graph is bounded by O(√|E|) regardless
    * of raw degree: a celebrity node with 10M followers contributes
    * wedges only among its few HIGHER-ordered neighbors, not 10M². All
    * three steps are hash-equi-joins (wedge join on the common low corner,
    * closing join on the oriented (v1,v2) edge key); nothing is quadratic
    * in a hub's degree. The ordering is materialized as (deg, id) pairs
    * carried on the edges — never a global rank/row_number sort.
    */
  def triangles(edges: DataFrame): DataFrame = {
    // canonical undirected edge set: a < b, deduped; reused three times
    val und = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") < col("b"))
      .distinct()
      // lazy checkpoint: deg, both orient joins, and the closing join all
      // re-derive from the canonical edge set; MEASURED faster than bare
      // ReuseExchange here (4 consumers at different join keys)
      .localCheckpoint(false)
    val deg = und.select(col("a").as("node"))
      .union(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // orient low→high in the (deg, id) total order; carry the head's
    // (deg, id) so the wedge join can compare heads without re-joining deg
    val cond = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b")) // a < b by canon
    val oriented = und
      .join(deg.select(col("node").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("db")), Seq("b"))
      .select(
        when(cond, col("a")).otherwise(col("b")).as("u"),
        when(cond, col("b")).otherwise(col("a")).as("v"),
        when(cond, col("db")).otherwise(col("da")).as("vdeg"))
      // same: o1/o2/closing join consume at three different keys
      .localCheckpoint(false)
    val o1 = oriented.select(col("u"), col("v").as("v1"), col("vdeg").as("d1"))
    val o2 = oriented.select(col("u"), col("v").as("v2"), col("vdeg").as("d2"))
    val wedges = o1.join(o2, Seq("u"))
      .where(col("d1") < col("d2") ||
        (col("d1") === col("d2") && col("v1") < col("v2")))
    // close the wedge: (v1, v2) with v1 below v2 in the order is oriented
    // v1→v2 if present at all
    val tri = wedges.join(
      oriented.select(col("u").as("v1"), col("v").as("v2")), Seq("v1", "v2"))
    tri.select(col("u").as("node"))
      .union(tri.select(col("v1").as("node")))
      .union(tri.select(col("v2").as("node")))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
  }
}
