package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** 2-D Pareto frontier (skyline): rows not dominated on two minimized
  * dimensions. q dominates p iff q.x ≤ p.x ∧ q.y ≤ p.y with at least one
  * strict; ties on BOTH dimensions dominate neither way, so exact
  * duplicates of a frontier point all survive.
  *
  * The naive formulation is a NOT-EXISTS self-join — O(n²) pairs, a
  * broadcast-nested-loop at scale. This is the O(n log n) sort shape
  * instead:
  *
  *   1. collapse to distinct x with the min y per x (map-side-combined
  *      groupBy — output is |distinct x| rows, usually ≪ n);
  *   2. running min of y over x ascending, frame (unbounded, -1) — the
  *      best y among STRICTLY cheaper x;
  *   3. p survives iff y < that running min (nothing cheaper is as good)
  *      AND y equals its own x-group min (nothing equally cheap is
  *      strictly better).
  *
  * Step 2 runs DISTRIBUTED via [[Ranking.withRunningMinExclusive]]:
  * range-partition x, per-range exclusive running min in parallel
  * windows, previous ranges' minima carried in as a broadcast prefix —
  * so even a distinct-x table that outgrows one task (a fact-sized x
  * domain) never funnels through a single sort.
  */
object Skyline {

  /** Adds nothing and removes dominated rows: the Pareto frontier of `df`
    * minimizing (`x`, `y`). Both join sides hash-partition on x; the
    * frontier table is aggregate-sized.
    */
  def paretoFrontier(df: DataFrame, x: Column, y: Column): DataFrame = {
    val byX = df.groupBy(x.as("__x")).agg(min(y).as("__gmin"))
    val frontier = Ranking
      .withRunningMinExclusive(byX, Seq(col("__x")), col("__gmin"),
        "__cheaper_min")
      // survives iff better than everything strictly cheaper…
      .filter(col("__cheaper_min").isNull ||
        col("__gmin") < col("__cheaper_min"))
    df.join(frontier, x === col("__x") && y === col("__gmin"), "left_semi")
  }
}
