package graft.operators

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.{Hll, HllMergeAgg}

/** Harmonic centrality `hc(v) = Σ_{u≠v} 1/d(u,v)` — the score the reference
  * computes with HyperBall on the transpose graph
  * (`process_webgraph.sh:255-257`) and uses as ranking/priority.
  *
  * Two modes:
  *  - [[exact]]: per-hop BFS frontier over (src, dst) pairs — O(n·reachable)
  *    state, the test-scale ground truth;
  *  - [[hyperball]]: HLL-register ball growth, O(n·2^log2m) state — the
  *    10^8+-node path, deterministic given the fixed splitmix64 hash
  *    (SURVEY.md §2 F3; north_star "harmonic-centrality-style priority").
  */
object HarmonicCentrality {

  /** Exact harmonic centrality. Pair-explosion: test/validation scale only. */
  def exact(vertices: DataFrame, edges: DataFrame, maxHops: Int = 64): DataFrame = {
    // frontier/seen hold pairs (src, dst): src reaches dst in d hops along arcs;
    // hc of the ORIGINAL graph needs distances d(u,v) along u→v arcs, summed
    // per TARGET v — so we accumulate 1/d grouped by dst.
    // lazy checkpoints throughout (lineage truncation per hop unchanged —
    // plan growth → OOM): each hop's frontier count materializes that hop in
    // ONE job instead of eager-checkpoint + count pairs, and the hc/seen
    // chains materialize inside the actions that consume them
    var frontier = vertices.select(col("id").as("src"), col("id").as("dst"))
      .localCheckpoint(false)
    var seen = frontier
    var hc = vertices.select(col("id"), lit(0.0).as("hc_val"))
    var d = 0
    var frontierSize = frontier.count()
    while (frontierSize > 0 && d < maxHops) {
      d += 1
      val expanded = frontier
        .join(edges, frontier("dst") === edges("from_id"))
        .select(col("src"), col("to_id").as("dst"))
        .distinct()
      val newFrontier = expanded.join(seen, Seq("src", "dst"), "left_anti")
        .localCheckpoint(false)
      frontierSize = newFrontier.count()
      if (frontierSize > 0) {
        val gain = newFrontier.groupBy(col("dst").as("id"))
          .agg((count(lit(1)) / lit(d.toDouble)).as("gain"))
        hc = hc.join(gain, Seq("id"), "left_outer")
          .select(col("id"), (col("hc_val") + coalesce(col("gain"), lit(0.0))).as("hc_val"))
        seen = seen.union(newFrontier).localCheckpoint(false)
        frontier = newFrontier
        hc = hc.localCheckpoint(false)
      }
    }
    // double here; the ranking sink casts to float to match the reference's
    // binary float vectors (`JoinSortRanks.java:40,275`)
    hc.select(col("id"), col("hc_val"))
  }

  /** HyperBall approximation: per-node HLL registers grown along REVERSED
    * arcs (ball of nodes that can reach v), register-max merged each hop via
    * a typed Aggregator; `hc += (|B(v,r)| − |B(v,r−1)|)/r`.
    */
  def hyperball(vertices: DataFrame, edges: DataFrame, log2m: Int = 8,
                maxHops: Int = 32): DataFrame = {
    val spark = vertices.sparkSession
    import spark.implicits._
    val mergeHll = F.udaf(new HllMergeAgg(log2m))
    val mkRegs = F.udf((id: Long) => Hll.singleton(id, log2m))
    val est = F.udf((regs: Array[Byte]) => Hll.estimate(regs))

    // `hop` counts the hops done so far. It is a column, not `lit(r)`: Spark
    // inlines primitive literals into generated code, so a literal would make
    // every hop compile classes of its own.
    var state = vertices.select(col("id"), mkRegs(col("id")).as("regs"),
        lit(1.0).as("ball"), lit(0.0).as("hc_val"), lit(0.0).as("hop"))
      .localCheckpoint(false)

    var r = 0
    var changed = 1L
    while (r < maxHops && changed > 0) {
      r += 1
      // v pulls registers from in-neighbors u for each arc u→v. The self-row
      // carries (ball, hc_val) through the register merge — max over
      // {self's value} ∪ {nulls} recovers it exactly (every id has one
      // self-row) — so the hop is one union+agg instead of union+agg+re-join
      // of the full state (guide §2.4: one exchange per hop).
      val pulled = edges
        .join(state.select(col("id"), col("regs")),
              edges("from_id") === col("id"))
        .select(col("to_id").as("id"), col("regs"),
          lit(null).cast("double").as("ball"), lit(null).cast("double").as("hc_val"),
          lit(null).cast("double").as("hop"))
      val merged = state.select(col("id"), col("regs"), col("ball"), col("hc_val"), col("hop"))
        .unionByName(pulled)
        .groupBy("id").agg(mergeHll(col("regs")).as("regs"),
          max("ball").as("ball"), max("hc_val").as("hc_val"), max("hop").as("hop"))
      // convergence FUSED into the hop (same |ball − old_ball| > 1e-9 test):
      // the old ball is already in this plan, so `__chg` rides along and the
      // changed-count is one aggregate over the hop's own checkpoint — no
      // separate newState ⋈ state join job per hop. Checkpoints are lazy:
      // that aggregate materializes the hop in a single job.
      val newState = merged
        .select(col("id"), col("regs"),
          est(col("regs")).as("new_ball"), col("ball"), col("hc_val"),
          (col("hop") + 1.0).as("hop"))
        .select(col("id"), col("regs"), col("new_ball").as("ball"),
          (col("hc_val") +
            greatest(col("new_ball") - col("ball"), lit(0.0)) / col("hop")).as("hc_val"),
          col("hop"),
          (abs(col("new_ball") - col("ball")) > 1e-9).cast("long").as("__chg"))
        .localCheckpoint(false)
      changed = newState.agg(coalesce(sum("__chg"), lit(0L))).first().getLong(0)
      state.unpersist()
      state = newState.drop("__chg")
    }
    state.select(col("id"), col("hc_val").cast("float").as("hc_val"))
  }
}
