package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Strongly connected components (F5 — the reference delegates to WebGraph's
  * `StronglyConnectedComponents --renumber --sizes`,
  * `process_webgraph.sh:270-272`, consuming only the size distribution,
  * which [[ConnectedComponents.sizeDistribution]] reports for these
  * components too).
  */
object Scc {

  /** Distributed SCC: trimming + forward-max coloring (Orzan), the scale
    * path for the reference's `StronglyConnectedComponents` capability on
    * 100M+-node graphs (`process_webgraph.sh:270-272`). State is O(V+E) —
    * no transitive-closure pair explosion. The specs pin it against a
    * sequential Tarjan on seeded random graphs.
    *
    * Per sweep, ALL colors advance together in one DataFrame fixpoint:
    *  1. TRIM — nodes with no in- or out-arcs inside the active set are
    *     singleton SCCs; iterate (kills the long tail of a web graph).
    *  2. COLOR — propagate `color(v) = max(v, max color of in-neighbors)`
    *     to fixpoint (forward reachability partition).
    *  3. HARVEST — backward BFS from each color root within its own color:
    *     those nodes are exactly root's SCC; emit, deactivate, repeat.
    *
    * Output: (id, component) with component = min id in the SCC. An arc
    * with an endpoint outside `vertices` is ignored.
    */
  def coloring(vertices: DataFrame, edges: DataFrame,
               maxSweeps: Int = 4096, maxHops: Int = 256): DataFrame = {
    // sweep count is bounded by the longest chain of non-trivial SCCs in
    // the condensation whose colors shadow each other (a chain of k cycles
    // needs k sweeps): deep for adversarial graphs, shallow for web graphs
    // (bowtie: trimming strips the tendrils, a handful of sweeps harvests
    // the cores)
    val e0 = ConnectedComponents.arcsWithin(vertices, edges.select(col("from_id"), col("to_id")))
      .filter(col("from_id") =!= col("to_id")).distinct()
      .localCheckpoint(false)
    var active = vertices.select(col("id")).localCheckpoint(false)
    var result = vertices.select(col("id"), col("id").as("component")).limit(0)
      .localCheckpoint(false)
    var sweep = 0
    var remaining = active.count()
    while (remaining > 0 && sweep < maxSweeps) {
      sweep += 1
      // edges inside the active set (sweep 1: active == vertices, and e0
      // holds only arcs between vertices — skip the two join jobs)
      var e = if (sweep == 1) e0
        else e0
          .join(active.select(col("id").as("from_id")), Seq("from_id"), "left_semi")
          .join(active.select(col("id").as("to_id")), Seq("to_id"), "left_semi")
          .localCheckpoint(false)
      // 1. trim: repeatedly peel sources/sinks — each is its own SCC
      var trimmed = 1L
      while (trimmed > 0 && remaining > 0) {
        val live = active
          .join(e.select(col("from_id").as("id")).distinct(), Seq("id"), "left_semi")
          .join(e.select(col("to_id").as("id")).distinct(), Seq("id"), "left_semi")
          .localCheckpoint(false)
        val nLive = live.count()
        trimmed = remaining - nLive
        if (trimmed > 0) {
          val singles = active.join(live, Seq("id"), "left_anti")
            .select(col("id"), col("id").as("component"))
          result = result.union(singles).localCheckpoint(false)
          active = live
          remaining = nLive
          e = e
            .join(active.select(col("id").as("from_id")), Seq("from_id"), "left_semi")
            .join(active.select(col("id").as("to_id")), Seq("to_id"), "left_semi")
            .localCheckpoint(false)
        }
      }
      if (remaining > 0) {
        // 2. forward max-color fixpoint — BATCHED: `hopsPerCheck` monotone
        // propagation hops are chained inside ONE plan per checkpoint +
        // changed-count, cutting driver round-trips ~3× (VERDICT r2 item 9;
        // extra hops past the fixpoint are no-ops since colors only grow)
        val hopsPerCheck = 4
        var color = active.select(col("id"), col("id").as("color")).localCheckpoint(false)
        var changed = 1L
        var hops = 0
        while (changed > 0 && hops < maxHops) {
          // batch-start color rides along as `__c0`, so the changed-count is
          // ONE aggregate over the batch's own checkpoint — no separate
          // cur ⋈ prev join job per batch (colors only grow, so
          // color ≠ __c0 ⟺ the batch changed this node)
          var cur = color.withColumn("__c0", col("color"))
          var b = 0
          while (b < hopsPerCheck && hops < maxHops) {
            hops += 1; b += 1
            // one union+agg per hop instead of join+groupBy+join (guide
            // §2.4): the self-row carries the node's color and batch-start
            // color, propagation rows carry the sender's color with a null
            // __c0 — max(color) over {self} ∪ in-neighbors ≡
            // greatest(old, max in_color), and max(__c0) recovers the
            // self-row's batch-start color (max ignores nulls; every active
            // id has exactly one self-row). One exchange per hop, no
            // per-hop re-join of the full state.
            val msgs = cur.join(e, cur("id") === e("from_id"))
              .select(col("to_id").as("id"), col("color"),
                lit(null).cast(cur.schema("color").dataType).as("__c0"))
            cur = cur.select(col("id"), col("color"), col("__c0"))
              .unionByName(msgs)
              .groupBy("id")
              .agg(max("color").as("color"), max("__c0").as("__c0"))
          }
          val stepped = cur.localCheckpoint(false)
          changed = stepped
            .agg(coalesce(sum((col("color") =!= col("__c0")).cast("long")), lit(0L)))
            .first().getLong(0)
          color = stepped.drop("__c0")
        }
        // harvesting a PARTIAL coloring silently corrupts output: the
        // backward pass would emit a strict subset of an SCC as complete,
        // and later sweeps would shred the remainder into singletons — fail
        // loudly instead (an SCC with internal forward eccentricity > maxHops
        // from its max-id node, e.g. a 300-node directed cycle, needs a
        // larger hop budget)
        require(changed == 0,
          s"SCC color fixpoint did not converge in $maxHops hops — " +
          "rerun with a larger maxHops budget")
        // 3. backward closure from roots, constrained to the root's color —
        // BATCHED like the color loop: expand `hopsPerCheck` hops inside one
        // plan (union of the per-hop reach, deduped), anti-join members once
        // per batch. Within-batch re-visits of members are wasted rows
        // bounded by the color class, not a correctness issue.
        var members = color.filter(col("id") === col("color")).localCheckpoint(false)
        var frontier = members
        var n = frontier.count()
        while (n > 0) {
          def expand(f: DataFrame): DataFrame = f
            .join(e, f("id") === e("to_id"))
            .select(col("from_id").as("id"), col("color")).distinct()
            .join(color.withColumnRenamed("color", "c2"), Seq("id"))
            .filter(col("color") === col("c2"))
            .select("id", "color")
          val s1 = expand(frontier)
          val s2 = expand(s1)
          val s3 = expand(s2)
          val s4 = expand(s3)
          frontier = s1.unionByName(s2).unionByName(s3).unionByName(s4).distinct()
            .join(members, Seq("id"), "left_anti").localCheckpoint(false)
          n = frontier.count()
          if (n > 0) members = members.union(frontier).localCheckpoint(false)
        }
        val comp = members.groupBy("color").agg(min("id").as("component"))
        result = result
          .union(members.join(comp, Seq("color")).select(col("id"), col("component")))
          .localCheckpoint(false)
        active = active.join(members.select("id"), Seq("id"), "left_anti").localCheckpoint(false)
        remaining = active.count()
      }
    }
    require(remaining == 0, s"SCC coloring did not converge in $maxSweeps sweeps")
    result
  }
}
