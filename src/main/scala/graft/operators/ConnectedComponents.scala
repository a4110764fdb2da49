package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Weak/strong connected components as iterative DataFrame label propagation —
  * the capability the reference delegates to WebGraph's
  * `ConnectedComponents -m --renumber --sizes -t` /
  * `StronglyConnectedComponents` (`process_webgraph.sh:267-272`).
  */
object ConnectedComponents {

  /** Weakly connected components: min-label propagation over the
    * symmetrized edge set until fixpoint. Returns (id, component) where
    * component = smallest node id in the component.
    *
    * Each iteration is one shuffle (groupBy id); AQE handles skewed hubs.
    * For 10^8+ nodes the iteration count is the graph diameter of the
    * symmetrized graph — typically <20 for web graphs; large-star/small-star
    * would cut that further but min-propagation matches the reference's
    * output contract and stays simple.
    *
    * One row per vertex; an arc with an endpoint outside `vertices` is
    * ignored. A graph that fits the driver's budget runs in driver memory
    * ([[DriverGraph]]), a larger one as [[weakSpark]]'s loop; both give the
    * same labels and fail the same way past `maxIter`.
    */
  def weak(vertices: DataFrame, edges: DataFrame, maxIter: Int = 50): DataFrame = {
    val spark = vertices.sparkSession
    DriverGraph.load(vertices, edges, None, DriverGraph.WeakStateBytes,
        DriverLoad.budget(spark)) match {
      case Some(g) =>
        // the Spark loop's schema: messages to either endpoint join `id`,
        // and `component` is an aggregate
        val e = edges.schema
        val schema = StructType(Seq(
          StructField("id", LongType, vertices.schema("id").nullable ||
            e("from_id").nullable || e("to_id").nullable),
          StructField("component", LongType, nullable = true)))
        DriverGraph.frame(spark, schema, g.ids, DriverGraph.weak(g, maxIter).map(g.ids(_)))
      case None => weakSpark(vertices, edges, maxIter)
    }
  }

  /** [[weak]] as a Spark loop: one union+aggregate per iteration. */
  private[graft] def weakSpark(vertices: DataFrame, edges: DataFrame,
                               maxIter: Int = 50): DataFrame = {
    val sym = edges.select(col("from_id"), col("to_id"))
      .union(edges.select(col("to_id").as("from_id"), col("from_id").as("to_id")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    sym.count()

    // lazy checkpoint (lineage still truncated at materialization, plan
    // growth still bounded) — the eager default would spend one full job per
    // checkpoint BEFORE the job that consumes it (guide §7.3 driver
    // round-trips); here the change-count action below materializes each
    // iteration in a single job
    var labels = vertices.select(col("id"), col("id").as("component"))
      .localCheckpoint(false)

    var iter = 0
    var changed = 1L
    // `iter <= maxIter`, not `<`: maxIter bounds the CHANGING (propagation)
    // iterations, and convergence is only ever observed by one further
    // confirming pass with changed == 0 — so a graph whose diameter equals
    // exactly maxIter must get that extra pass instead of tripping the
    // convergence require on a correct fixpoint
    while (iter <= maxIter && changed > 0) {
      // one union+agg per iteration instead of join+groupBy+re-join (guide
      // §2.4): the self-row carries the node's current component twice
      // (value + `__old`), neighbor messages carry the sender's component
      // with a null `__old` — min(component) over {self} ∪ neighbors ≡
      // least(old, nbr_min), and max(__old) recovers the pre-step component
      // (max ignores nulls; every id has exactly one self-row). Convergence
      // stays FUSED: `__chg` = the fixpoint moved this node, summed in one
      // action over the step's own checkpoint.
      val msgs = sym
        .join(labels, sym("from_id") === labels("id"))
        .select(col("to_id").as("id"), col("component"),
          lit(null).cast(labels.schema("component").dataType).as("__old"))
      val stepped = labels
        .select(col("id"), col("component"), col("component").as("__old"))
        .unionByName(msgs)
        .groupBy("id")
        .agg(min("component").as("component"), max("__old").as("__old"))
        // only a vertex has a self-row: drop the ids arcs name but
        // `vertices` does not
        .filter(col("__old").isNotNull)
        .select(col("id"), col("component"),
          (col("component") < col("__old")).cast("long").as("__chg"))
        .localCheckpoint(false)
      changed = stepped.agg(coalesce(sum("__chg"), lit(0L))).first().getLong(0)
      labels = stepped.drop("__chg")
      iter += 1
    }
    sym.unpersist()
    requireConverged(changed, maxIter)
    labels
  }

  /** Propagation distance is the component diameter: a graph deeper than
    * maxIter would otherwise return plausible-looking but WRONG labels —
    * fail like [[star]] does (which converges in O(log n) rounds and is the
    * right variant for deep graphs) rather than hand them back.
    */
  private[operators] def requireConverged(changed: Long, maxIter: Int): Unit =
    require(changed == 0,
      s"min-label WCC did not converge in $maxIter iterations " +
        "(component diameter exceeds maxIter) — raise maxIter or use " +
        "ConnectedComponents.star")

  /** Weakly connected components via the ALTERNATING LARGE-STAR/SMALL-STAR
    * algorithm (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14) — the scale path: converges in O(log n) rounds even
    * on adversarial chains where min-label propagation ([[weak]]) pays the
    * full diameter. Same output contract: (id, component = min id);
    * StarWccSpec pins equality against [[weak]] on seeded random graphs.
    *
    * Edges are kept in (child > parent) canonical form. Per round:
    *  - LARGE-STAR: for each node u, attach every LARGER neighbor to
    *    m = min(Γ(u) ∪ {u}) — hooks big ids straight onto small ones;
    *  - SMALL-STAR: for each node u, re-point u and all its smaller
    *    neighbors at their minimum — flattens the resulting trees.
    * Fixpoint: the edge set is a star forest rooted at component minima.
    */
  def star(vertices: DataFrame, edges: DataFrame, maxIter: Int = 64): DataFrame = {
    def largeStar(e: DataFrame): DataFrame = {
      val nbrs = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
      val mins = nbrs.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      nbrs.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      // e is (u > v) canonical, so N(u) = {v : (u,v) ∈ e} are the smaller
      // neighbors and m = min(N(u)) < u
      val mins = e.groupBy("u").agg(min("v").as("m"))
      val rePointed = e.join(mins, "u")
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
      rePointed.unionByName(mins.select(col("u"), col("m").as("v"))).distinct()
    }
    // lazy checkpoints: the count that follows each one materializes it in
    // the same job (the eager default pays a separate checkpoint job first)
    var e = edges
      .select(greatest(col("from_id"), col("to_id")).as("u"),
              least(col("from_id"), col("to_id")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint(false)
    var n = e.count()
    var iter = 0
    var changed = n > 0 // no edges → already a (trivial) star forest
    while (changed && n > 0 && iter < maxIter) {
      iter += 1
      val next = smallStar(largeStar(e)).localCheckpoint(false)
      val nNext = next.count()
      changed = nNext != n ||
        next.join(e, Seq("u", "v"), "left_anti").limit(1).count() > 0
      e = next
      n = nNext
    }
    require(!changed, s"star WCC did not converge in $maxIter rounds")
    val comp = e.select(col("u").as("id"), col("v").as("component"))
    vertices.select("id")
      .join(comp, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
  }

  /** Component sizes, renumbered by decreasing size (WebGraph `--renumber
    * --sizes` contract): (component_rank, size) with rank 0 = largest.
    */
  def sizes(components: DataFrame): DataFrame = {
    val s = components.groupBy("component").agg(count(lit(1)).as("size"))
    Ranks.rowNumber(s, Seq(col("size").desc, col("component").asc), "component_rank")
      .select((col("component_rank") - 1).as("component_rank"), col("size"))
      .orderBy("component_rank")
  }

  /** Size distribution report (`process_webgraph.sh:179-189`):
    * (size, n_components, percent_of_nodes).
    */
  def sizeDistribution(components: DataFrame): DataFrame = {
    val total = components.count()
    components.groupBy("component").agg(count(lit(1)).as("size"))
      .groupBy("size").agg(count(lit(1)).as("n_components"))
      .withColumn("percent",
        round(col("size") * col("n_components") * lit(100.0) / lit(total), 4))
      .orderBy(desc("size"))
  }
}
