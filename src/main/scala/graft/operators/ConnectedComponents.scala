package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Weakly connected components — the capability the reference delegates to
  * WebGraph's `ConnectedComponents -m --renumber --sizes -t`
  * (`process_webgraph.sh:267-272`) — and their size reports. Strong
  * components are [[Scc]].
  */
object ConnectedComponents {

  /** Rounds [[weakSpark]] may take before it fails. The loop takes about
    * log2(n) rounds in practice (Kiveris et al. prove O(log² n)); the bound
    * only stops a loop that does not converge.
    */
  private val MaxRounds = 64

  /** Weakly connected components: (id, component), one row per vertex, where
    * component = the least vertex id of the vertex's component when arcs
    * are read in either direction. An arc with an endpoint outside
    * `vertices` (or null) is ignored.
    *
    * A graph that fits the driver's budget runs union-find in driver memory
    * ([[DriverGraph.weak]]); a larger one runs [[weakSpark]]'s
    * large-star/small-star loop. Both return the same rows in the same
    * schema, and neither has an iteration bound to set.
    */
  def weak(vertices: DataFrame, edges: DataFrame): DataFrame = {
    val spark = vertices.sparkSession
    DriverGraph.load(vertices, edges, None, DriverGraph.WeakStateBytes,
        DriverLoad.budget(spark)) { g =>
      // the Spark loop's schema: `id` comes from `vertices`, and
      // `component` = coalesce(component, id) is nullable where `id` is
      val id = vertices.schema("id")
      val schema = StructType(Seq(id, StructField("component", LongType, id.nullable)))
      Some(DriverLoad.result(spark, schema, g.ids.iterator.zip(DriverGraph.weak(g).iterator)
        .map { case (v, c) => InternalRow(v, g.ids(c)) }))
    } { (v, e, _) => weakSpark(v, e) }
  }

  /** [[weak]] as a Spark loop: alternating LARGE-STAR/SMALL-STAR (Kiveris
    * et al., "Connected Components in MapReduce and Beyond", SoCC'14), which
    * converges in O(log n) rounds even on chains, where min-label
    * propagation pays the full diameter.
    *
    * Edges are kept in (child > parent) canonical form. Per round:
    *  - LARGE-STAR: for each node u, attach every LARGER neighbor to
    *    m = min(Γ(u) ∪ {u}) — hooks big ids straight onto small ones;
    *  - SMALL-STAR: for each node u, re-point u and all its smaller
    *    neighbors at their minimum — flattens the resulting trees.
    * Fixpoint: the edge set is a star forest rooted at component minima.
    */
  private[graft] def weakSpark(vertices: DataFrame, edges: DataFrame): DataFrame = {
    // Each star takes m per node as a window over its neighbors, not as an
    // aggregate joined back: near convergence the aggregate has as many
    // rows as the edges, and AQE then picks the join's build side from
    // shuffle sizes that vary run to run, so a repeated run planned (and
    // compiled) other join code.
    val byU = Window.partitionBy("u")
    def largeStar(e: DataFrame): DataFrame =
      e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
        .withColumn("m", least(min("v").over(byU), col("u")))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
    def smallStar(e: DataFrame): DataFrame = {
      // e is (u > v) canonical, so N(u) = {v : (u,v) ∈ e} are the smaller
      // neighbors and m = min(N(u)) < u
      val withMin = e.withColumn("m", min("v").over(byU))
      val rePointed = withMin
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
      rePointed.unionByName(withMin.select(col("u"), col("m").as("v"))).distinct()
    }
    // arcs with an endpoint outside `vertices` (or null) are dropped once,
    // here. Lazy checkpoints: the count that follows each one materializes
    // it in the same job (the eager default pays a separate checkpoint job
    // first)
    var e = arcsWithin(vertices, edges)
      .select(greatest(col("from_id"), col("to_id")).as("u"),
              least(col("from_id"), col("to_id")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint(false)
    var n = e.count()
    var iter = 0
    var changed = n > 0 // no edges → already a (trivial) star forest
    while (changed && iter < MaxRounds) {
      iter += 1
      val next = smallStar(largeStar(e)).localCheckpoint(false)
      // one action per round: both edge sets are distinct, so the outer
      // join keeps one row per new edge and counts the edges `e` lacks. No
      // `limit`: its generated code names a counter that is new in every
      // plan, so it would compile a class per round.
      val r = next.join(e.withColumn("__old", lit(true)), Seq("u", "v"), "left_outer")
        .agg(count(lit(1)), count(when(col("__old").isNull, 1)))
        .first()
      changed = r.getLong(0) != n || r.getLong(1) > 0
      e = next
      n = r.getLong(0)
    }
    require(!changed, s"large-star/small-star WCC did not converge in $MaxRounds rounds")
    val comp = e.select(col("u").as("id"), col("v").as("component"))
    vertices.select("id")
      .join(comp, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
  }

  /** The arcs of `edges` whose endpoints are both in `vertices`: the
    * semi-joins every Spark graph loop runs once at setup.
    */
  private[operators] def arcsWithin(vertices: DataFrame, edges: DataFrame): DataFrame = {
    val ids = vertices.select(col("id"))
    edges
      .join(ids.withColumnRenamed("id", "from_id"), Seq("from_id"), "left_semi")
      .join(ids.withColumnRenamed("id", "to_id"), Seq("to_id"), "left_semi")
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
