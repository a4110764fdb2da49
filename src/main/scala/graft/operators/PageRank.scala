package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** PageRank as an iterative DataFrame loop — the capability the reference
  * delegates to LAW's `PageRankParallelGaussSeidel` on the transpose
  * (`process_webgraph.sh:259-265`), with optional preference vector
  * (`CreatePreferenceVector.java:21-25`).
  *
  * Gauss-Seidel ordering is an in-memory convergence optimization, not an
  * output contract — the fixed point is the same; we run Jacobi power
  * iteration, which is the distributable form.
  *
  * The iteration starts from the preference vector (uniform when none).
  * Teleport mass, and by default dangling-node mass, are distributed by it,
  * matching LAW's strongly-preferential semantics.
  *
  * [[run]] is the one entry: it iterates a graph that fits the driver in
  * driver memory ([[DriverGraph]]) with the same Jacobi steps, and a larger
  * one with [[runSpark]]'s loop.
  */
object PageRank {

  /** @param vertices (id)           — all node ids
    * @param edges    (from_id, to_id); an arc with an endpoint outside
    *                 `vertices` is ignored
    * @param preference optional (id, pref) summing to 1; uniform when None.
    *                 It is the start vector too; a row for an id outside
    *                 `vertices` is ignored
    * @param alpha    damping (reference default 0.85)
    * @param tol      stop once the L1 change of one step is at most this;
    *                 0.0 runs exactly `maxIter` steps (a step after a zero
    *                 change would change nothing)
    * @param redistributeDangling give the mass of vertices without out-arcs
    *                 back by the preference (LAW's strongly-preferential
    *                 PageRank); false drops it
    * @return (id, pr_val: double), one row per vertex of the preference,
    *         none for an empty graph; `id` and `pr_val` are nullable where
    *         the preference's `id` and `pref` are. A graph that fits the
    *         driver's budget is iterated in driver memory ([[DriverGraph]])
    *         and its rows come back through [[DriverLoad.result]]; a larger
    *         one runs [[runSpark]]'s loop, whose result is backed by
    *         checkpoint blocks. The two agree to within summation order.
    */
  def run(vertices: DataFrame, edges: DataFrame,
          preference: Option[DataFrame] = None,
          alpha: Double = 0.85, maxIter: Int = 30, tol: Double = 1e-9,
          redistributeDangling: Boolean = true): DataFrame = {
    val spark = vertices.sparkSession
    DriverGraph.load(vertices, edges, preference, DriverGraph.PageRankStateBytes,
        DriverLoad.budget(spark)) { g =>
      // the Spark loop's schema: `id` and `pr_val` come from the
      // preference (or the vertices with a literal 1/n)
      val pref = preference.getOrElse(vertices.select(col("id"), lit(1.0).as("pref")))
      val schema = StructType(Seq(
        StructField("id", LongType, pref.schema("id").nullable),
        StructField("pr_val", DoubleType, pref.schema("pref").nullable)))
      val (rank, live) = DriverGraph.pageRank(g, alpha, maxIter, tol, redistributeDangling)
      Some(DriverLoad.result(spark, schema,
        g.ids.indices.iterator.filter(live(_)).map(i => InternalRow(g.ids(i), rank(i)))))
    } { (v, e, p) => runSpark(v, e, p, alpha, maxIter, tol, redistributeDangling) }
  }

  /** [[run]] as a Spark loop. Its result is backed by the final iteration's
    * checkpoint blocks; they stay pinned while the caller holds the
    * DataFrame and are released by Spark's ContextCleaner once it is
    * dropped (every intermediate iteration is unpersisted eagerly below,
    * so a long session leaks nothing else).
    */
  private[graft] def runSpark(vertices: DataFrame, edges: DataFrame,
                              preference: Option[DataFrame] = None, alpha: Double = 0.85,
                              maxIter: Int = 30, tol: Double = 1e-9,
                              redistributeDangling: Boolean = true): DataFrame = {
    val spark = vertices.sparkSession
    val n = vertices.count()
    // the semi-joins drop arcs and preference rows with an id outside
    // `vertices` once, here: counted in `outdeg`, such an arc would send
    // mass nowhere, and such a rank row would hold mass no arc reaches
    val pref = preference
      .map(_.select(col("id"), col("pref")).join(vertices.select("id"), Seq("id"), "left_semi"))
      .getOrElse(vertices.select(col("id"), lit(1.0 / n).as("pref")))
    if (n == 0) return pref.select(col("id"), col("pref").as("pr_val"))

    // degree-annotated edges, reused every iteration: cache once
    val arcs = ConnectedComponents.arcsWithin(vertices, edges)
    val outDeg = arcs.groupBy("from_id").agg(count(lit(1)).as("outdeg"))
    val edgesDeg = arcs.join(outDeg, "from_id")
      .select(col("from_id"), col("to_id"), col("outdeg"))
    val cached = Seq(edgesDeg, pref)
    cached.foreach(_.persist(StorageLevel.MEMORY_AND_DISK))
    try {
      cached.foreach(_.count())

      // localCheckpoint truncates lineage each iteration: without it the
      // plan grows linearly and AQE replanning runs out of memory. The
      // initial ranks take the loop's RDD-level checkpoint, so their blocks
      // are tracked and released once the first iteration is materialized.
      val init0 = pref.select(col("id"), col("pref").as("pr_val"))
      val initRdd = init0.rdd
      initRdd.localCheckpoint()
      var ranks = spark.createDataFrame(initRdd, init0.schema)

      var iter = 0
      var delta = Double.MaxValue
      var prevRdd: Option[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]] = Some(initRdd)
      while (iter < maxIter && delta > tol) {
        // the old rank is joined into the step, so one action per iteration,
        // the L1-delta aggregate, materializes the new and the old rank. The
        // boundary is an RDD-level localCheckpoint: the Dataset-level one
        // rewrites the stats and constraints of a plan that reads the last
        // checkpoint twice, which grew superlinearly (0.3 s per iteration up
        // to ~18, 110 s at 25 on a 4-node graph); a plain persist overflows
        // task serialization by ~60 iterations; and createDataFrame(rdd,
        // schema) makes a leaf with no inherited stats, so an iteration costs
        // one step. Losing an executor that holds checkpoint blocks fails the
        // job rather than recomputing it; the caller reruns.
        val joined = step(ranks, edgesDeg, pref, alpha, redistributeDangling)
          .join(ranks.select(col("id"), col("pr_val").as("__old")), Seq("id"))
        val rdd = joined.rdd
        rdd.localCheckpoint()
        val stepped = spark.createDataFrame(rdd, joined.schema)
        delta = stepped.agg(sum(abs(col("pr_val") - col("__old")))).first().getDouble(0)
        prevRdd.foreach(_.unpersist(blocking = false))
        prevRdd = Some(rdd)
        ranks = stepped.drop("__old")
        iter += 1
      }
      ranks
    } finally cached.foreach(_.unpersist())
  }

  /** One fused power-iteration step: arc contributions AND dangling mass in
    * a single aggregation pass (no per-iteration driver-side `.first()`
    * action). A rank row with no out-arcs routes its
    * whole mass to a `cid = -1` sentinel group (vertex ids are dense ≥ 0,
    * so the sentinel can't collide); the sentinel row is broadcast back as
    * the scalar dangling mass, or dropped for a literal 0.0 when
    * `redistributeDangling` is false. Catalyst reuses the aggregation's
    * exchange between the sentinel branch and the contribution branch, and
    * the arithmetic (`α·dangling` then `+`) is the same IEEE double
    * sequence as the old driver-side scalar, so every oracle hash is
    * unchanged.
    */
  private def step(ranks: DataFrame, edgesDeg: DataFrame, pref: DataFrame,
                   alpha: Double, redistributeDangling: Boolean): DataFrame = {
    val contribAll = ranks
      .join(edgesDeg, ranks("id") === edgesDeg("from_id"), "left_outer")
      .select(coalesce(col("to_id"), lit(-1L)).as("cid"),
        when(col("to_id").isNotNull, col("pr_val") / col("outdeg"))
          .otherwise(col("pr_val")).as("mass"))
      .groupBy("cid").agg(sum("mass").as("in_mass"))
    val inMass = pref
      .join(contribAll.filter(col("cid") =!= -1L).withColumnRenamed("cid", "id"),
        Seq("id"), "left_outer")
    val (withDangling, dmass) =
      if (!redistributeDangling) (inMass, lit(0.0))
      else {
        val dangling = contribAll.filter(col("cid") === -1L)
          .agg(coalesce(sum("in_mass"), lit(0.0)).as("dmass"))
        (inMass.crossJoin(broadcast(dangling)), col("dmass"))
      }
    withDangling.select(col("id"),
      ((lit(1.0 - alpha) + lit(alpha) * dmass) * col("pref") +
        lit(alpha) * coalesce(col("in_mass"), lit(0.0))).as("pr_val"))
  }
}
