package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Degrees, rank assignment and the rank join — the Spark re-expression of
  * `JoinSortRanks` (`JoinSortRanks.java`) and the degree reports
  * (`process_webgraph.sh:163-176,312-328`).
  */
object Ranking {

  /** Out-degrees: (id, outdeg). Nodes with no out-arcs are absent (the
    * reference's degree files list every node; join back onto vertices with
    * coalesce(0) when needed — see [[withDegrees]]).
    */
  def outDegrees(edges: DataFrame): DataFrame =
    edges.groupBy(col("from_id").as("id")).agg(count(lit(1)).as("outdeg"))

  def inDegrees(edges: DataFrame): DataFrame =
    edges.groupBy(col("to_id").as("id")).agg(count(lit(1)).as("indeg"))

  /** Vertices + (outdeg, indeg), zero-filled — `Stats --save-degrees`
    * equivalent (`process_webgraph.sh:312-313`).
    */
  def withDegrees(vertices: DataFrame, edges: DataFrame): DataFrame =
    vertices
      .join(outDegrees(edges), Seq("id"), "left_outer")
      .join(inDegrees(edges), Seq("id"), "left_outer")
      .na.fill(0L, Seq("outdeg", "indeg"))

  /** Degree distribution: (degree, n_nodes), zero degrees skipped
    * (`process_webgraph.sh:191-198`).
    */
  def degreeDistribution(degrees: DataFrame, degCol: String): DataFrame =
    degrees.filter(col(degCol) > 0)
      .groupBy(col(degCol).as("degree"))
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy("degree")

  /** Top-k report: degree > threshold, sorted desc, first k
    * (`process_webgraph.sh:163-176`: threshold 1000, k 10000) — planned as
    * TakeOrderedAndProject, no global sort materialized.
    */
  def topDegrees(degrees: DataFrame, degCol: String,
                 threshold: Long = 1000, k: Int = 10000): DataFrame =
    degrees.filter(col(degCol) > threshold)
      .orderBy(desc(degCol), asc("id"))
      .limit(k)

  /** Rank assignment + join, reproducing `JoinSortRanks`
    * (`JoinSortRanks.java:57-161`): rank = row position under
    * (value DESC, id ASC) — row_number, NOT rank(); ties broken by id.
    * Every score row is ranked, so a score row whose id is null or not a
    * vertex leaves a gap in both ranks; a vertex without a score row is
    * dropped.
    *
    * Scores and vertices that fit the driver's budget are ranked and
    * joined there, after one load ([[DriverLoad.run]]), as the reference
    * ranks in one JVM; the result ([[DriverLoad.result]]) is in `hc_rank`
    * order. Larger inputs, ids of another type than long, and a null or
    * repeated vertex id run [[joinRanksSpark]]. Both give the same rows,
    * row order and schema.
    *
    * @param vertices (id, rev_name[, extra…])
    * @param scores   (id, hc_val: float, pr_val: double)
    * @return (hc_rank, hc_val, pr_rank, pr_val, rev_name[, extra…]) ordered
    *         by hc_rank (`process_webgraph.sh:141-143` re-sort)
    */
  def joinRanks(vertices: DataFrame, scores: DataFrame): DataFrame = {
    val s = scores.select(col("id"), col("hc_val"), col("pr_val"))
    val v = vertices.select((Seq("id", "rev_name") ++ extraColumns(vertices)).map(col): _*)
    if (s.schema("id").dataType != LongType || v.schema("id").dataType != LongType)
      return joinRanksSpark(v, s)
    DriverLoad.run(Seq(s, v), Seq(Ranks.rowBytes(_), Ranks.rowBytes(_)),
        DriverLoad.budget(s.sparkSession))(
        packed => inDriver(s, v, packed(0), packed(1)))(
        loaded => joinRanksSpark(loaded(1), loaded(0)))
  }

  /** The vertex columns [[joinRanks]] carries after `rev_name`. */
  private def extraColumns(vertices: DataFrame): Seq[String] =
    vertices.columns.toSeq.filter(c => c != "id" && c != "rev_name")

  /** [[joinRanks]] over the packed rows of `s` (id, hc_val, pr_val) and `v`
    * (id, rev_name, extra…): the score rows are sorted twice with Spark's
    * own ordering ([[Ranks.ordering]]) and numbered, then joined to the
    * vertex rows by id in `hc_rank` order. None for a null or repeated
    * vertex id.
    */
  private def inDriver(s: DataFrame, v: DataFrame, scores: Seq[Array[Byte]],
                       vertices: Seq[Array[Byte]]): Option[DataFrame] = {
    val byId = mutable.LongMap.empty[UnsafeRow]
    val vs = DriverLoad.rows(vertices, new UnsafeRow(v.schema.length))
    while (vs.hasNext) {
      val r = vs.next()
      if (r.isNullAt(0) || byId.put(r.getLong(0), r).isDefined) return None
    }
    val hcOrder = Ranks.ordering(s, Seq(col("hc_val").desc, col("id").asc)).getOrElse(return None)
    val prOrder = Ranks.ordering(s, Seq(col("pr_val").desc, col("id").asc)).getOrElse(return None)
    val rows = DriverLoad.rows(scores, new UnsafeRow(3)).toArray[InternalRow]
    java.util.Arrays.sort(rows, hcOrder)
    val byPr = Array.tabulate[Integer](rows.length)(Int.box)
    java.util.Arrays.sort(byPr, (a: Integer, b: Integer) => prOrder.compare(rows(a), rows(b)))
    val prRank = new Array[Long](rows.length)
    for (j <- byPr.indices) prRank(byPr(j)) = j + 1L

    // the Spark path's schema: the ranks are non-null longs, the inner
    // join keeps every other column's type and nullability
    val out = StructType(Seq(StructField("hc_rank", LongType, nullable = false), s.schema("hc_val"),
      StructField("pr_rank", LongType, nullable = false), s.schema("pr_val")) ++ v.schema.tail)
    val joined = for {
      i <- rows.indices.iterator
      if !rows(i).isNullAt(0)
      vr <- byId.get(rows(i).getLong(0))
      Seq(_, hc, pr) = rows(i).toSeq(s.schema)
    } yield new GenericInternalRow((Seq(i + 1L, hc, prRank(i), pr) ++ vr.toSeq(v.schema).tail).toArray)
    Some(DriverLoad.result(s.sparkSession, out, joined))
  }

  /** [[joinRanks]] as a Spark plan: two range-path ranks
    * ([[Ranks.rowNumberSpark]]), an inner join by id and a sort.
    */
  private[graft] def joinRanksSpark(vertices: DataFrame, scores: DataFrame): DataFrame = {
    val hcRanked = Ranks.rowNumberSpark(
      scores.select(col("id"), col("hc_val"), col("pr_val")),
      Seq(col("hc_val").desc, col("id").asc), "hc_rank")
    val ranked = Ranks.rowNumberSpark(
      hcRanked, Seq(col("pr_val").desc, col("id").asc), "pr_rank")
    ranked.join(vertices, Seq("id"))
      .select((Seq("hc_rank", "hc_val", "pr_rank", "pr_val", "rev_name") ++
        extraColumns(vertices)).map(col): _*)
      .orderBy("hc_rank")
  }
}
