package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.gf

/** Host-level webgraph construction from the interleaved-docs table —
  * the Spark-native replacement for the cc-pyspark extraction + graph-build
  * jobs the reference orchestrates (`build_hostgraph.sh:36-76`,
  * `hostgraph_config.sh:8-13` "saved as tuples <from_host, to_host>").
  *
  * Contract of the produced tables (reference invariants A+B,
  * `HostToDomainGraph.java:30-46`):
  *  - vertices(id: long, rev_name: string): reversed names, lexicographically
  *    sorted, ids dense 0..n-1 in sort order;
  *  - edges(from_id: long, to_id: long): deduplicated, no self loops,
  *    sorted by (from_id, to_id) (within each partition on the Spark
  *    plan).
  */
object HostGraph {

  /** Extract host-level link tuples `<from_host, to_host>` (REVERSED names)
    * from the docs table: explode spans, pull absolute URLs out of text spans
    * (A7), take `media_ref` of media spans, canonicalize + validate hosts.
    *
    * Narrow pipeline (explode + regexp + custom expressions, all codegen'd,
    * zero shuffles) followed by one distinct.
    */
  def hostLinks(docs: DataFrame, dedup: Boolean = true): DataFrame = {
    val spans = docs.select(col("doc_id"), explode(col("spans")).as("span"))
    val targets = spans.select(
      col("doc_id"),
      explode(
        when(col("span.kind") === "text", gf.extract_urls(col("span.text")))
          .otherwise(array(col("span.media_ref")))).as("url"))
    val links = targets
      .select(
        gf.reverse_host(gf.url_host(col("doc_id"))).as("from_host"),
        gf.reverse_host(gf.url_host(col("url"))).as("to_host"))
      .filter(col("from_host").isNotNull && col("to_host").isNotNull)
    // dedup=false for append-mode streaming sinks (stateless plan); the
    // graph build dedups at fold time anyway
    if (dedup) links.distinct() else links
  }

  /** Multi-crawl merge (H3, `build_hostgraph.sh:183-215`): union of per-crawl
    * link sets, deduplicated at graph-build time.
    */
  def mergeLinks(crawls: Seq[DataFrame]): DataFrame =
    crawls.reduce(_ unionByName _).distinct()

  /** Graph build with STABLE vertex-id reuse across crawls (the reference's
    * `--vertex_ids` mode, `build_hostgraph.sh:287-290,376`): names already in
    * the persisted vertices table keep their ids; only new names get fresh
    * ids, assigned densely in sort order starting after the existing maximum.
    * (Id reuse necessarily relaxes invariant B's ids-equal-sort-rank property
    * for the merged table — exactly as in the reference's merged graphs.)
    */
  def buildWithExistingIds(links: DataFrame,
                           existingVertices: DataFrame): (DataFrame, DataFrame) = {
    val maxId = existingVertices.agg(max("id")).first() match {
      case r if r.isNullAt(0) => -1L
      case r => r.getLong(0)
    }
    val newNames = names(links).join(existingVertices, Seq("rev_name"), "left_anti")
    val newVerts = DenseIds.assign(newNames, "rev_name")
      .select((col("id") + maxId + 1).as("id"), col("rev_name"))
    val vertices = existingVertices.select("id", "rev_name").unionByName(newVerts)
      .localCheckpoint(false) // lazy: materialized by the consumer's action
    val edges = links
      .join(vertices.select(col("rev_name").as("from_host"), col("id").as("from_id")), Seq("from_host"))
      .join(vertices.select(col("rev_name").as("to_host"), col("id").as("to_id")), Seq("to_host"))
      .select(col("from_id"), col("to_id"))
      .filter(col("from_id") =!= col("to_id"))
      .distinct()
    (vertices, edges)
  }

  /** Transpose (F1, `process_webgraph.sh:241-251`): reverse all arcs. */
  def transpose(edges: DataFrame): DataFrame =
    edges.select(col("to_id").as("from_id"), col("from_id").as("to_id"))

  /** Driver bytes per packed link row of `size` bytes: the packed row, its
    * endpoints' indices, its arc, its result row packed and in the result's
    * broadcast, and at most two new names, each a view of the packed row in
    * the name index and in a result row packed and in the broadcast (the
    * names' bytes are fewer than the row's, so 2× the row covers them).
    */
  private def linkRowBytes(size: Int): Long = 3L * size + 384

  /** Build the numeric host graph from link tuples `(from_host, to_host)`.
    *
    * [[DriverLoad.run]] chooses the plan from the links' size. Links that
    * fit the driver's budget are collected by one job and numbered in the
    * driver ([[Relabel]]); the vertices and edges come back through
    * [[DriverLoad.result]], sized at their packed bytes. Larger links,
    * string columns of another type and a null name run [[buildSpark]].
    * Both return the same rows, schema and nullability, and edges in
    * (from_id, to_id) order.
    */
  def build(links: DataFrame): (DataFrame, DataFrame) = {
    val arcs = links.select("from_host", "to_host")
    if (!DriverLoad.hasTypes(arcs, StringType, StringType)) return buildSpark(arcs)
    DriverLoad.run(Seq(arcs), Seq(linkRowBytes(_)), DriverLoad.budget(links.sparkSession))(
        packed => inDriver(arcs, packed.head))(
        loaded => buildSpark(loaded.head))
  }

  /** The distinct names of both link ends. */
  private def names(links: DataFrame): DataFrame =
    links.select(col("from_host").as("rev_name"))
      .union(links.select(col("to_host").as("rev_name")))
      .distinct()

  /** [[build]] over the links' packed rows: each name gets an index on
    * first sight, then [[Relabel]] numbers the names and maps the arcs.
    * None for a null name.
    */
  private def inDriver(links: DataFrame, packed: Seq[Array[Byte]]): Option[(DataFrame, DataFrame)] = {
    val index = new java.util.HashMap[UTF8String, Integer]()
    val seen = Array.newBuilder[UTF8String]
    def item(name: UTF8String): Int = {
      val at = index.putIfAbsent(name, index.size)
      if (at != null) at.intValue else { seen += name; index.size - 1 }
    }
    val (src, dst) = (Array.newBuilder[Int], Array.newBuilder[Int])
    val row = new UnsafeRow(2)
    for (r <- DriverLoad.rows(packed, row)) {
      if (r.isNullAt(0) || r.isNullAt(1)) return None
      src += item(r.getUTF8String(0))
      dst += item(r.getUTF8String(1))
    }
    val g = Relabel(seen.result(), src.result(), dst.result())
    val spark = links.sparkSession
    val vertexSchema = StructType(Seq(StructField("id", LongType, nullable = false),
      names(links).schema("rev_name")))
    Some((DriverLoad.result(spark, vertexSchema,
        g.labels.indices.iterator.map(i => InternalRow(i.toLong, g.labels(i)))),
      g.edges(spark)))
  }

  /** [[build]]'s Spark plan, for links over the driver's budget. The two
    * joins remapping names → ids are string-keyed sort-merge joins (the
    * same shape as the reference's Spark job); the vertices side is
    * re-used for both ends.
    */
  private[graft] def buildSpark(links: DataFrame): (DataFrame, DataFrame) = {
    val vertices = DenseIds.assign(names(links), "rev_name")
      .select(col("id"), col("rev_name"))
    val edges = links
      .join(vertices.withColumnRenamed("rev_name", "from_host")
                    .withColumnRenamed("id", "from_id"), Seq("from_host"))
      .join(vertices.withColumnRenamed("rev_name", "to_host")
                    .withColumnRenamed("id", "to_id"), Seq("to_host"))
      .select(col("from_id"), col("to_id"))
      .filter(col("from_id") =!= col("to_id"))
      .distinct()
      // the distinct's output order follows shuffle-block arrival; sorting
      // within partitions makes the written bytes repeatable run to run
      .sortWithinPartitions("from_id", "to_id")
    (vertices, edges)
  }
}
