package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{gf, PublicSuffixList}

/** Host-graph → domain-graph fold with the exact semantics of the reference's
  * `HostToDomainGraph` (`HostToDomainGraph.java`), re-expressed as a
  * declarative Spark plan.
  *
  * The reference achieves groupBy-on-sorted-input semantics in one streaming
  * pass with a bounded safety queue (`compareRevDomainsSafe`,
  * `HostToDomainGraph.java:184-252`); that machinery exists only to bound
  * memory in a single-threaded fold. The OBSERVABLE contract — which hosts
  * fold to which domain, host counts, output sorted lexicographically by
  * reversed domain name with dense ids, edges remapped/deduplicated/
  * self-loop-free — is what this operator reproduces, verified against the
  * reference's golden fixtures (`TestHostToDomainGraph.java`).
  */
object DomainGraph {

  /** Aggregation levels (`HostToDomainGraph.java:90-95`). */
  sealed trait Aggregation
  case object RegisteredDomain extends Aggregation
  case object PrivateDomain extends Aggregation
  case object HostWithoutWww extends Aggregation

  final case class Options(
      aggregation: Aggregation = RegisteredDomain,
      multiPartSuffixesAsDomains: Boolean = false,
      countHosts: Boolean = true,
      validateSortedInput: Boolean = false,
      psl: PublicSuffixList = PublicSuffixList.default)

  final case class Result(vertices: DataFrame, edges: DataFrame,
                          hostToDomain: DataFrame)

  /** Reversed-domain column for a reversed-host column, per aggregation level.
    * Null ⇒ host has no domain and is dropped (reference maps its id to -1,
    * `HostToDomainGraph.java:374-377`).
    */
  def domainOfRevHost(revName: org.apache.spark.sql.Column, opts: Options): org.apache.spark.sql.Column =
    opts.aggregation match {
      case HostWithoutWww =>
        gf.reverse_host(gf.strip_www(gf.reverse_host(revName)))
      case agg =>
        gf.reverse_host(gf.registered_domain(
          gf.reverse_host(revName),
          privateDomains = agg == PrivateDomain,
          multiPartSuffixesAsDomains = opts.multiPartSuffixesAsDomains,
          psl = opts.psl))
    }

  /** Driver bytes per packed host row `(host_id, domain_rev)` of `size`
    * bytes: the packed row, the host's id, label and domain id, and the
    * output rows of a new domain (its name copied as a `String`) and of
    * the host's mapping.
    */
  private def hostRowBytes(size: Int): Long = 4L * size + 128
  /** Driver bytes per packed arc: its packed row and endpoint indices, the
    * arc packed and as two output ids.
    */
  private val ArcRowBytes: Long = DriverGraph.ArcBytes + 24

  /** Fold a host graph into a domain graph.
    *
    * [[DriverLoad.run]] chooses the plan from the inputs' size. When the
    * hosts with their domains (the PSL lookup runs as a Spark expression in
    * the load job) and the arcs fit the driver's budget, one job collects
    * them and the driver folds them ([[Relabel]]): the domain vertices are
    * a one-partition local relation, the edges and the mapping a few slices
    * of primitive arrays. Larger inputs, ids of another type than long, a
    * null or repeated host id run [[foldSpark]]. Both return the same rows,
    * schema and nullability.
    *
    * @param vertices (id: long, rev_name: string) — ids dense in rev_name order
    * @param edges    (from_id: long, to_id: long)
    * @return domain vertices (id, rev_name[, num_hosts]) dense-sorted, domain
    *         edges (from_id, to_id) deduplicated + self-loop-free and sorted
    *         (within each partition on the Spark plan), and the host→domain
    *         id mapping (host_id, domain_id).
    */
  def fold(vertices: DataFrame, edges: DataFrame, opts: Options = Options()): Result = {
    if (opts.validateSortedInput) validateSorted(vertices)
    val hosts = hostDomains(vertices, opts)
    val arcs = edges.select("from_id", "to_id")
    if (!DriverLoad.hasTypes(hosts, LongType, StringType) ||
        !DriverLoad.hasTypes(arcs, LongType, LongType)) return foldHosts(hosts, arcs, opts)
    DriverLoad.run(Seq(hosts, arcs), Seq(hostRowBytes(_), _ => ArcRowBytes),
        DriverLoad.budget(vertices.sparkSession))(
        packed => inDriver(hosts, packed, opts))(
        loaded => foldHosts(loaded(0), loaded(1), opts))
  }

  /** [[fold]]'s Spark plan, for inputs over the driver's budget. */
  private[graft] def foldSpark(vertices: DataFrame, edges: DataFrame,
                               opts: Options = Options()): Result = {
    if (opts.validateSortedInput) validateSorted(vertices)
    foldHosts(hostDomains(vertices, opts), edges, opts)
  }

  /** (host_id, domain_rev) of the hosts that have a domain. */
  private def hostDomains(vertices: DataFrame, opts: Options): DataFrame =
    vertices
      .select(col("id").as("host_id"),
              domainOfRevHost(col("rev_name"), opts).as("domain_rev"))
      .filter(col("domain_rev").isNotNull)

  /** Hosts per domain: (domain_rev, num_hosts). */
  private def domainCounts(hosts: DataFrame): DataFrame =
    // partial aggregation (map-side combine) replaces the reference's
    // same-domain run shortcut (`HostToDomainGraph.java:379-386`)
    hosts.groupBy("domain_rev").agg(count(lit(1)).as("num_hosts"))

  private def folded(vertices: DataFrame, edges: DataFrame, mapping: DataFrame,
                     opts: Options): Result =
    Result(if (opts.countHosts) vertices else vertices.drop("num_hosts"), edges, mapping)

  /** [[fold]] over the packed rows of `hosts` and the arcs: hosts are
    * indexed in id order, [[Relabel]] numbers their domains and maps the
    * arcs, and arcs with an endpoint that is no host with a domain (or
    * null) are dropped, as the Spark plan's inner joins drop them. None
    * for a null or repeated host id.
    */
  private def inDriver(hosts: DataFrame, packed: Seq[Seq[Array[Byte]]],
                       opts: Options): Option[Result] = {
    val pair = new UnsafeRow(2)
    val rows = DriverLoad.rows(packed(0), pair).map { r =>
      if (r.isNullAt(0)) return None
      (r.getLong(0), r.getUTF8String(1))
    }.toArray
    val ids = rows.map(_._1)
    java.util.Arrays.sort(ids)
    if ((1 until ids.length).exists(i => ids(i) == ids(i - 1))) return None
    val index = DriverGraph.indexOf(ids)
    val labels = new Array[UTF8String](ids.length)
    rows.foreach { case (id, domain) => labels(index(id)) = domain }
    val (src, dst) = (Array.newBuilder[Int], Array.newBuilder[Int])
    for (r <- DriverLoad.rows(packed(1), pair)) {
      src += (if (r.isNullAt(0)) -1 else index(r.getLong(0)))
      dst += (if (r.isNullAt(1)) -1 else index(r.getLong(1)))
    }
    val g = Relabel(labels, src.result(), dst.result())

    val spark = hosts.sparkSession
    val numHosts = new Array[Long](g.labels.length)
    g.idOf.foreach(d => if (d >= 0) numHosts(d) += 1)
    val counts = domainCounts(hosts).schema
    val vertexSchema = StructType(Seq(StructField("id", LongType, nullable = false),
      counts("domain_rev").copy(name = "rev_name"), counts("num_hosts")))
    val vertices = g.labels.indices.map(d => Row(d.toLong, g.labels(d).toString, numHosts(d)))
    val mappingSchema = StructType(Seq(hosts.schema("host_id"),
      StructField("domain_id", LongType, nullable = false)))
    Some(folded(Relabel.vertexFrame(spark, vertexSchema, vertices),
      DriverGraph.frame(spark, Relabel.EdgeSchema, g.from, g.to),
      DriverGraph.frame(spark, mappingSchema, ids, g.idOf.map(_.toLong)), opts))
  }

  /** [[foldSpark]] over the hosts with their domains. */
  private def foldHosts(hosts: DataFrame, edges: DataFrame, opts: Options): Result = {
    val domainVerts = DenseIds.assign(domainCounts(hosts), "domain_rev")
      .select(col("id"), col("domain_rev").as("rev_name"), col("num_hosts"))

    val mapping = hosts
      .join(domainVerts.select(col("rev_name").as("domain_rev"), col("id").as("domain_id")),
            Seq("domain_rev"))
      .select(col("host_id"), col("domain_id"))

    // two equi-joins remap edge endpoints (the reference's in-memory array
    // lookup `HostToDomainGraph.java:330-336,471-487` is semantically this
    // hash join); unmapped hosts disappear via the inner join (id -1 filter),
    // self loops + duplicates dropped (`HostToDomainGraph.java:481-486`).
    val domainEdges = edges
      .join(mapping.select(col("host_id").as("from_id"), col("domain_id").as("dfrom")), Seq("from_id"))
      .join(mapping.select(col("host_id").as("to_id"), col("domain_id").as("dto")), Seq("to_id"))
      .select(col("dfrom").as("from_id"), col("dto").as("to_id"))
      .filter(col("from_id") =!= col("to_id"))
      .distinct()
      // the distinct's output order follows shuffle-block arrival; sorting
      // within partitions makes the written bytes repeatable run to run
      .sortWithinPartitions("from_id", "to_id")

    folded(domainVerts, domainEdges, mapping, opts)
  }

  /** Validate the reference's input invariants A+B: reversed names strictly
    * sorted and ids dense 0..n-1 in that order (`HostToDomainGraph.java:
    * 347-353` throws on violation; so do we).
    *
    * Scalable form: range-partition by name, check monotone `id == prev+1`
    * within partitions, then stitch (min, max, count) per partition on the
    * driver — no global window.
    */
  def validateSorted(vertices: DataFrame): Unit = {
    val spark = vertices.sparkSession
    // strict sortedness ⇒ no duplicate names (reference throws on equality too)
    if (vertices.groupBy("rev_name").count().filter(col("count") > 1).limit(1).count() > 0)
      throw new IllegalArgumentException("Host vertices contain duplicate rev_name values")
    val p = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val staged = vertices
      .repartitionByRange(p, col("rev_name"))
      .withColumn("__pid", spark_partition_id())
    val w = Window.partitionBy("__pid").orderBy("rev_name")
    val stats = staged
      .withColumn("__prev", lag(col("id"), 1).over(w))
      .withColumn("__bad", col("__prev").isNotNull && col("id") =!= col("__prev") + 1)
      .groupBy("__pid")
      .agg(min("id").as("min_id"), max("id").as("max_id"),
           count(lit(1)).as("n"), max(col("__bad").cast("int")).as("bad"))
      .collect()
      .filter(_.getAs[Long]("n") > 0)
      // range partitions are ordered by key: stitch in PARTITION order so a
      // cross-partition id inversion is caught, not re-sorted away
      .sortBy(_.getAs[Int]("__pid"))
    var expected = 0L
    stats.foreach { r =>
      val (mn, mx, n, bad) = (r.getAs[Long]("min_id"), r.getAs[Long]("max_id"),
                              r.getAs[Long]("n"), r.getAs[Int]("bad"))
      if (bad != 0 || mn != expected || mx != mn + n - 1)
        throw new IllegalArgumentException(
          s"Host vertices are not properly sorted with dense ids " +
          s"(expected ids starting at $expected, saw [$mn,$mx] n=$n bad=$bad)")
      expected = mx + 1
    }
  }
}
