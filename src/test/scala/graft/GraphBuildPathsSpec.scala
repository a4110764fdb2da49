package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

/** The in-driver path of `HostGraph.build` and `DomainGraph.fold` against
  * their Spark plans (`buildSpark`, `foldSpark`): same rows, schema and
  * nullability, one load job for the public call, and nothing left in the
  * cache manager.
  */
class GraphBuildPathsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Reversed host names. Some have no registered domain (a public suffix
    * alone), several fold into one domain, and the non-ASCII ones order
    * differently in UTF-8 bytes and in Java's UTF-16 `String` order:
    * U+FF5E is EF BD 9E in UTF-8 but sorts after the surrogate pair of
    * U+1F600 (F0 9F 98 80) in UTF-16, and so does U+E000.
    */
  private val hosts = Seq(
    "com", "uk.co", "com.example", "com.example.www", "com.example.img",
    "uk.co.bbc", "uk.co.bbc.news", "org.wikipedia.de", "org.wikipedia.en",
    "de.münchen", "de.münchen.www", "com.～", "com.～.www",
    "com.😀", "com.😀.a", "com.𝔘nicode",
    "com.", "net.ab", "net.a-b", "net.a.b")

  /** Seeded random links over `hosts` (hand-rolled LCG, as in
    * StarWccSpec), with repeats and self-loops.
    */
  private def randomLinks(m: Int, seed: Long): Seq[(String, String)] = {
    var s = seed
    def next(): String = {
      s = s * 6364136223846793005L + 1442695040888963407L
      hosts(math.floorMod(s >>> 16, hosts.size.toLong).toInt)
    }
    val links = (0 until m).map(_ => (next(), next()))
    links ++ links.take(m / 4) ++ links.take(3).map { case (a, _) => (a, a) }
  }

  private def rows(df: DataFrame, order: String*): Seq[Row] =
    df.orderBy(order.map(col): _*).collect().toSeq

  private def edgeRows(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  /** Both paths return the same rows and schemas. */
  private def sameBuild(links: DataFrame): (DataFrame, DataFrame) = {
    val (v, e) = HostGraph.build(links)
    val (sv, se) = HostGraph.buildSpark(links)
    assert(v.schema == sv.schema)
    assert(e.schema == se.schema)
    assert(rows(v, "id") == rows(sv, "id"))
    assert(edgeRows(e).sorted == edgeRows(se).sorted)
    (v, e)
  }

  private def sameFold(v: DataFrame, e: DataFrame, opts: DomainGraph.Options): DomainGraph.Result = {
    val (r, s) = (DomainGraph.fold(v, e, opts), DomainGraph.foldSpark(v, e, opts))
    assert(r.vertices.schema == s.vertices.schema)
    assert(r.edges.schema == s.edges.schema)
    assert(r.hostToDomain.schema == s.hostToDomain.schema)
    assert(rows(r.vertices, "id") == rows(s.vertices, "id"))
    assert(edgeRows(r.edges).sorted == edgeRows(s.edges).sorted)
    assert(rows(r.hostToDomain, "host_id", "domain_id") == rows(s.hostToDomain, "host_id", "domain_id"))
    r
  }

  test("build and fold: both paths agree on seeded random link sets") {
    spark.catalog.clearCache()
    var javaOrderDiffers = false
    var unmapped = 0
    for ((m, seed) <- Seq((40, 3L), (120, 5L), (7, 9L))) {
      val (v, e) = sameBuild(randomLinks(m, seed).toDF("from_host", "to_host"))
      // the driver path's edges come in (from_id, to_id) order
      assert(edgeRows(e) == edgeRows(e).sorted)
      // names are numbered in UTF-8 byte order, not Java's String order
      val names = rows(v, "id").map(_.getString(1))
      val utf8 = names.map(_.getBytes("UTF-8").map(_ & 0xff).toSeq)
      assert(utf8 == utf8.sorted(Ordering.Implicits.seqOrdering[Seq, Int]))
      javaOrderDiffers ||= names != names.sorted
      for (opts <- Seq(DomainGraph.Options(), DomainGraph.Options(countHosts = false),
                       DomainGraph.Options(aggregation = DomainGraph.HostWithoutWww))) {
        val r = sameFold(v, e, opts)
        assert(edgeRows(r.edges) == edgeRows(r.edges).sorted)
        // hosts without a registered domain ("com", "uk.co") map nowhere
        val mapped = r.hostToDomain.collect().map(_.getLong(0)).toSet
        val suffixes = v.filter(col("rev_name").isin("com", "uk.co")).collect().map(_.getLong(0))
        if (opts.aggregation == DomainGraph.RegisteredDomain)
          assert(suffixes.forall(!mapped(_)))
        unmapped += suffixes.length
      }
    }
    assert(javaOrderDiffers && unmapped > 0)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("both paths on non-null columns, a written graph, and empty edges") {
    spark.catalog.clearCache()
    val links = randomLinks(60, 11L).toDF("from_host", "to_host")
    val nonNull = links.select(coalesce(col("from_host"), lit("")).as("from_host"),
      coalesce(col("to_host"), lit("")).as("to_host"))
    assert(nonNull.schema.forall(!_.nullable))
    sameBuild(nonNull)
    val (v, e) = sameBuild(links)
    val dir = java.nio.file.Files.createTempDirectory("graft_graph_paths").toString
    v.write.parquet(s"$dir/v")
    e.write.parquet(s"$dir/e")
    val (wv, we) = (spark.read.parquet(s"$dir/v"), spark.read.parquet(s"$dir/e"))
    sameFold(wv, we, DomainGraph.Options())
    // the q_domain_fold shape: hosts only, no arcs
    val none = spark.range(0).select(col("id").as("from_id"), col("id").as("to_id"))
    val r = sameFold(v, none, DomainGraph.Options())
    assert(r.edges.count() == 0 && r.vertices.count() > 0)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("the public calls start one load job, the Spark plans more") {
    spark.catalog.clearCache()
    val links = randomLinks(50, 13L).toDF("from_host", "to_host")
    var built: (DataFrame, DataFrame) = null
    val buildJobs = JobRecorder.during(spark) { built = HostGraph.build(links) }
    assert(buildJobs.size == 1, buildJobs)
    val v = built._1.localCheckpoint()
    val e = built._2.localCheckpoint()
    val foldJobs = JobRecorder.during(spark) { DomainGraph.fold(v, e) }
    assert(foldJobs.size == 1, foldJobs)
    val sparkJobs = JobRecorder.during(spark) {
      HostGraph.buildSpark(links)._2.collect()
      DomainGraph.foldSpark(v, e).edges.collect()
    }
    assert(sparkJobs.size > 2, sparkJobs)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("declines: a null name builds on Spark, a repeated host id folds on Spark") {
    spark.catalog.clearCache()
    val links = (randomLinks(20, 17L).map { case (a, b) => (Option(a), Option(b)) } :+
      ((Some("com.example"), None: Option[String]))).toDF("from_host", "to_host")
    sameBuild(links)
    val v = Seq((0L, "com.example"), (1L, "com.example.www"), (1L, "org.example"), (2L, "uk.co.bbc"))
      .toDF("id", "rev_name")
    val e = Seq((0L, 1L), (1L, 2L), (2L, 0L), (3L, 0L)).toDF("from_id", "to_id")
    sameFold(v, e, DomainGraph.Options())
    // int ids are not the kernel's type: the Spark plan runs
    sameFold(v.select(col("id").cast("int").as("id"), col("rev_name")), e, DomainGraph.Options())
    assert(spark.sharedState.cacheManager.isEmpty)
  }
}
