package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.frontier.{AdjacencyFetcher, UrlSeen}

/** The key-clustered adjacency layout (VERDICT r5 item 1): the fetcher must
  * stay EXACT under pruning (superset predicate + semi-join) on the range
  * layout AND on tables that are not range-clustered at all, and the pushed
  * predicates must physically SKIP row groups —
  * the Spark analog of the reference's offset-indexed successor point reads
  * (`Graph.java:160-166`), proven here by the scan node's output-row metric,
  * not by plan text.
  */
class ClusteredAdjSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val n = 200000L
  // ~n rows of (key, outlinks): keys lexicographically ordered by id, two
  // outlinks each — enough bytes that 64 KB row groups yield hundreds of
  // skippable groups per file
  private lazy val adjFlat: DataFrame = spark.range(n).select(
    format_string("https://example.org/k%08d", col("id")).as("key"),
    array(concat(lit("https://t.example/a"), col("id")),
          concat(lit("https://t.example/b"), col("id"))).as("outlinks"))

  private val cl = AdjacencyFetcher.Clustering(buckets = 16)

  private lazy val path: String = {
    val p = Files.createTempDirectory("graft_cadj_spec").toString + "/adj"
    AdjacencyFetcher.writeClustered(adjFlat, p, cl, rowGroupBytes = 64L << 10)
    p
  }

  private def batchOf(ids: Long*): DataFrame =
    ids.toDF("id").select(
      format_string("https://example.org/k%08d", col("id")).as("key"),
      lit("u").as("url"))

  private def fetched(f: AdjacencyFetcher, batch: DataFrame,
                      hint: Option[Long] = None): Set[(String, String)] = {
    fetch(f, batch, hint).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
  }

  /** `f.fetch` with the batch's count, as the frontier passes it, unless a
    * hint overrides it.
    */
  private def fetch(f: AdjacencyFetcher, batch: DataFrame,
                    hint: Option[Long] = None): DataFrame =
    f.fetch(batch, hint.getOrElse(batch.count()))

  /** Rows the file scan EMITTED (post row-group/page pruning) while
    * computing `df` — SQL accumulator metrics of the final adaptive plan,
    * recursing through materialized AQE query stages (scans live inside
    * them, not as leaves of the top-level plan).
    */
  private def scanOutputRows(df: DataFrame): Long = {
    df.collect()
    var rows = List.empty[Long]
    PlanScan.foreachFileScan(df.queryExecution.executedPlan) { f =>
      rows ::= f.metrics("numOutputRows").value
    }
    assert(rows.nonEmpty, "no FileSourceScanExec in the fetch plan")
    rows.sum
  }

  test("openClustered on a table that is not range-clustered fetches exactly the unpruned rows") {
    // the pushed intervals reference only `key`, so on any physical layout
    // they are a superset filter ahead of the exact semi-join: an unsorted
    // table, or a legacy hash-bucket table carrying a stale clustering
    // sidecar, loses pruning, never rows
    val unsorted = Files.createTempDirectory("graft_cadj_plain").toString + "/adj"
    adjFlat.orderBy(xxhash64(col("key"))).write.parquet(unsorted)
    val legacy = Files.createTempDirectory("graft_cadj_hash").toString + "/adj"
    adjFlat.select(UrlSeen.bucketOf(col("key"), 16).as("bucket"),
        col("key"), col("outlinks"))
      .repartition(col("bucket")).sortWithinPartitions("bucket", "key")
      .write.option("parquet.block.size", (64L << 10).toString).parquet(legacy)
    Files.writeString(new java.io.File(legacy, "_graft_clustering.json").toPath,
      """{"buckets":7,"byRange":false}""")
    val plain = new AdjacencyFetcher(adjFlat)
    for (p <- Seq(unsorted, legacy)) {
      val f = AdjacencyFetcher.openClustered(spark, p, cl)
      for (batch <- Seq(batchOf(5L, 77777L, 123456L, n + 50),
                        batchOf(100000L to 100004L: _*), batchOf()))
        assert(fetched(f, batch) == fetched(plain, batch), s"$p diverged")
    }
  }

  test("Clustering(byRange = false) is rejected: range is the only layout") {
    intercept[IllegalArgumentException](AdjacencyFetcher.Clustering(byRange = false))
    intercept[IllegalArgumentException](cl.copy(byRange = false))
  }

  test("codec arm (r6): a snappy-written layout is really snappy, stays exact, still prunes") {
    val p = Files.createTempDirectory("graft_cadj_codec").toString + "/adj"
    AdjacencyFetcher.writeClustered(adjFlat, p, cl, rowGroupBytes = 64L << 10,
      codec = "snappy")
    // the codec param must reach the parquet footer (Spark 4's session
    // default is zstd — a silently-ignored option would still read fine)
    val part = new java.io.File(p).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(part.toString),
        spark.sessionState.newHadoopConf()))
    try {
      val codec = footer.getFooter.getBlocks.get(0).getColumns.get(0).getCodec
      assert(codec == org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
    } finally footer.close()
    val clustered = AdjacencyFetcher.openClustered(spark, p, cl)
    val batch = batchOf(5L, 77777L, 123456L)
    assert(fetched(clustered, batch) ==
      fetched(new AdjacencyFetcher(adjFlat), batch))
    val tight = scanOutputRows(fetch(clustered, batchOf(100000L to 100004L: _*)))
    assert(tight < n / 40, s"snappy-arm tight scan emitted $tight of $n rows")
  }

  test("coverage guard (r7): few-but-WIDE intervals choose the plain scan; narrow ones still prune") {
    // a batch passing the interval-COUNT cap can still cover ~the whole key
    // span (two keys at opposite ends of one giant host cluster): pushing
    // that interval skips nothing and pays the per-row OR — the keySpan
    // openClustered reads from the parquet footers lets fetch estimate
    // coverage and skip the predicate (VERDICT r6 item 6)
    val m = 50000L
    val oneHost = spark.range(m).select(
      format_string("com,widehost)/page/%08d", col("id")).as("key"),
      array(concat(lit("https://t.example/x"), col("id"))).as("outlinks"))
    val p = Files.createTempDirectory("graft_cadj_cov").toString + "/adj"
    AdjacencyFetcher.writeClustered(oneHost, p, cl, rowGroupBytes = 64L << 10)
    val f = AdjacencyFetcher.openClustered(spark, p, cl)
    def keysOf(ids: Long*): DataFrame = ids.toDF("id").select(
      format_string("com,widehost)/page/%08d", col("id")).as("key"))
    def pushedIntervalFilters(batch: DataFrame): Boolean = {
      val df = f.fetch(batch, batch.count())
      df.collect()
      var pushed = false
      PlanScan.foreachFileScan(df.queryExecution.executedPlan) { s =>
        if (s.metadata.getOrElse("PushedFilters", "")
              .contains("GreaterThanOrEqual(key")) pushed = true
      }
      pushed
    }
    // one NARROW interval (adjacent keys): predicate pushed, rows pruned
    assert(pushedIntervalFilters(keysOf(100L, 101L)),
      "narrow interval lost its pushed predicate")
    val tight = scanOutputRows(fetch(f, keysOf(100L, 101L)))
    assert(tight < m / 10, s"narrow interval scan emitted $tight of $m rows")
    // one WIDE interval (the two extreme keys of the single host cluster):
    // same count cap, ~full-span coverage — the guard must take the plain
    // scan (no pushed interval), and the result stays exact
    val wide = keysOf(0L, m - 1)
    assert(!pushedIntervalFilters(wide),
      "wide interval was pushed — the coverage guard did not fire")
    assert(fetched(f, wide.withColumn("url", lit("u"))) ==
      fetched(new AdjacencyFetcher(oneHost), wide.withColumn("url", lit("u"))))
    // the span the guard consumed is the table's exact key span: the
    // footer min/max equals a full scan's min/max(key)
    val table = spark.read.parquet(p)
    val mm = table.agg(min("key"), max("key")).head
    assert(AdjacencyFetcher.footerKeySpan(table) ==
      Some((mm.getString(0), mm.getString(1))))
    // without key statistics the span is unknown: the guard is off, the
    // wide interval is pushed, and the fetch stays exact
    val noStats = Files.createTempDirectory("graft_cadj_nostats").toString + "/adj"
    AdjacencyFetcher.clusterAdjacency(oneHost, cl)
      .write.option("parquet.column.statistics.enabled", "false").parquet(noStats)
    assert(AdjacencyFetcher.footerKeySpan(spark.read.parquet(noStats)).isEmpty)
    assert(fetched(AdjacencyFetcher.openClustered(spark, noStats, cl),
        wide.withColumn("url", lit("u"))) ==
      fetched(new AdjacencyFetcher(oneHost), wide.withColumn("url", lit("u"))))
  }

  test("[range] pruned fetch is exact: parity with unclustered, missing keys, dups, empty") {
    val plain = new AdjacencyFetcher(adjFlat)
    val clustered = AdjacencyFetcher.openClustered(spark, path, cl)
    // scattered keys + one key absent from adj + a duplicate selected key
    val batch = batchOf(5L, 77777L, 123456L, 123456L, n + 50)
    val exp = fetched(plain, batch)
    assert(exp.map(_._1) == Set(
      "https://example.org/k00000005", "https://example.org/k00077777",
      "https://example.org/k00123456"))
    assert(fetched(clustered, batch) == exp)
    // dense fallback (count above MaxPruneKeys): same rows
    assert(fetched(clustered, batch, hint = Some(AdjacencyFetcher.MaxPruneKeys + 1)) == exp)
    // a fetcher constructed directly over the table (no footer key span)
    val explicit = new AdjacencyFetcher(spark.read.parquet(path), Some(cl))
    assert(fetched(explicit, batch) == exp)
    // a null key in the batch is ignored, not an NPE (the keys are
    // collected driver-side)
    val withNull = batchOf(5L).unionByName(
      Seq((null: String, "u")).toDF("key", "url"))
    assert(fetched(clustered, withNull) ==
      Set(("https://example.org/k00000005", "https://t.example/a5"),
          ("https://example.org/k00000005", "https://t.example/b5")))
    // empty batch
    assert(fetched(clustered, batchOf()) == Set.empty)
  }

  test("[range] pushed predicate physically skips row groups") {
    val clustered = AdjacencyFetcher.openClustered(spark, path, cl)
    val full = scanOutputRows(
      fetch(new AdjacencyFetcher(spark.read.parquet(path)), batchOf(1L)))
    assert(full == n) // unpruned semi-join scans every row
    // adjacent keys collapse to ONE pushed interval (~1-2 surviving row
    // groups)
    val tight = scanOutputRows(fetch(clustered, batchOf(100000L to 100004L: _*)))
    assert(tight < n / 40, s"tight scan emitted $tight of $n rows")
    // scattered keys across the key space: still a clear skip vs full
    val scattered = scanOutputRows(fetch(clustered, batchOf(3L, 50000L, 199999L)))
    assert(scattered < n / 2, s"scattered scan emitted $scattered of $n rows")
  }
}
