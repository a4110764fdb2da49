package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.gf
import graft.operators.{ConnectedComponents, DenseIds, DomainGraph, Explore, HarmonicCentrality, HostGraph, PageRank, PreferenceVector, Ranking}
import graft.sources.SynthDocs

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `entry` runs the flagship end-to-end slice; `queries` is one entry per
  * implemented operator from SURVEY.md §2, each runnable on a testdata dir
  * and (where SQL-expressible) checked against DuckDB via `oracleSql`.
  */
object SparkEntry {

  /** Flagship: docs → outlink extraction (+ robots.txt `Sitemap:` links) →
    * host graph → domain fold → top-10 domains by indegree (SURVEY.md §7.5
    * — the minimum end-to-end slice through scan, explode, custom
    * expressions, groupBy, dense-id assignment, joins, sort, limit).
    *
    * Sitemap links are a link class the reference's host graph ingests BY
    * DEFAULT (`hostgraph_config.sh:19-21`,
    * INCLUDE_ROBOTSTXT_SITEMAP_LINKS=true), so the flagship slice unions
    * them in (VERDICT r5 item 5): every corpus host's synthetic robots.txt
    * names one central sitemap host, whose domain therefore shows up in the
    * top-10 by indegree (FlagshipSpec pins it).
    */
  def entry(spark: SparkSession): DataFrame = {
    import graft.frontier.Robots
    val docs = SynthDocs.docs(spark, 2000, 100).toDF()
    val robotsBodies = spark.range(100).select(
      gf.reverse_host(SynthDocs.hostName(col("id").cast("int"))).as("rev_host"),
      lit("User-agent: *\nSitemap: https://sitemaps.example.com/sitemap.xml")
        .as("body"))
    val sitemapLinks = Robots.sitemapHostLinks(Robots.parseFull(robotsBodies))
    val links = HostGraph.hostLinks(docs).unionByName(sitemapLinks)
    val (hostV, hostE) = HostGraph.build(links)
    val dom = DomainGraph.fold(hostV, hostE)
    val indeg = dom.edges.groupBy("to_id").agg(count(lit(1)).as("indegree"))
    dom.vertices
      .join(indeg, dom.vertices("id") === indeg("to_id"))
      .select(col("rev_name"), col("num_hosts"), col("indegree"))
      .orderBy(desc("indegree"), asc("rev_name"))
      .limit(10)
  }

  // ---- operator queries over the driver testdata (oracle-checked) ----
  // Column names are aligned 1:1 with oracleSql; double aggregates rounded
  // identically on both sides so value hashes match.

  private def t(dir: String, name: String) = s"$dir/$name.parquet"

  /** Deterministic derived graph over `nation` (25 nodes) used by the graph
    * operator queries; the oracle SQL reconstructs the same edges.
    * Chain within each group of 5 (`n → n-1` unless n%5==0) + region star.
    */
  private def nationGraph(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val nation = s.read.parquet(t(dir, "nation"))
    val nodes = nation.select(col("n_nationkey").cast("long").as("id"))
    val chain = nation.filter(col("n_nationkey") % 5 =!= 0)
      .select(col("n_nationkey").cast("long").as("from_id"),
              (col("n_nationkey") - 1).cast("long").as("to_id"))
    val star = nation
      .select(col("n_nationkey").cast("long").as("from_id"),
              (col("n_regionkey") * 5).cast("long").as("to_id"))
      .filter(col("from_id") =!= col("to_id"))
    (nodes, chain.union(star).distinct())
  }

  /** Derived supplier→part edge list (distinct) for degree queries. */
  private def lineitemEdges(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(t(dir, "lineitem"))
      .select(col("l_suppkey").cast("long").as("from_id"),
              col("l_partkey").cast("long").as("to_id"))
      .distinct()

  /** The shared 3-round oracle-checked crawl behind q_frontier_log /
    * q_frontier_adj / q_frontier_delay: a 400-doc corpus whose link
    * structure is arithmetic-only (quadratic-skew host index, modular link
    * targets — no engine hashes), so the ENTIRE stateful crawl is
    * replicated in DuckDB as an unrolled 3-round CTE and hash-checked.
    *
    * @param mkFetcher  fetcher over the interleaved docs (unclustered or
    *                   clustered — both must produce byte-identical logs)
    * @param budgetsOverride politeness budgets; default = (h%3)+1 tokens
    * @param robotsOverride  robots rule table; default = host 14's
    *                        Disallow /page/1 + longer Allow /page/12 (both
    *                        RFC 9309 directives bite in the schedule)
    */
  private def frontierCrawl(s: SparkSession, dir: String,
      mkFetcher: DataFrame => graft.frontier.AdjacencyFetcher,
      budgetsOverride: Option[DataFrame] = None,
      robotsOverride: Option[DataFrame] = None): DataFrame = {
    import graft.frontier.{Frontier, UrlSeen}
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_frontier").toString
    val c = Frontier.Config(root, defaultTokens = 2, saltBuckets = 4,
      seenCfg = UrlSeen.Config(buckets = 4, bitsPerBucket = 1 << 14, numHashes = 5))
    val n = 400L
    // host index: quadratic-skew integer arithmetic (host 0 hottest);
    // exact in both engines — (x - x mod d)/d is integer division
    def hostOf(i: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      val m = pmod(i * 31, lit(101L))
      val x = m * m * lit(30L)
      ((x - pmod(x, lit(10201L))) / lit(10201L)).cast("int")
    }
    def urlOf(i: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      concat(lit("https://site"), hostOf(i), lit(".com/page/"), i)
    val base = s.read.parquet(t(dir, "documents"))
      .filter(col("doc_id") < n).select(col("doc_id").cast("long").as("i"))
    // interleaved input_hint shape: text spans embed two outlink URLs,
    // every third doc adds a media span whose media_ref is a third link
    val textSpan = struct(lit("text").as("kind"),
      concat(lit("lorem "), urlOf(pmod(col("i") * 17 + 1, lit(n))),
        lit(" ipsum "), urlOf(pmod(col("i") * 23 + 5, lit(n))),
        lit(" dolor")).as("text"),
      lit(null).cast("string").as("media_ref"), lit(0).as("offset"))
    val mediaSpan = struct(lit("media").as("kind"),
      lit(null).cast("string").as("text"),
      urlOf(pmod(col("i") * 29 + 11, lit(n))).as("media_ref"),
      lit(200).as("offset"))
    val docs = base.select(urlOf(col("i")).as("doc_id"),
      when(pmod(col("i"), lit(3L)) === 0, array(textSpan, mediaSpan))
        .otherwise(array(textSpan)).as("spans"))
    val fetcher = mkFetcher(docs)
    val priorities = s.range(0, 30, 1, 1).select(
      concat(lit("com.site"), col("id")).as("rev_host"),
      ((pmod(col("id") * 13, lit(17L)) + 1) / lit(16.0)).as("priority"))
    val budgets = budgetsOverride.getOrElse(s.range(0, 30, 1, 1).select(
      concat(lit("com.site"), col("id")).as("rev_host"),
      (pmod(col("id"), lit(3L)) + 1).cast("int").as("tokens_per_round")))
    // RFC 9309 longest-match in the oracle-checked path, with BOTH
    // directives verified live: on site14 the crawl schedules /page/12 and
    // /page/188 without rules; Disallow /page/1 removes both, and the
    // LONGER Allow /page/12 restores exactly /page/12 — so the hash check
    // fails if either the disallow or the allow precedence regresses
    val robots = robotsOverride.getOrElse(
      Seq(("com.site14", Seq("/page/1"), Seq("/page/12")))
        .toDF("rev_host", "disallow_prefixes", "allow_prefixes"))
    Frontier.init(s, c, s.range(0, 8, 1, 1).select(urlOf(col("id")).as("url")),
      priorities, robots)
    Frontier.run(s, c, fetcher, 3, budgets, robots, priorities)
    Frontier.fetchLog(s, c)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    base ++ graphQueries ++ TextQueries.queries

  private def base: Map[String, (SparkSession, String) => DataFrame] = Map(
    // D1-style hash aggregation with partial agg (TPC-H Q1 shape)
    "q_agg" -> ((s, dir) => {
      s.read.parquet(t(dir, "lineitem"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum("l_quantity"), 2).as("sum_qty"),
             round(sum("l_extendedprice"), 2).as("sum_price"),
             count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus")
    }),
    // D4: string frequency count, (count desc, key asc) — GraphExplorer.java:305-313
    "q_freq" -> ((s, dir) => {
      s.read.parquet(t(dir, "events"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), asc("event_type"))
    }),
    // B2: reverse_host custom expression over a derived host column
    "q_reverse_host" -> ((s, dir) => {
      s.read.parquet(t(dir, "documents"))
        .select(gf.reverse_host(concat(col("source"), lit(".example.com"))).as("rev_host"))
        .groupBy("rev_host").agg(count(lit(1)).as("cnt"))
        .orderBy("rev_host")
    }),
    // B3: strip_www (www.com edge case preserved)
    "q_strip_www" -> ((s, dir) => {
      s.read.parquet(t(dir, "documents"))
        .select(gf.strip_www(
          when(col("doc_id") % 2 === 0, concat(lit("www."), col("source"), lit(".org")))
            .otherwise(lit("www.com"))).as("host"))
        .groupBy("host").agg(count(lit(1)).as("cnt"))
        .orderBy("host")
    }),
    // B11/A7: url_host validation + extraction over derived URLs
    "q_url_host" -> ((s, dir) => {
      s.read.parquet(t(dir, "documents"))
        .select(gf.url_host(
          concat(lit("https://www."), col("source"), lit(".com:443/p/"), col("doc_id"))).as("host"))
        .groupBy("host").agg(count(lit(1)).as("cnt"))
        .orderBy("host")
    }),
    // E6: top-k by measure with filter pushdown (TakeOrderedAndProject)
    "q_topk" -> ((s, dir) => {
      s.read.parquet(t(dir, "lineitem"))
        .filter(col("l_quantity") > 30)
        .select(col("l_orderkey"), col("l_linenumber"), round(col("l_extendedprice"), 2).as("price"))
        .orderBy(desc("price"), asc("l_orderkey"), asc("l_linenumber"))
        .limit(100)
    }),
    // D3/E1: dense id assignment in sort order (scalable two-pass) over
    // distinct derived names — ids must equal DuckDB row_number()-1
    "q_dense_ids" -> ((s, dir) => {
      val names = s.read.parquet(t(dir, "customer"))
        .select(lower(col("c_name")).as("name")).distinct()
      DenseIds.assign(names, "name").select(col("id"), col("name")).orderBy("id")
    })
  )

  private def graphQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // D8: out-degrees over a distinct edge list
    "q_degrees" -> ((s, dir) => {
      Ranking.outDegrees(lineitemEdges(s, dir)).orderBy("id")
    }),
    // D9: degree distribution
    "q_degree_dist" -> ((s, dir) => {
      Ranking.degreeDistribution(
        Ranking.outDegrees(lineitemEdges(s, dir)), "outdeg")
    }),
    // E1/C2: rank assignment by (value desc, id asc) + rank join
    "q_rank_join" -> ((s, dir) => {
      val sup = s.read.parquet(t(dir, "supplier"))
      val vertices = sup.select(col("s_suppkey").cast("long").as("id"),
                                lower(col("s_name")).as("rev_name"))
      val scores = sup.select(col("s_suppkey").cast("long").as("id"),
                              col("s_acctbal").as("hc_val"),
                              (col("s_acctbal") % 97).as("pr_val"))
      Ranking.joinRanks(vertices, scores)
        .select(col("hc_rank"), col("pr_rank"), col("rev_name"))
    }),
    // F2: PageRank, 3 fixed power iterations (oracle = chained CTEs)
    "q_pagerank" -> ((s, dir) => {
      val (nodes, edges) = nationGraph(s, dir)
      PageRank.run(nodes, edges, maxIter = 3, tol = 0.0, redistributeDangling = false)
        .select(col("id"), round(col("pr_val"), 6).as("pr_val"))
        .orderBy("id")
    }),
    // F4: weak connected components (closed-form oracle; StarWccSpec pins
    // both paths of `weak` against a sequential BFS on random graphs)
    "q_components" -> ((s, dir) => {
      val nation = s.read.parquet(t(dir, "nation"))
      val nodes = nation.select(col("n_nationkey").cast("long").as("id"))
      val chain = nation.filter(col("n_nationkey") % 5 =!= 0)
        .select(col("n_nationkey").cast("long").as("from_id"),
                (col("n_nationkey") - 1).cast("long").as("to_id"))
      ConnectedComponents.weak(nodes, chain).orderBy("id")
    }),
    // F3: exact harmonic centrality (closed-form oracle on the chain graph)
    "q_harmonic" -> ((s, dir) => {
      val nation = s.read.parquet(t(dir, "nation"))
      val nodes = nation.select(col("n_nationkey").cast("long").as("id"))
      val chain = nation.filter(col("n_nationkey") % 5 =!= 0)
        .select(col("n_nationkey").cast("long").as("from_id"),
                (col("n_nationkey") - 1).cast("long").as("to_id"))
      HarmonicCentrality.exact(nodes, chain)
        .select(col("id"), round(col("hc_val"), 5).as("hc_val"))
        .orderBy("id")
    }),
    // C4: full-outer join of two rank files, '---' fill
    "q_full_outer" -> ((s, dir) => {
      val sup = s.read.parquet(t(dir, "supplier"))
      val a = sup.filter(col("s_acctbal") > 0)
        .select(lower(col("s_name")).as("name"), col("s_suppkey").cast("string").as("hc"))
      val b = sup.filter(col("s_suppkey") % 2 === 0)
        .select(lower(col("s_name")).as("name"), col("s_suppkey").cast("string").as("pr"))
      a.join(b, Seq("name"), "full_outer")
        .select(col("name"), coalesce(col("hc"), lit("---")).as("hc"),
                coalesce(col("pr"), lit("---")).as("pr"))
        .orderBy("name")
    }),
    // C3/D12: preference vector semi-join with defaults
    "q_pref_vector" -> ((s, dir) => {
      val cust = s.read.parquet(t(dir, "customer"))
      val vertices = cust.select(col("c_custkey").cast("long").as("id"),
                                 lower(col("c_name")).as("rev_name"))
      val prefSet = cust.filter(col("c_nationkey") === 5)
        .select(lower(col("c_name")).as("rev_name"))
      PreferenceVector.create(vertices, prefSet)
        .select(col("id"), round(col("pref"), 9).as("pref"))
    }),
    // D5/B10: TLD frequency of derived hosts
    "q_tld_counts" -> ((s, dir) => {
      val docs = s.read.parquet(t(dir, "documents"))
      val host = concat(col("source"),
        when(col("doc_id") % 3 === 0, lit(".com"))
          .when(col("doc_id") % 3 === 1, lit(".org"))
          .otherwise(lit(".net")))
      docs.select(gf.tld(gf.reverse_host(host)).as("tld"))
        .groupBy("tld").agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), asc("tld"))
    }),
    // C6: intersection as left-semi join
    "q_intersect" -> ((s, dir) => {
      val c = s.read.parquet(t(dir, "customer")).select(col("c_custkey").cast("long").as("id"))
      val o = s.read.parquet(t(dir, "orders")).select(col("o_custkey").cast("long").as("id"))
      Explore.intersect(c, o)
    }),
    // C7: difference as left-anti join. The subtrahend is RESTRICTED
    // (custkey % 3 != 0) so the difference is provably non-empty at every
    // scale factor — at sf0.001/sf0.01 the unrestricted customer ∖ orders
    // is the empty set and the gate row was vacuous (VERDICT r4 item 4).
    "q_difference" -> ((s, dir) => {
      val c = s.read.parquet(t(dir, "customer")).select(col("c_custkey").cast("long").as("id"))
      val o = s.read.parquet(t(dir, "orders")).filter(col("o_custkey") % 3 =!= 0)
        .select(col("o_custkey").cast("long").as("id"))
      Explore.difference(c, o)
    }),
    // D7: shared successors k-of-n
    "q_shared_succ" -> ((s, dir) => {
      Explore.sharedSuccessors(lineitemEdges(s, dir), Seq(1L, 2L, 3L, 4L),
        minShared = 2, maxShared = 4)
    }),
    // A8: adjacency lists (sorted successor arrays, string-encoded)
    "q_adjacency" -> ((s, dir) => {
      Explore.adjacency(lineitemEdges(s, dir).filter(col("from_id") <= 20))
        .select(col("id"), concat_ws(",", col("successors")).as("successors"))
        .orderBy("id")
    }),
    // E4/B6: global numeric edge sort + dedup
    "q_sorted_edges" -> ((s, dir) => {
      lineitemEdges(s, dir).orderBy("from_id", "to_id").limit(1000)
    }),
    // D11: subgraph metrics for a member set
    "q_subgraph" -> ((s, dir) => {
      val members = s.range(0, 50, 1, 1).select(col("id"))
      Explore.subgraphMetrics(lineitemEdges(s, dir), members)
    }),
    // I: SURT canonicalization custom expression (north_star)
    "q_surt" -> ((s, dir) => {
      s.read.parquet(t(dir, "documents"))
        .select(gf.surt(concat(lit("https://www."), col("source"), lit(".com/p/"),
          col("doc_id"), lit("?b=2&a=1"))).as("surt_key"))
        .groupBy("surt_key").agg(count(lit(1)).as("cnt"))
        .orderBy("surt_key")
    }),
    // North-star robots.txt cache: REAL robots.txt parsing (declarative
    // plan, no UDFs) over synthetic bodies covering case-insensitive keys,
    // comments, empty Disallow/Allow, multi-agent groups, duplicate
    // prefixes, agent-specificity (exact name beats *), RFC 9309 Allow
    // rules and Crawl-delay (smallest value of the winning group wins);
    // expected rules are analytic
    "q_robots_parse" -> ((s, dir) => {
      import graft.frontier.Robots
      val i = col("doc_id")
      val body =
        when(i % 4 === 0, concat(
          lit("User-agent: *\nDisallow: /a"), i,
          lit("\nDisallow:\n# note\nUser-agent: graftbot\nDisallow: /g"), i,
          lit("\nAllow: /g"), i, lit("/ok\nCrawl-delay: 4")))
        .when(i % 4 === 1, concat(
          lit("user-agent: GraftBot\nuser-agent: otherbot\nDisallow: /w"), i,
          lit("\nDisallow: /w"), i, lit("\nallow:\ncrawl-delay: 2.5")))
        .when(i % 4 === 2, lit("User-agent: otherbot\nDisallow: /x\nCrawl-delay: 9"))
        .otherwise(lit("# comments only\nDisallow: /orphan"))
      Robots.parseFull(
        s.read.parquet(t(dir, "documents")).filter(i < 50)
          .select(concat(lit("com.site"), i).as("rev_host"), body.as("body")),
        agent = "graftbot")
        .select(col("rev_host"),
          array_join(col("disallow_prefixes"), "|").as("disallow"),
          array_join(col("allow_prefixes"), "|").as("allow"),
          col("crawl_delay"))
        .orderBy("rev_host")
    }),
    // Crawl-delay → politeness budgets at the driver gate (VERDICT r3
    // item 4): parse real bodies (winning-group scoping, min-of-group,
    // fractional seconds), derive tokens_per_round = max(1, floor(60/d)),
    // and apply the explicit-override merge — all analytic in the oracle
    "q_crawl_delay" -> ((s, dir) => {
      import graft.frontier.{Frontier, Robots}
      import s.implicits._
      val i = col("doc_id")
      // delay = (i%7)*3 seconds; 0 → directive absent (host dropped unless
      // overridden); exact-agent group (delay/2) beats the wildcard's
      val body =
        when(i % 7 === 0, lit("User-agent: *\nDisallow: /none"))
          .otherwise(concat(
            lit("User-agent: *\nCrawl-delay: "), (i % 7) * 3,
            lit("\nUser-agent: graftbot\nCrawl-delay: "), (i % 7) * lit(1.5)))
      val rules = Robots.parseFull(
        s.read.parquet(t(dir, "documents")).filter(i < 60)
          .select(concat(lit("com.site"), i).as("rev_host"), body.as("body")),
        agent = "graftbot")
      val explicit = s.range(0, 10, 1, 1)
        .select(concat(lit("com.site"), col("id") * 7).as("rev_host"),
          (col("id") + 2).cast("int").as("tokens_per_round"))
      Frontier.budgetsWithRobots(explicit, rules, roundSeconds = 60.0)
        .orderBy("rev_host")
    }),
    // RFC 9309 §2.2.2/§2.2.3 rule DECISION oracle-checked row by row: fixed
    // rule set (wildcard disallow '/p/1*', anchored disallow '/*.pdf$',
    // longer wildcard allow '/p/1*.pdf') against arithmetic paths — the
    // DuckDB oracle derives each verdict analytically from doc_id, so any
    // regression in escaping, anchoring, wildcard spanning, or the
    // longest-match/Allow-wins-ties precedence flips a row
    "q_rep_match" -> ((s, dir) => {
      import graft.frontier.Robots
      val i = col("doc_id")
      val path = concat(lit("/p/"), i,
        when(i % 3 === 0, lit(".pdf")).otherwise(lit("")))
      s.read.parquet(t(dir, "documents")).filter(i < 200)
        .select(path.as("path"),
          Robots.allowed(path,
            typedLit(Seq("/p/1*", "/*.pdf$")),
            typedLit(Seq("/p/1*.pdf"))).as("fetchable"))
        .orderBy("path")
    }),
    // robots.txt `Sitemap:` directives → host-graph link tuples (the
    // reference's default-on link class, `hostgraph_config.sh:19-21`,
    // `build_hostgraph.sh:151-152`): host-wide records (group-independent),
    // multiple sitemaps per host, cross-host targets, reverse_host/url_host
    // canonicalization of the target
    "q_sitemap_links" -> ((s, dir) => {
      import graft.frontier.Robots
      val i = col("doc_id")
      val body = concat(
        lit("User-agent: *\nDisallow: /x\nSitemap: https://maps"), i % 5,
        lit(".example.org/sm/"), i, lit(".xml"),
        when(i % 3 === 0, concat(lit("\nUser-agent: otherbot\nSitemap: https://cdn.site"),
          i, lit(".net/a.xml"))).otherwise(lit("")))
      Robots.sitemapHostLinks(Robots.parseFull(
        s.read.parquet(t(dir, "documents")).filter(i < 40)
          .select(concat(lit("com.site"), i).as("rev_host"), body.as("body")),
        agent = "graftbot"))
        .orderBy("from_host", "to_host")
    }),
    // A1/A2/A4: the reference's TSV graph interchange, round-tripped through
    // the REAL sorted-gzip sink and schema-on-read scan — any quoting,
    // ordering, schema, or compression bug in the IO seam breaks the hash
    "q_tsv_roundtrip" -> ((s, dir) => {
      import graft.sources.TextGraphIO
      val root = java.nio.file.Files.createTempDirectory("graft_tsv").toString
      val docs = s.read.parquet(t(dir, "documents")).filter(col("doc_id") < 500)
      val verts = docs.select(col("doc_id").cast("long").as("id"),
        concat(lit("com."), col("source"), lit("."), col("doc_id")).as("rev_name"),
        (col("doc_id") % 7 + 1).cast("long").as("num_hosts"))
      val edges = docs.select(col("doc_id").cast("long").as("from_id"),
        pmod(col("doc_id") * 7 + 3, lit(500)).cast("long").as("to_id"))
      TextGraphIO.writeVertices(verts, s"$root/vertices")
      TextGraphIO.writeEdges(edges, s"$root/edges")
      TextGraphIO.readEdges(s, s"$root/edges")
        .join(TextGraphIO.readVertices(s, s"$root/vertices"),
              col("from_id") === col("id"))
        .select(col("from_id"), col("to_id"), col("rev_name"), col("num_hosts"))
        .orderBy("from_id", "to_id")
    }),
    // A3/A5: the reference's binary float score-vector interchange (BinIO
    // big-endian, offset = id × 4), round-tripped through the REAL dense-id
    // writer and file reader; k/16 values are float-exact so the oracle is
    // full-value
    "q_binvec_roundtrip" -> ((s, dir) => {
      import graft.sources.BinaryVectors
      val root = java.nio.file.Files.createTempDirectory("graft_binvec").toString
      val v = s.read.parquet(t(dir, "documents")).filter(col("doc_id") < 500)
        .select(col("doc_id").cast("long").as("id"),
          (col("doc_id") % 1000) / lit(16.0) as "value")
      BinaryVectors.writeFloats(v, s"$root/ranks.bin")
      BinaryVectors.readFloats(s, s"$root/ranks.bin")
        .select(col("id"), col("value").cast("double").as("value"))
        .orderBy("id")
    }),
    // North-rule core: 3 REAL frontier rounds (salted politeness top-k,
    // Bloom-pruned exact seen-set, robots-at-enqueue, delta-pending commits,
    // round markers) — with a corpus whose link structure is arithmetic-only
    // (quadratic-skew host index, modular link targets; no engine hashes),
    // so the ENTIRE stateful crawl — selection, ordering, robots, seen-set,
    // all 3 rounds — is replicated in DuckDB as an unrolled 3-round CTE and
    // hash-checked end to end. The frontier machinery underneath is the real
    // path (the bloom prunes, the exact anti-join decides). SynthDocs +
    // harmonic-priority wiring stays covered by FrontierSpec/ScalingBench.
    "q_frontier_log" -> ((s, dir) => {
      import graft.frontier.CorpusFetcher
      frontierCrawl(s, dir, CorpusFetcher(_))
    }),
    // A7 adjacency layout INSIDE the hash-checked crawl (VERDICT r4 item
    // 2, upgraded r6 per VERDICT r5 item 1): the identical 3-round crawl
    // routed through a KEY-CLUSTERED AdjacencyFetcher — the link table is
    // WRITTEN range-clustered (`writeClustered`: globally key-sorted row
    // groups) and every round's fetch collects the
    // budget-bounded batch, chunks it into key intervals and pushes them
    // into the parquet scan (the batches here are small, so the pruning
    // predicate is ACTIVE every round). Same oracle output as
    // q_frontier_log: a pruned row group that actually held a batch key, a
    // mis-ordered interval, or any row AdjacencyFetcher drops/duplicates
    // breaks this hash. FrontierSpec additionally pins byte-identical logs
    // + seen sets across the corpus, unclustered and clustered fetchers.
    "q_frontier_adj" -> ((s, dir) => {
      import graft.frontier.{AdjacencyFetcher, CorpusFetcher}
      val path = java.nio.file.Files.createTempDirectory("graft_cadj").toString
      val log = frontierCrawl(s, dir, docs => {
        val cl = AdjacencyFetcher.Clustering(buckets = 8)
        AdjacencyFetcher.writeClustered(
          AdjacencyFetcher.groupPairs(CorpusFetcher.pairsOf(docs)), path, cl)
        AdjacencyFetcher.openClustered(s, path, cl)
      })
      // the clustered copy is only scanned during the (eager) crawl above —
      // the returned log plan reads the crawl's own fetch_log table — so the
      // temp table can be dropped here instead of orphaning one copy per
      // Verify/Bench invocation (ADVICE r6)
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      log
    }),
    // Crawl-delay INSIDE the hash-checked crawl (VERDICT r4 item 5): the
    // politeness budgets come from `Frontier.budgetsWithRobots` over PARSED
    // robots.txt bodies — `Crawl-delay: 60/((h%3)+1)` per host EXCEPT host
    // 20, which demands 60 s (⇒ 1 token) — and host 14's Disallow/Allow
    // rules are parsed from the same bodies. The budgets provably BITE in
    // the log the oracle re-derives (checked against the q_frontier_log
    // baseline when this fixture was designed): host 20 is the crawl's
    // busiest host (3 selections in round 2 under its default 3-token
    // budget) and the 60 s Crawl-delay visibly throttles it to 1/round
    // (35-row log vs 39 baseline); the explicit operator override (1 token
    // on host 4, overriding its derived 2) cuts host 4's round-1 pair to
    // one. Removing the Crawl-delay line collapses every non-overridden
    // host to defaultTokens=2 — a 45-row log — so the hash check fails if
    // the derivation OR the explicit-over-derived precedence regresses.
    "q_frontier_delay" -> ((s, dir) => {
      import graft.frontier.{CorpusFetcher, Frontier, Robots}
      val bodies = s.range(0, 30, 1, 1).select(
        concat(lit("com.site"), col("id")).as("rev_host"),
        concat(lit("User-agent: *\nCrawl-delay: "),
          when(col("id") === 20, lit(60))
            .otherwise((lit(60) / (pmod(col("id"), lit(3L)) + 1)).cast("int")),
          when(col("id") === 14, lit("\nDisallow: /page/1\nAllow: /page/12"))
            .otherwise(lit(""))).as("body"))
      val rules = Robots.parseFull(bodies, agent = "graftbot")
      val explicit = s.range(0, 30, 1, 1).filter(col("id") === 4)
        .select(concat(lit("com.site"), col("id")).as("rev_host"),
          lit(1).cast("int").as("tokens_per_round"))
      frontierCrawl(s, dir, CorpusFetcher(_),
        budgetsOverride = Some(Frontier.budgetsWithRobots(explicit, rules)),
        robotsOverride = Some(rules))
    }),
    // D1/D2/D3/B4: the flagship PSL domain fold itself, oracle-checked over
    // derived hosts with single- and multi-part suffixes
    "q_domain_fold" -> ((s, dir) => {
      val hosts = s.read.parquet(t(dir, "documents"))
        .select(
          when(col("doc_id") % 4 === 0, concat(lit("www."), col("source"), lit(".com")))
            .when(col("doc_id") % 4 === 1, concat(col("source"), lit(".co.uk")))
            .when(col("doc_id") % 4 === 2, concat(lit("img."), col("source"), lit(".co.uk")))
            .otherwise(concat(lit("x.y."), col("source"), lit(".org"))).as("host"))
        .distinct()
      val verts = DenseIds.assign(
        hosts.select(gf.reverse_host(col("host")).as("rev_name")), "rev_name")
      val emptyEdges = s.range(0).select(col("id").as("from_id"), col("id").as("to_id"))
      DomainGraph.fold(verts, emptyEdges).vertices.orderBy("id")
    }),
    // F3 (approximate path): HyperBall harmonic centrality. The query emits
    // the ERROR GATE itself — per-node HLL estimate vs exact BFS, counting
    // nodes within 10% relative error — so the oracle (which asserts ALL
    // nodes pass) fails if the estimator regresses (VERDICT r1 item 6).
    "q_hyperball" -> ((s, dir) => {
      val nation = s.read.parquet(t(dir, "nation"))
      val nodes = nation.select(col("n_nationkey").cast("long").as("id"))
      val chain = nation.filter(col("n_nationkey") % 5 =!= 0)
        .select(col("n_nationkey").cast("long").as("from_id"),
                (col("n_nationkey") - 1).cast("long").as("to_id"))
      val est = HarmonicCentrality.hyperball(nodes, chain, log2m = 10)
        .select(col("id"), col("hc_val").cast("double").as("est"))
      val exact = HarmonicCentrality.exact(nodes, chain)
        .select(col("id"), col("hc_val").as("ex"))
      // 10% relative, with a 0.01 absolute floor for hc = 0 nodes (relative
      // error is undefined at zero; the HLL emits ~5e-4 there)
      est.join(exact, "id")
        .select((abs(col("est") - col("ex")) <=
          greatest(col("ex") * 0.1, lit(0.01))).as("ok"))
        .agg(count(lit(1)).as("n_nodes"),
             sum(col("ok").cast("long")).as("n_within_10pct"))
    }),
    // F5: strongly connected components (5-cycles within nation groups) via
    // the DISTRIBUTED trim+coloring path (O(V+E) state); Round2Spec pins it
    // against a sequential Tarjan on random graphs.
    "q_scc" -> ((s, dir) => {
      val nation = s.read.parquet(t(dir, "nation"))
      val nodes = nation.select(col("n_nationkey").cast("long").as("id"))
      val cycle = nation.select(
        col("n_nationkey").cast("long").as("from_id"),
        (col("n_nationkey") - (col("n_nationkey") % 5) +
          ((col("n_nationkey") % 5) + 1) % 5).cast("long").as("to_id"))
      graft.operators.Scc.coloring(nodes, cycle).orderBy("id")
    }),
    // F2 personalized: PageRank with preference vector + dangling-mass
    // redistribution (LAW strongly-preferential, CreatePreferenceVector
    // semantics) — fixed 3 iterations so the oracle chains the same CTEs
    "q_pagerank_pref" -> ((s, dir) => {
      val (nodes, edges) = nationGraph(s, dir)
      val pref = nodes.select(col("id"),
        when(col("id") < 5, lit(0.2)).otherwise(lit(0.0)).as("pref"))
      PageRank.run(nodes, edges, Some(pref), maxIter = 3, tol = 0.0)
        .select(col("id"), round(col("pr_val"), 6).as("pr_val"))
        .orderBy("id")
    }),
    // C1: the edge-endpoint remap join of the domain fold, oracle-checked
    // with a NON-EMPTY edge set (remap + self-loop drop + dedup,
    // HostToDomainGraph.java:471-487; VERDICT r1 item 2). The shape index
    // is `floor(doc_id / 20) % 4`, DECORRELATED from `source` — the fixture
    // generates source = src(doc_id mod 20), so `doc_id % 4` is CONSTANT
    // per source (20 ≡ 0 mod 4): each source materialized exactly one host
    // shape, every edge endpoint missed the vertex table, and the gate row
    // was an empty relation for rounds 2-4 (VERDICT r4 item 1). With the
    // decorrelated index every source carries all four shapes, so the fold
    // emits real cross-domain arcs, drops same-domain arcs as self-loops
    // (shape 1 → 2 both fold to src.co.uk), and collapses duplicates.
    "q_domain_edges" -> ((s, dir) => {
      val docs = s.read.parquet(t(dir, "documents"))
      def shape(k: org.apache.spark.sql.Column, src: org.apache.spark.sql.Column) =
        when(k === 0, concat(lit("www."), src, lit(".com")))
          .when(k === 1, concat(src, lit(".co.uk")))
          .when(k === 2, concat(lit("img."), src, lit(".co.uk")))
          .otherwise(concat(lit("x.y."), src, lit(".org")))
      val shapeIdx = floor(col("doc_id") / 20) % 4
      val hosts = docs.select(shape(shapeIdx, col("source")).as("host")).distinct()
      val verts = DenseIds.assign(
        hosts.select(gf.reverse_host(col("host")).as("rev_name")), "rev_name")
      // host-level edges: each doc links its own host shape to the next
      // shape of the same source — yields cross-domain arcs, same-domain
      // arcs (must fold to dropped self-loops) and duplicates (must dedup)
      val hostEdges = docs.select(
          gf.reverse_host(shape(shapeIdx, col("source"))).as("from_rev"),
          gf.reverse_host(shape((shapeIdx + 1) % 4, col("source"))).as("to_rev"))
        .distinct()
      val edges = hostEdges
        .join(verts.select(col("rev_name").as("from_rev"), col("id").as("from_id")), Seq("from_rev"))
        .join(verts.select(col("rev_name").as("to_rev"), col("id").as("to_id")), Seq("to_rev"))
        .select("from_id", "to_id")
      DomainGraph.fold(verts, edges).edges.orderBy("from_id", "to_id")
    }),
    // B8/E6: degree-threshold top-k report (process_webgraph.sh:163-176)
    "q_top_degrees" -> ((s, dir) => {
      Ranking.topDegrees(Ranking.outDegrees(lineitemEdges(s, dir)),
        "outdeg", threshold = 40, k = 20)
    }),
    // E7: limit/offset pagination
    "q_limit_offset" -> ((s, dir) => {
      s.read.parquet(t(dir, "lineitem"))
        .select(col("l_orderkey"), col("l_linenumber"))
        .orderBy("l_orderkey", "l_linenumber")
        .offset(100).limit(50)
    }),
    // H3: multi-crawl merge with stable vertex-id reuse
    "q_merged_ids" -> ((s, dir) => {
      // BOTH parity crawls derive from ONE checkpointed scan+distinct (lazy:
      // the ContextCleaner frees its blocks with the result): a pair's
      // parity is a pure function of its to_host (p<partkey>), so slicing
      // the distinct pair set by parity is exactly each crawl's distinct
      // link set — one lineitem scan and one distinct exchange instead of
      // two of each (result unchanged — the per-crawl link sets are
      // identical row sets; oracle hash pins it)
      val all = s.read.parquet(t(dir, "lineitem"))
        .select((col("l_partkey") % 2).cast("int").as("__parity"),
                concat(lit("s"), col("l_suppkey")).as("from_host"),
                concat(lit("p"), col("l_partkey")).as("to_host"))
        .distinct()
        .localCheckpoint(eager = false)
      def crawl(parity: Int) =
        all.filter(col("__parity") === parity).drop("__parity")
      val c0 = crawl(0)
      val (v1, _) = HostGraph.build(c0)
      val (vm, _) = HostGraph.buildWithExistingIds(
        HostGraph.mergeLinks(Seq(c0, crawl(1))), v1)
      vm.select(col("id"), col("rev_name")).orderBy("id")
    }),
    // B9: prefix-interval vertex filter (iepm intervals)
    "q_prefix" -> ((s, dir) => {
      val verts = DenseIds.assign(
        s.read.parquet(t(dir, "customer"))
          .select(lower(col("c_name")).as("rev_name")).distinct(), "rev_name")
      Explore.prefixVertices(verts.select(col("id"), col("rev_name")), "customer#0000001")
    }),
    // D6: k-way counting merge of value lists
    "q_counting_merge" -> ((s, dir) => {
      val a = s.read.parquet(t(dir, "orders")).select(col("o_custkey").cast("long").as("value"))
      val b = s.read.parquet(t(dir, "customer")).select(col("c_custkey").cast("long").as("value"))
      val c = s.read.parquet(t(dir, "customer"))
        .filter(col("c_nationkey") < 5).select(col("c_custkey").cast("long").as("value"))
      Explore.countingMerge(a.unionByName(b).unionByName(c))
    }),
    // F1: transpose (predecessors = successors of the transposed graph)
    "q_transpose" -> ((s, dir) => {
      import graft.operators.HostGraph
      HostGraph.transpose(lineitemEdges(s, dir))
        .groupBy("from_id").agg(count(lit(1)).as("indeg"))
        .orderBy("from_id")
    }),
    // C8: successors-of-vertex ∩ member set
    "q_succ_set" -> ((s, dir) => {
      val set = s.range(0, 200, 2, 1).select(col("id"))
      Explore.successorIntersect(lineitemEdges(s, dir), 1L, set)
    }),
    // C9: label↔ID round-trip — name→id (idsOfLabels) then id→name
    // (labelsOfIds) over the vertices table; output must reproduce the
    // original (id, label) rows exactly
    "q_label_id" -> ((s, dir) => {
      val verts = DenseIds.assign(
        s.read.parquet(t(dir, "customer"))
          .select(lower(col("c_name")).as("rev_name")).distinct(), "rev_name")
        .select(col("id"), col("rev_name"))
      val labels = verts.filter(col("rev_name").startsWith("customer#00000010"))
        .select("rev_name")
      Explore.labelsOfIds(verts, Explore.idsOfLabels(verts, labels)).orderBy("id")
    }),
    // D10/F4: component size distribution
    "q_cc_sizes" -> ((s, dir) => {
      val nation = s.read.parquet(t(dir, "nation"))
      val nodes = nation.select(col("n_nationkey").cast("long").as("id"))
      val chain = nation.filter(col("n_nationkey") % 5 =!= 0)
        .select(col("n_nationkey").cast("long").as("from_id"),
                (col("n_nationkey") - 1).cast("long").as("to_id"))
      ConnectedComponents.sizes(ConnectedComponents.weak(nodes, chain))
    })
  )

  /** q_pagerank_pref oracle: 3 chained power-iteration CTEs with the
    * strongly-preferential update — teleport AND per-iteration dangling mass
    * both distributed by the preference vector (mirrors PageRank.run with
    * maxIter = 3, tol = 0.0 and redistributeDangling = true).
    */
  private val pagerankPrefOracle: String = {
    val iters = (1 to 3).map { i =>
      s"""d$i AS (SELECT coalesce(sum(pr), 0) AS dm FROM r${i - 1}
         |  WHERE id NOT IN (SELECT from_id FROM deg)),
         |r$i AS (SELECT n.id, (0.15 + 0.85 * (SELECT dm FROM d$i)) * p.pref
         |         + 0.85 * coalesce(sum(r.pr / d.outdeg), 0) AS pr
         |       FROM nodes n JOIN prefs p ON p.id = n.id
         |       LEFT JOIN edges e ON e.to_id = n.id
         |       LEFT JOIN r${i - 1} r ON r.id = e.from_id
         |       LEFT JOIN deg d ON d.from_id = e.from_id GROUP BY n.id, p.pref)""".stripMargin
    }.mkString(",\n")
    s"""WITH nodes AS (SELECT CAST(n_nationkey AS BIGINT) AS id FROM nation),
       |edges AS (SELECT DISTINCT from_id, to_id FROM (
       |    SELECT CAST(n_nationkey AS BIGINT) AS from_id,
       |           CAST(n_nationkey - 1 AS BIGINT) AS to_id
       |    FROM nation WHERE n_nationkey % 5 <> 0
       |    UNION ALL
       |    SELECT CAST(n_nationkey AS BIGINT), CAST(n_regionkey * 5 AS BIGINT)
       |    FROM nation) WHERE from_id <> to_id),
       |deg AS (SELECT from_id, count(*) AS outdeg FROM edges GROUP BY 1),
       |prefs AS (SELECT id, CASE WHEN id < 5 THEN 0.2 ELSE 0.0 END AS pref FROM nodes),
       |r0 AS (SELECT id, pref AS pr FROM prefs),
       |$iters
       |SELECT id, round(pr, 6) AS pr_val FROM r3 ORDER BY id""".stripMargin
  }

  /** The unrolled 3-round crawl oracle shared by q_frontier_log /
    * q_frontier_adj / q_frontier_delay. Corpus/link arithmetic mirrors
    * [[frontierCrawl]] exactly (integer-only, bit-identical across engines);
    * each round r = politeness top-k per host from pending → log; outlinks
    * of selected → robots filter → seen anti-join → enqueue. seq ranks the
    * union over (round, priority desc, rev_host, url) — the same total
    * order fetchLog() exports. `tokensExpr` is the per-host budget formula
    * (over host index `h`) the variant under test derives.
    */
  private def frontierOracle(tokensExpr: String): String =
    s"""WITH corpus AS (
        |  SELECT doc_id AS i,
        |         ((((doc_id * 31) % 101) * ((doc_id * 31) % 101) * 30) // 10201) AS h
        |  FROM documents WHERE doc_id < 400),
        |urls AS (
        |  SELECT i, h,
        |         'https://site' || h || '.com/page/' || i AS url,
        |         'com.site' || h AS rev_host,
        |         '/page/' || i AS path
        |  FROM corpus),
        |hosts AS (
        |  SELECT DISTINCT h,
        |         (((h * 13) % 17) + 1) / 16.0 AS priority,
        |         ($tokensExpr) AS tokens
        |  FROM corpus),
        |links AS (
        |  SELECT u.url AS src, v.url AS "out"
        |  FROM urls u JOIN urls v ON v.i = (u.i * 17 + 1) % 400
        |  UNION
        |  SELECT u.url, v.url FROM urls u JOIN urls v ON v.i = (u.i * 23 + 5) % 400
        |  UNION
        |  SELECT u.url, v.url FROM urls u JOIN urls v ON v.i = (u.i * 29 + 11) % 400
        |  WHERE u.i % 3 = 0),
        |allowed AS (
        |  SELECT u.i, u.url, u.rev_host, hp.priority, hp.tokens
        |  FROM urls u JOIN hosts hp ON u.h = hp.h
        |  WHERE NOT (u.rev_host = 'com.site14' AND starts_with(u.path, '/page/1')
        |             AND NOT starts_with(u.path, '/page/12'))),
        |pend0 AS (SELECT url, rev_host, priority, tokens FROM allowed WHERE i < 8),
        |seen0 AS (SELECT url FROM pend0),
        |sel0 AS (SELECT url, rev_host, priority FROM (
        |  SELECT *, row_number() OVER (PARTITION BY rev_host ORDER BY priority DESC, url) AS rn
        |  FROM pend0) WHERE rn <= tokens),
        |new0 AS (SELECT url, rev_host, priority, tokens FROM allowed
        |  WHERE url IN (SELECT "out" FROM links WHERE src IN (SELECT url FROM sel0))
        |    AND url NOT IN (SELECT url FROM seen0)),
        |seen1 AS (SELECT url FROM seen0 UNION ALL SELECT url FROM new0),
        |pend1 AS (SELECT * FROM pend0 WHERE url NOT IN (SELECT url FROM sel0)
        |  UNION ALL SELECT * FROM new0),
        |sel1 AS (SELECT url, rev_host, priority FROM (
        |  SELECT *, row_number() OVER (PARTITION BY rev_host ORDER BY priority DESC, url) AS rn
        |  FROM pend1) WHERE rn <= tokens),
        |new1 AS (SELECT url, rev_host, priority, tokens FROM allowed
        |  WHERE url IN (SELECT "out" FROM links WHERE src IN (SELECT url FROM sel1))
        |    AND url NOT IN (SELECT url FROM seen1)),
        |seen2 AS (SELECT url FROM seen1 UNION ALL SELECT url FROM new1),
        |pend2 AS (SELECT * FROM pend1 WHERE url NOT IN (SELECT url FROM sel1)
        |  UNION ALL SELECT * FROM new1),
        |sel2 AS (SELECT url, rev_host, priority FROM (
        |  SELECT *, row_number() OVER (PARTITION BY rev_host ORDER BY priority DESC, url) AS rn
        |  FROM pend2) WHERE rn <= tokens),
        |lg AS (
        |  SELECT 0 AS round, url, rev_host, priority FROM sel0
        |  UNION ALL SELECT 1, url, rev_host, priority FROM sel1
        |  UNION ALL SELECT 2, url, rev_host, priority FROM sel2)
        |SELECT CAST(round AS INT) AS round,
        |       row_number() OVER (ORDER BY round, priority DESC, rev_host, url) AS seq,
        |       url
        |FROM lg ORDER BY seq""".stripMargin

  def oracleSql: Map[String, String] = TextQueries.oracleSql ++ Map(
    // adjacency-layout crawl must reproduce the corpus-fetcher crawl
    // byte-for-byte — identical oracle
    "q_frontier_adj" -> frontierOracle("(h % 3) + 1"),
    // Crawl-delay 60/((h%3)+1)s ⇒ derived tokens (h%3)+1, except the 60 s
    // delay on host 20 (⇒ 1) and the explicit 1-token override on host 4
    "q_frontier_delay" ->
      frontierOracle("CASE WHEN h = 4 THEN 1 WHEN h = 20 THEN 1 ELSE (h % 3) + 1 END"),
    "q_robots_parse" ->
      """SELECT 'com.site' || doc_id AS rev_host,
        |  CASE WHEN doc_id % 4 = 0 THEN '/g' || doc_id
        |       ELSE '/w' || doc_id END AS disallow,
        |  CASE WHEN doc_id % 4 = 0 THEN '/g' || doc_id || '/ok'
        |       ELSE '' END AS "allow",
        |  CASE WHEN doc_id % 4 = 0 THEN 4.0 ELSE 2.5 END AS crawl_delay
        |FROM documents WHERE doc_id < 50 AND doc_id % 4 IN (0, 1)
        |ORDER BY rev_host""".stripMargin,
    "q_crawl_delay" ->
      """WITH parsed AS (
        |  SELECT 'com.site' || doc_id AS rev_host,
        |         CAST(GREATEST(1, FLOOR(40.0 / (doc_id % 7))) AS INT) AS cd_tokens
        |  FROM documents WHERE doc_id < 60 AND doc_id % 7 <> 0),
        |explicit AS (
        |  SELECT 'com.site' || (k * 7) AS rev_host, CAST(k + 2 AS INT) AS tokens
        |  FROM (SELECT unnest(range(0, 10)) AS k))
        |SELECT COALESCE(e.rev_host, p.rev_host) AS rev_host,
        |       CAST(COALESCE(e.tokens, p.cd_tokens) AS INT) AS tokens_per_round
        |FROM explicit e FULL OUTER JOIN parsed p ON e.rev_host = p.rev_host
        |ORDER BY rev_host""".stripMargin,
    "q_rep_match" ->
      """SELECT '/p/' || doc_id ||
        |       CASE WHEN doc_id % 3 = 0 THEN '.pdf' ELSE '' END AS path,
        |  CASE WHEN starts_with(CAST(doc_id AS VARCHAR), '1') AND doc_id % 3 = 0 THEN true
        |       WHEN starts_with(CAST(doc_id AS VARCHAR), '1') OR doc_id % 3 = 0 THEN false
        |       ELSE true END AS fetchable
        |FROM documents WHERE doc_id < 200 ORDER BY path""".stripMargin,
    "q_sitemap_links" ->
      """SELECT 'com.site' || doc_id AS from_host,
        |       'org.example.maps' || (doc_id % 5) AS to_host
        |FROM documents WHERE doc_id < 40
        |UNION
        |SELECT 'com.site' || doc_id, 'net.site' || doc_id || '.cdn'
        |FROM documents WHERE doc_id < 40 AND doc_id % 3 = 0
        |ORDER BY from_host, to_host""".stripMargin,
    "q_tsv_roundtrip" ->
      """SELECT doc_id AS from_id, (doc_id * 7 + 3) % 500 AS to_id,
        |  'com.' || source || '.' || doc_id AS rev_name,
        |  doc_id % 7 + 1 AS num_hosts
        |FROM documents WHERE doc_id < 500 ORDER BY from_id, to_id""".stripMargin,
    "q_binvec_roundtrip" ->
      """SELECT doc_id AS id, (doc_id % 1000) / 16.0 AS value
        |FROM documents WHERE doc_id < 500 ORDER BY id""".stripMargin,
    "q_frontier_log" -> frontierOracle("(h % 3) + 1"),
    "q_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_price,
        |  count(*) AS n
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_freq" ->
      "SELECT event_type, count(*) AS cnt FROM events GROUP BY 1 ORDER BY cnt DESC, event_type ASC",
    "q_reverse_host" ->
      """SELECT array_to_string(list_reverse(string_split(source || '.example.com', '.')), '.') AS rev_host,
        |  count(*) AS cnt
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_strip_www" ->
      """SELECT CASE WHEN doc_id % 2 = 0 THEN source || '.org' ELSE 'www.com' END AS host,
        |  count(*) AS cnt
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_url_host" ->
      """SELECT 'www.' || source || '.com' AS host, count(*) AS cnt
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_topk" ->
      """SELECT l_orderkey, l_linenumber, round(l_extendedprice, 2) AS price
        |FROM lineitem WHERE l_quantity > 30
        |ORDER BY price DESC, l_orderkey ASC, l_linenumber ASC LIMIT 100""".stripMargin,
    "q_dense_ids" ->
      """SELECT row_number() OVER (ORDER BY name) - 1 AS id, name
        |FROM (SELECT DISTINCT lower(c_name) AS name FROM customer)
        |ORDER BY id""".stripMargin,
    "q_degrees" ->
      """SELECT from_id AS id, count(*) AS outdeg
        |FROM (SELECT DISTINCT l_suppkey AS from_id, l_partkey AS to_id FROM lineitem)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_degree_dist" ->
      """SELECT outdeg AS degree, count(*) AS n_nodes FROM (
        |  SELECT from_id, count(*) AS outdeg
        |  FROM (SELECT DISTINCT l_suppkey AS from_id, l_partkey AS to_id FROM lineitem)
        |  GROUP BY 1)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_rank_join" ->
      """WITH s AS (SELECT s_suppkey AS id, lower(s_name) AS rev_name,
        |                  s_acctbal AS hc_val, s_acctbal % 97 AS pr_val FROM supplier)
        |SELECT row_number() OVER (ORDER BY hc_val DESC, id ASC) AS hc_rank,
        |       row_number() OVER (ORDER BY pr_val DESC, id ASC) AS pr_rank,
        |       rev_name
        |FROM s ORDER BY hc_rank""".stripMargin,
    "q_pagerank" ->
      """WITH nodes AS (SELECT CAST(n_nationkey AS BIGINT) AS id FROM nation),
        |cnt AS (SELECT count(*) AS n FROM nodes),
        |edges AS (SELECT DISTINCT from_id, to_id FROM (
        |    SELECT CAST(n_nationkey AS BIGINT) AS from_id,
        |           CAST(n_nationkey - 1 AS BIGINT) AS to_id
        |    FROM nation WHERE n_nationkey % 5 <> 0
        |    UNION ALL
        |    SELECT CAST(n_nationkey AS BIGINT), CAST(n_regionkey * 5 AS BIGINT)
        |    FROM nation) WHERE from_id <> to_id),
        |deg AS (SELECT from_id, count(*) AS outdeg FROM edges GROUP BY 1),
        |r0 AS (SELECT id, CAST(1 AS DOUBLE) / (SELECT n FROM cnt) AS pr FROM nodes),
        |r1 AS (SELECT n.id, CAST(0.15 AS DOUBLE) / (SELECT n FROM cnt)
        |         + 0.85 * coalesce(sum(r.pr / d.outdeg), 0) AS pr
        |       FROM nodes n LEFT JOIN edges e ON e.to_id = n.id
        |       LEFT JOIN r0 r ON r.id = e.from_id
        |       LEFT JOIN deg d ON d.from_id = e.from_id GROUP BY n.id),
        |r2 AS (SELECT n.id, CAST(0.15 AS DOUBLE) / (SELECT n FROM cnt)
        |         + 0.85 * coalesce(sum(r.pr / d.outdeg), 0) AS pr
        |       FROM nodes n LEFT JOIN edges e ON e.to_id = n.id
        |       LEFT JOIN r1 r ON r.id = e.from_id
        |       LEFT JOIN deg d ON d.from_id = e.from_id GROUP BY n.id),
        |r3 AS (SELECT n.id, CAST(0.15 AS DOUBLE) / (SELECT n FROM cnt)
        |         + 0.85 * coalesce(sum(r.pr / d.outdeg), 0) AS pr
        |       FROM nodes n LEFT JOIN edges e ON e.to_id = n.id
        |       LEFT JOIN r2 r ON r.id = e.from_id
        |       LEFT JOIN deg d ON d.from_id = e.from_id GROUP BY n.id)
        |SELECT id, round(pr, 6) AS pr_val FROM r3 ORDER BY id""".stripMargin,
    "q_components" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS id,
        |       CAST(n_nationkey - n_nationkey % 5 AS BIGINT) AS component
        |FROM nation ORDER BY 1""".stripMargin,
    "q_harmonic" ->
      """SELECT CAST(v.n_nationkey AS BIGINT) AS id,
        |  round(coalesce(sum(CAST(1 AS DOUBLE) / (u.n_nationkey - v.n_nationkey)), 0), 5) AS hc_val
        |FROM nation v LEFT JOIN nation u
        |  ON u.n_nationkey > v.n_nationkey
        | AND u.n_nationkey - u.n_nationkey % 5 = v.n_nationkey - v.n_nationkey % 5
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_full_outer" ->
      """WITH a AS (SELECT lower(s_name) AS name, CAST(s_suppkey AS VARCHAR) AS hc
        |           FROM supplier WHERE s_acctbal > 0),
        |     b AS (SELECT lower(s_name) AS name, CAST(s_suppkey AS VARCHAR) AS pr
        |           FROM supplier WHERE s_suppkey % 2 = 0)
        |SELECT coalesce(a.name, b.name) AS name,
        |       coalesce(hc, '---') AS hc, coalesce(pr, '---') AS pr
        |FROM a FULL OUTER JOIN b ON a.name = b.name ORDER BY 1""".stripMargin,
    "q_pref_vector" ->
      """SELECT c_custkey AS id,
        |  round(CASE WHEN c_nationkey = 5
        |    THEN CAST(1 AS DOUBLE) / (SELECT count(*) FROM customer WHERE c_nationkey = 5)
        |    ELSE 0 END, 9) AS pref
        |FROM customer ORDER BY id""".stripMargin,
    "q_tld_counts" ->
      """SELECT CASE WHEN doc_id % 3 = 0 THEN 'com'
        |            WHEN doc_id % 3 = 1 THEN 'org' ELSE 'net' END AS tld,
        |       count(*) AS cnt
        |FROM documents GROUP BY 1 ORDER BY cnt DESC, tld ASC""".stripMargin,
    "q_intersect" ->
      """SELECT c_custkey AS id FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY 1""".stripMargin,
    "q_difference" ->
      """SELECT c_custkey AS id FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_custkey % 3 <> 0)
        |ORDER BY 1""".stripMargin,
    "q_shared_succ" ->
      """SELECT to_id AS id, count(*) AS n_shared
        |FROM (SELECT DISTINCT l_suppkey AS from_id, l_partkey AS to_id
        |      FROM lineitem WHERE l_suppkey IN (1, 2, 3, 4))
        |GROUP BY 1 HAVING count(*) BETWEEN 2 AND 4 ORDER BY 1""".stripMargin,
    "q_adjacency" ->
      """SELECT from_id AS id, array_to_string(list(to_id ORDER BY to_id), ',') AS successors
        |FROM (SELECT DISTINCT l_suppkey AS from_id, l_partkey AS to_id
        |      FROM lineitem WHERE l_suppkey <= 20)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_sorted_edges" ->
      """SELECT DISTINCT l_suppkey AS from_id, l_partkey AS to_id FROM lineitem
        |ORDER BY 1, 2 LIMIT 1000""".stripMargin,
    "q_subgraph" ->
      """WITH e AS (SELECT DISTINCT l_suppkey AS from_id, l_partkey AS to_id FROM lineitem),
        |t AS (SELECT from_id, to_id,
        |        CASE WHEN from_id BETWEEN 0 AND 49 THEN 1 ELSE 0 END AS from_in,
        |        CASE WHEN to_id BETWEEN 0 AND 49 THEN 1 ELSE 0 END AS to_in FROM e)
        |SELECT CAST(50 AS BIGINT) AS n_nodes,
        |  CAST(sum(CASE WHEN from_in = 1 AND to_in = 1 THEN 1 ELSE 0 END) AS BIGINT) AS arcs_inside,
        |  CAST(sum(CASE WHEN from_in = 1 AND to_in = 0 THEN 1 ELSE 0 END) AS BIGINT) AS arcs_out,
        |  CAST(sum(CASE WHEN from_in = 0 AND to_in = 1 THEN 1 ELSE 0 END) AS BIGINT) AS arcs_in,
        |  CAST(count(DISTINCT CASE WHEN from_in = 1 AND to_in = 0 THEN to_id END) AS BIGINT) AS outer_linked,
        |  CAST(count(DISTINCT CASE WHEN from_in = 0 AND to_in = 1 THEN from_id END) AS BIGINT) AS outer_linking,
        |  round(sum(CASE WHEN from_in = 1 AND to_in = 1 THEN 1 ELSE 0 END) / CAST(50 AS DOUBLE), 6) AS avg_degree
        |FROM t""".stripMargin,
    "q_domain_fold" ->
      """WITH hosts AS (SELECT DISTINCT CASE CAST(doc_id % 4 AS INT)
        |    WHEN 0 THEN 'www.' || source || '.com'
        |    WHEN 1 THEN source || '.co.uk'
        |    WHEN 2 THEN 'img.' || source || '.co.uk'
        |    ELSE 'x.y.' || source || '.org' END AS host
        |  FROM documents),
        |doms AS (SELECT CASE
        |    WHEN host LIKE '%.co.uk' THEN regexp_extract(host, '([^.]+\.co\.uk)$', 1)
        |    ELSE regexp_extract(host, '([^.]+\.[^.]+)$', 1) END AS domain
        |  FROM hosts),
        |rev AS (SELECT array_to_string(list_reverse(string_split(domain, '.')), '.') AS rev_name,
        |               count(*) AS num_hosts
        |        FROM doms GROUP BY 1)
        |SELECT row_number() OVER (ORDER BY rev_name) - 1 AS id, rev_name, num_hosts
        |FROM rev ORDER BY id""".stripMargin,
    "q_scc" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS id,
        |       CAST(n_nationkey - n_nationkey % 5 AS BIGINT) AS component
        |FROM nation ORDER BY 1""".stripMargin,
    // asserts EVERY node's HLL estimate lands within 10% of exact — a
    // count-matching regression of the estimator breaks the value hash
    "q_hyperball" ->
      "SELECT count(*) AS n_nodes, count(*) AS n_within_10pct FROM nation",
    "q_pagerank_pref" -> pagerankPrefOracle,
    "q_domain_edges" ->
      """WITH fh AS (SELECT DISTINCT CASE CAST((doc_id // 20) % 4 AS INT)
        |    WHEN 0 THEN 'www.' || source || '.com'
        |    WHEN 1 THEN source || '.co.uk'
        |    WHEN 2 THEN 'img.' || source || '.co.uk'
        |    ELSE 'x.y.' || source || '.org' END AS host
        |  FROM documents),
        |verts AS (SELECT row_number() OVER (ORDER BY rev_name) - 1 AS id, rev_name
        |  FROM (SELECT DISTINCT array_to_string(list_reverse(string_split(host, '.')), '.') AS rev_name
        |        FROM fh)),
        |hd AS (SELECT array_to_string(list_reverse(string_split(host, '.')), '.') AS rev_name,
        |              array_to_string(list_reverse(string_split(CASE
        |                WHEN host LIKE '%.co.uk' THEN regexp_extract(host, '([^.]+\.co\.uk)$', 1)
        |                ELSE regexp_extract(host, '([^.]+\.[^.]+)$', 1) END, '.')), '.') AS domain_rev
        |       FROM fh),
        |domverts AS (SELECT row_number() OVER (ORDER BY domain_rev) - 1 AS id, domain_rev
        |  FROM (SELECT DISTINCT domain_rev FROM hd)),
        |mapping AS (SELECT v.id AS host_id, d.id AS domain_id
        |  FROM verts v JOIN hd h ON h.rev_name = v.rev_name
        |  JOIN domverts d ON d.domain_rev = h.domain_rev),
        |he AS (SELECT DISTINCT
        |    array_to_string(list_reverse(string_split(CASE CAST((doc_id // 20) % 4 AS INT)
        |      WHEN 0 THEN 'www.' || source || '.com' WHEN 1 THEN source || '.co.uk'
        |      WHEN 2 THEN 'img.' || source || '.co.uk'
        |      ELSE 'x.y.' || source || '.org' END, '.')), '.') AS from_rev,
        |    array_to_string(list_reverse(string_split(CASE CAST((doc_id // 20 + 1) % 4 AS INT)
        |      WHEN 0 THEN 'www.' || source || '.com' WHEN 1 THEN source || '.co.uk'
        |      WHEN 2 THEN 'img.' || source || '.co.uk'
        |      ELSE 'x.y.' || source || '.org' END, '.')), '.') AS to_rev
        |  FROM documents),
        |edges AS (SELECT fv.id AS from_id, tv.id AS to_id
        |  FROM he JOIN verts fv ON fv.rev_name = he.from_rev
        |  JOIN verts tv ON tv.rev_name = he.to_rev)
        |SELECT DISTINCT m1.domain_id AS from_id, m2.domain_id AS to_id
        |FROM edges e JOIN mapping m1 ON m1.host_id = e.from_id
        |JOIN mapping m2 ON m2.host_id = e.to_id
        |WHERE m1.domain_id <> m2.domain_id
        |ORDER BY from_id, to_id""".stripMargin,
    "q_top_degrees" ->
      """SELECT from_id AS id, count(*) AS outdeg
        |FROM (SELECT DISTINCT l_suppkey AS from_id, l_partkey AS to_id FROM lineitem)
        |GROUP BY 1 HAVING count(*) > 40
        |ORDER BY outdeg DESC, id ASC LIMIT 20""".stripMargin,
    "q_limit_offset" ->
      """SELECT l_orderkey, l_linenumber FROM lineitem
        |ORDER BY l_orderkey, l_linenumber LIMIT 50 OFFSET 100""".stripMargin,
    "q_merged_ids" ->
      """WITH e1 AS (SELECT DISTINCT 's' || l_suppkey AS f, 'p' || l_partkey AS t
        |            FROM lineitem WHERE l_partkey % 2 = 0),
        |e2 AS (SELECT DISTINCT 's' || l_suppkey AS f, 'p' || l_partkey AS t
        |       FROM lineitem WHERE l_partkey % 2 = 1),
        |n1 AS (SELECT f AS name FROM e1 UNION SELECT t FROM e1),
        |nall AS (SELECT f AS name FROM e1 UNION SELECT t FROM e1
        |         UNION SELECT f FROM e2 UNION SELECT t FROM e2),
        |old AS (SELECT name, row_number() OVER (ORDER BY name) - 1 AS id FROM n1),
        |newn AS (SELECT name FROM nall EXCEPT SELECT name FROM n1),
        |newi AS (SELECT name, (SELECT max(id) FROM old) + row_number() OVER (ORDER BY name) AS id
        |         FROM newn)
        |SELECT id, rev_name FROM (
        |  SELECT id, name AS rev_name FROM old
        |  UNION ALL SELECT id, name FROM newi) ORDER BY id""".stripMargin,
    "q_surt" ->
      """SELECT 'com,' || source || ',www)/p/' || doc_id || '?a=1&b=2' AS surt_key,
        |       count(*) AS cnt
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_prefix" ->
      """WITH v AS (SELECT row_number() OVER (ORDER BY rev_name) - 1 AS id, rev_name
        |  FROM (SELECT DISTINCT lower(c_name) AS rev_name FROM customer))
        |SELECT id, rev_name FROM v WHERE rev_name LIKE 'customer#0000001%'
        |ORDER BY id""".stripMargin,
    "q_counting_merge" ->
      """SELECT value, count(*) AS multiplicity FROM (
        |  SELECT o_custkey AS value FROM orders
        |  UNION ALL SELECT c_custkey FROM customer
        |  UNION ALL SELECT c_custkey FROM customer WHERE c_nationkey < 5)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_transpose" ->
      """SELECT to_id AS from_id, count(*) AS indeg
        |FROM (SELECT DISTINCT l_suppkey AS from_id, l_partkey AS to_id FROM lineitem)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_succ_set" ->
      """SELECT DISTINCT l_partkey AS id
        |FROM lineitem WHERE l_suppkey = 1 AND l_partkey % 2 = 0 AND l_partkey < 200
        |ORDER BY 1""".stripMargin,
    "q_label_id" ->
      """WITH v AS (SELECT row_number() OVER (ORDER BY rev_name) - 1 AS id, rev_name
        |  FROM (SELECT DISTINCT lower(c_name) AS rev_name FROM customer))
        |SELECT id, rev_name FROM v WHERE rev_name LIKE 'customer#00000010%'
        |ORDER BY id""".stripMargin,
    "q_cc_sizes" ->
      """SELECT row_number() OVER (ORDER BY size DESC, component ASC) - 1 AS component_rank, size
        |FROM (SELECT CAST(n_nationkey - n_nationkey % 5 AS BIGINT) AS component,
        |             count(*) AS size FROM nation GROUP BY 1)
        |ORDER BY component_rank""".stripMargin
  )
}
