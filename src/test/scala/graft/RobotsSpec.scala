package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.frontier.Robots

class RobotsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def parse(hostBodies: (String, String)*): Map[String, Seq[String]] =
    Robots.parse(hostBodies.toDF("rev_host", "body"), agent = "graftbot")
      .collect()
      .map(r => r.getString(0) -> r.getSeq[String](1))
      .toMap

  test("exact agent group beats wildcard; its rules alone apply") {
    val m = parse(("com.a",
      "User-agent: *\nDisallow: /all\nUser-agent: graftbot\nDisallow: /bot"))
    assert(m("com.a") == Seq("/bot"))
  }

  test("duplicate wildcard groups merge; duplicates and empty Disallow drop") {
    val m = parse(("com.b",
      "User-agent: *\nDisallow: /x\nDisallow:\n\nUser-agent: *\nDisallow: /y\nDisallow: /x"))
    assert(m("com.b") == Seq("/x", "/y"))
  }

  test("rules before any group are ignored; unmatched hosts are absent") {
    val m = parse(
      ("com.c", "Disallow: /orphan\nUser-agent: *\nDisallow: /ok"),
      ("com.d", "User-agent: otherbot\nDisallow: /x"),
      ("com.e", "# comments only"))
    assert(m == Map("com.c" -> Seq("/ok")))
  }

  test("multi-agent group applies to each named agent; keys case-insensitive") {
    val m = parse(("com.f",
      "user-agent: GRAFTBOT\nUser-Agent: other\ndisallow: /shared # trailing comment"))
    assert(m("com.f") == Seq("/shared"))
  }

  test("parse output feeds the Frontier robots contract (rev_host, disallow_prefixes)") {
    val out = Robots.parse(Seq(("com.g", "User-agent: *\nDisallow: /p"))
      .toDF("rev_host", "body"))
    assert(out.schema.fieldNames.toSeq == Seq("rev_host", "disallow_prefixes"))
    assert(out.schema("disallow_prefixes").dataType.simpleString == "array<string>")
  }

  test("parseFull: Allow/Crawl-delay/Sitemap extracted; sitemaps are host-wide") {
    val r = Robots.parseFull(Seq(("com.a",
      "Sitemap: https://a.com/top.xml\n" +
      "User-agent: otherbot\nDisallow: /other\nSitemap: https://a.com/other.xml\n" +
      "User-agent: graftbot\nDisallow: /\nAllow: /public/\nCrawl-delay: 2.5\n" +
      "Crawl-delay: 10\nSitemap: https://a.com/bot.xml"))
      .toDF("rev_host", "body"), agent = "graftbot").collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getSeq[String](row.fieldIndex("disallow_prefixes")) == Seq("/"))
    assert(row.getSeq[String](row.fieldIndex("allow_prefixes")) == Seq("/public/"))
    // smallest delay of the winning group wins
    assert(row.getDouble(row.fieldIndex("crawl_delay")) == 2.5)
    // sitemap records are NOT group-scoped: all three survive, sorted
    assert(row.getSeq[String](row.fieldIndex("sitemaps")) ==
      Seq("https://a.com/bot.xml", "https://a.com/other.xml", "https://a.com/top.xml"))
  }

  test("parseFull: sitemap-only host (no applicable group) still yields a row") {
    val r = Robots.parseFull(Seq(
      ("com.s", "Sitemap: https://s.com/map.xml\nUser-agent: otherbot\nDisallow: /x"),
      ("com.t", "User-agent: otherbot\nDisallow: /x"))
      .toDF("rev_host", "body"), agent = "graftbot").collect()
    assert(r.length == 1 && r.head.getString(0) == "com.s")
    val row = r.head
    assert(row.getSeq[String](row.fieldIndex("disallow_prefixes")).isEmpty)
    assert(row.isNullAt(row.fieldIndex("crawl_delay")))
    assert(row.getSeq[String](row.fieldIndex("sitemaps")) == Seq("https://s.com/map.xml"))
  }

  test("crawlDelayBudgets: tokens = max(1, floor(roundSeconds/delay))") {
    val rules = Robots.parseFull(Seq(
      ("com.slow", "User-agent: *\nCrawl-delay: 120"),
      ("com.med", "User-agent: *\nCrawl-delay: 7"),
      ("com.fast", "User-agent: *\nCrawl-delay: 0.5"),
      ("com.none", "User-agent: *\nDisallow: /x"))
      .toDF("rev_host", "body"))
    val b = Robots.crawlDelayBudgets(rules, roundSeconds = 60.0).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(b == Map("com.slow" -> 1, "com.med" -> 8, "com.fast" -> 120))
  }

  test("sitemapHostLinks: hostgraph edges from robots host to sitemap URL host") {
    val rules = Robots.parseFull(Seq(
      ("com.a", "Sitemap: https://cdn.maps.net/a.xml\nSitemap: https://a.com/self.xml"))
      .toDF("rev_host", "body"))
    val links = Robots.sitemapHostLinks(rules).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(links == Set(("com.a", "net.maps.cdn"), ("com.a", "com.a")))
  }

  test("RFC 9309 longest-match: Disallow:/ + Allow:/public/ blocks all but /public/") {
    import graft.frontier.{CorpusFetcher, Frontier, UrlSeen}
    // host com.x disallows everything except /public/…; /public/private/ is
    // re-disallowed by a LONGER disallow rule (allow loses the length tie-break
    // only when the disallow match is strictly longer)
    val bodies = Seq(("com.x",
      "User-agent: *\nDisallow: /\nAllow: /public/\nDisallow: /public/private/"))
      .toDF("rev_host", "body")
    val rules = Robots.parseFull(bodies).localCheckpoint()
    val seeds = Seq(
      "https://x.com/public/a", "https://x.com/public/b",
      "https://x.com/public/private/c", "https://x.com/secret/d",
      "https://x.com/").toDF("url")
    val priorities = Seq(("com.x", 1.0)).toDF("rev_host", "priority")
    val dir = java.nio.file.Files.createTempDirectory("graft_rep_match").toString
    val c = Frontier.Config(dir, defaultTokens = 10, saltBuckets = 4,
      seenCfg = UrlSeen.Config(buckets = 4, bitsPerBucket = 1 << 14, numHashes = 5))
    Frontier.init(spark, c, seeds, priorities, rules)
    val docs = Seq(("https://x.com/public/a",
      Seq(("text", "nothing here", null: String, 0)))).toDF("doc_id", "spans")
      .select(col("doc_id"), expr(
        "transform(spans, s -> named_struct('kind', s._1, 'text', s._2, 'media_ref', s._3, 'offset', s._4))").as("spans"))
    Frontier.run(spark, c, CorpusFetcher(docs), 1,
      Seq(("com.x", 10)).toDF("rev_host", "tokens_per_round"), rules, priorities)
    val urls = Frontier.fetchLog(spark, c).collect().map(_.getAs[String]("url")).toSet
    assert(urls == Set("https://x.com/public/a", "https://x.com/public/b"))
  }

  test("RFC 9309 §2.2.3 special characters: * wildcard and $ end-anchor in rules") {
    import graft.frontier.{CorpusFetcher, Frontier, UrlSeen}
    // *.pdf$ blocks exactly paths ENDING in .pdf; /files/* blocks the files
    // subtree but Allow /files/pub* re-opens the pub prefix (longer pattern)
    val rules = Robots.parseFull(Seq(("com.w",
      "User-agent: *\nDisallow: /*.pdf$\nDisallow: /files/*\nAllow: /files/pub*"))
      .toDF("rev_host", "body")).localCheckpoint()
    val seeds = Seq(
      "https://w.com/doc.pdf",        // blocked: *.pdf$ matches end
      "https://w.com/doc.pdfx",       // allowed: $ anchor fails
      "https://w.com/a/b/c.pdf",      // blocked: * spans directories
      "https://w.com/files/secret",   // blocked: /files/*
      "https://w.com/files/pub/x",    // allowed: Allow /files/pub* is longer
      "https://w.com/ok.html").toDF("url")
    val prio = Seq(("com.w", 1.0)).toDF("rev_host", "priority")
    val dir = java.nio.file.Files.createTempDirectory("graft_rep_wild").toString
    val c = Frontier.Config(dir, defaultTokens = 10, saltBuckets = 4,
      seenCfg = UrlSeen.Config(buckets = 4, bitsPerBucket = 1 << 14, numHashes = 5))
    Frontier.init(spark, c, seeds, prio, rules)
    val emptyDocs = Seq.empty[(String, Seq[(String, String, String, Int)])]
      .toDF("doc_id", "spans")
      .select(col("doc_id"), expr(
        "transform(spans, s -> named_struct('kind', s._1, 'text', s._2, 'media_ref', s._3, 'offset', s._4))").as("spans"))
    Frontier.run(spark, c, CorpusFetcher(emptyDocs), 1,
      Seq(("com.w", 10)).toDF("rev_host", "tokens_per_round"), rules, prio)
    val urls = Frontier.fetchLog(spark, c).collect().map(_.getAs[String]("url")).toSet
    assert(urls == Set("https://w.com/doc.pdfx", "https://w.com/files/pub/x",
      "https://w.com/ok.html"))
  }

  test("randomized differential: engine longest-match filter == independent sequential matcher") {
    import graft.frontier.{Frontier, UrlSeen}
    import graft.sources.TableIO
    // independent reference implementation (Pattern.quote-based escaping vs
    // the engine's character-class escaping — two codepaths, one contract)
    def refMatchLen(path: String, rule: String): Option[Int] = {
      val special = rule.contains("*") || rule.endsWith("$")
      if (!special) { if (path.startsWith(rule)) Some(rule.length) else None }
      else {
        val anchored = rule.endsWith("$")
        val body = if (anchored) rule.dropRight(1) else rule
        val rx = ("^" + body.split("\\*", -1).map(java.util.regex.Pattern.quote)
          .mkString(".*") + (if (anchored) "$" else "")).r
        if (rx.findFirstIn(path).isDefined) Some(rule.length) else None
      }
    }
    def refAllowed(path: String, dis: Seq[String], alw: Seq[String]): Boolean = {
      val d = dis.flatMap(refMatchLen(path, _)).maxOption
      val a = alw.flatMap(refMatchLen(path, _)).maxOption
      d.isEmpty || a.exists(_ >= d.get)
    }
    val rnd = new scala.util.Random(20260817L)
    val segs = Seq("a", "bb", "img", "pub", "x.y", "doc", "p-q", "1", "12")
    def randPath(): String =
      "/" + Seq.fill(1 + rnd.nextInt(3))(segs(rnd.nextInt(segs.size))).mkString("/") +
        (if (rnd.nextBoolean()) "." + segs(rnd.nextInt(segs.size)) else "")
    def randRule(): String = {
      val base = randPath()
      val withStar = rnd.nextInt(3) match {
        case 0 => base
        case 1 => // splice a * at a random position
          val i = 1 + rnd.nextInt(base.length - 1); base.take(i) + "*" + base.drop(i)
        case _ => base + "*"
      }
      if (rnd.nextInt(4) == 0) withStar.stripSuffix("*") + "$" else withStar
    }
    val paths = Seq.fill(300)(randPath()).distinct
    val dis = Seq.fill(12)(randRule()).distinct
    val alw = Seq.fill(8)(randRule()).distinct
    val robots = Seq(("com.h", dis, alw))
      .toDF("rev_host", "disallow_prefixes", "allow_prefixes")
    val seeds = paths.map(p => s"https://h.com$p").toDF("url")
    val prio = Seq(("com.h", 1.0)).toDF("rev_host", "priority")
    val dir = java.nio.file.Files.createTempDirectory("graft_rep_diff").toString
    val c = Frontier.Config(dir, defaultTokens = 2, saltBuckets = 4,
      seenCfg = UrlSeen.Config(buckets = 4, bitsPerBucket = 1 << 14, numHashes = 5))
    Frontier.init(spark, c, seeds, prio, robots)
    val st = Frontier.lastCommittedAt(spark, c, -1).get
    val enginePending = TableIO.readAt(spark, s"$dir/pending", st.pending)
      .select("url").collect().map(_.getString(0)).toSet
    // surt-canonicalization keeps one url per key; paths here are distinct
    // and case differences don't collide, so pending == allowed seeds
    val expected = paths.filter(p => refAllowed(p, dis, alw))
      .map(p => s"https://h.com$p").toSet
    assert(enginePending == expected,
      s"engine-only: ${(enginePending -- expected).take(5)}; " +
      s"reference-only: ${(expected -- enginePending).take(5)}")
    // sanity: the random rule set actually exercised both directions
    assert(expected.size < paths.size, "no path was ever disallowed")
  }

  test("end-to-end: parsed robots.txt gates the frontier — disallowed paths never scheduled") {
    import graft.frontier.{CorpusFetcher, Frontier, UrlSeen}
    import graft.functions.gf
    import graft.sources.SynthDocs
    val nHosts = 30
    val docs = SynthDocs.docs(spark, 200L, nHosts, seed = 42).toDF()
    val priorities = Frontier.hostPriorities(docs).localCheckpoint()
    val budgets = SynthDocs.politeness(spark, nHosts)
      .select(gf.reverse_host(col("host")).as("rev_host"), col("tokens_per_round"))
    // every host serves the same body: pages under /page/1 are off-limits
    // for us (exact-agent group), /img/ only for everyone else
    val bodies = priorities.select(col("rev_host"),
      lit("User-agent: graftbot\nDisallow: /page/1\nUser-agent: *\nDisallow: /img/")
        .as("body"))
    val robots = Robots.parse(bodies, agent = "graftbot").localCheckpoint()
    val dir = java.nio.file.Files.createTempDirectory("graft_robots_e2e").toString
    val c = Frontier.Config(dir, defaultTokens = 2, saltBuckets = 4,
      seenCfg = UrlSeen.Config(buckets = 4, bitsPerBucket = 1 << 14, numHashes = 5))
    Frontier.init(spark, c, SynthDocs.seeds(spark, 8, nHosts), priorities, robots)
    Frontier.run(spark, c, CorpusFetcher(docs), 2, budgets, robots, priorities)
    val urls = Frontier.fetchLog(spark, c).collect().map(_.getAs[String]("url"))
    assert(urls.nonEmpty)
    assert(!urls.exists(u => u.contains("/page/1")))
    // the wildcard group's /img/ rule must NOT apply to graftbot
    assert(robots.collect().forall(
      _.getSeq[String](1) == Seq("/page/1")))
  }
}
