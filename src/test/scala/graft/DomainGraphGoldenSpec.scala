package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.DomainGraph
import graft.operators.DomainGraph.{HostWithoutWww, Options, PrivateDomain, RegisteredDomain}
import graft.sources.TextGraphIO

/** Every golden fixture from the reference's `TestHostToDomainGraph.java`
  * (file:line cited per case), asserting exact line-for-line equality of the
  * folded domain graph on both of the fold's paths: fold membership, host
  * counts, lexicographic order of reversed names, dense id assignment.
  */
class DomainGraphGoldenSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** The public fold (in driver memory at these sizes) and its Spark plan. */
  private val paths: Seq[(DataFrame, DataFrame, Options) => DomainGraph.Result] =
    Seq(DomainGraph.fold(_, _, _), DomainGraph.foldSpark(_, _, _))

  /** The folded vertices as lines, equal on both paths. */
  private def fold(hostLines: Seq[String], opts: Options): Seq[String] = {
    val v = TextGraphIO.verticesFromLines(spark, hostLines)
    val e = TextGraphIO.edgesFromLines(spark, Seq.empty)
    val Seq(a, b) = paths.map { path =>
      path(v, e, opts.copy(validateSortedInput = true)).vertices.orderBy("id").collect().map { row =>
        val base = s"${row.getLong(0)}\t${row.getString(1)}"
        if (opts.countHosts) s"$base\t${row.getLong(2)}" else base
      }.toSeq
    }
    assert(a == b)
    a
  }

  // --- fixtures ported verbatim from TestHostToDomainGraph.java ---

  val hostGraphSimple = Seq(
    "0\tcom.example", "1\tcom.example.www,", "2\tcom.example.xyz,", "3\torg.example")
  val domainGraphSimple = Seq("0\tcom.example\t3", "1\torg.example\t1")

  test("simple fold with counts (TestHostToDomainGraph.java:252-264)") {
    assert(fold(hostGraphSimple, Options()) == domainGraphSimple)
  }

  test("simple fold without counts (TestHostToDomainGraph.java:252-258)") {
    assert(fold(hostGraphSimple, Options(countHosts = false)) ==
      domainGraphSimple.map(_.replaceFirst("\t[^\t]*$", "")))
  }

  test("unsorted input throws (TestHostToDomainGraph.java:266-274)") {
    val notSorted = Seq(
      "0\tcom.example", "1\tcom.example.xyz,", "2\tcom.example.www,", "3\torg.example")
    val v = TextGraphIO.verticesFromLines(spark, notSorted)
    val e = TextGraphIO.edgesFromLines(spark, Seq.empty)
    for (path <- paths) intercept[Exception] { path(v, e, Options(validateSortedInput = true)) }
  }

  val hostGraphHyphenated = Seq(
    "0\tac.e-bike", "1\tac.e-bikes", "2\tac.e-com", "3\tac.e.subdomain",
    "4\tac.eagle", "5\tac.gov", "6\tac.gov.ascension", "7\tac.gov.ascension-island",
    "8\tac.gov.ascension.mail", "9\tac.gov.conservation-ascension-island",
    "10\tac.gov.postoffice")

  test("hyphenated domains (TestHostToDomainGraph.java:276-283)") {
    assert(fold(hostGraphHyphenated, Options()) == Seq(
      "0\tac.e\t1", "1\tac.e-bike\t1", "2\tac.e-bikes\t1", "3\tac.e-com\t1",
      "4\tac.eagle\t1", "5\tac.gov.ascension\t2", "6\tac.gov.ascension-island\t1",
      "7\tac.gov.conservation-ascension-island\t1", "8\tac.gov.postoffice\t1"))
  }

  test("hyphenated incl. multi-part suffixes as domains (TestHostToDomainGraph.java:306-315)") {
    assert(fold(hostGraphHyphenated, Options(multiPartSuffixesAsDomains = true)) == Seq(
      "0\tac.e\t1", "1\tac.e-bike\t1", "2\tac.e-bikes\t1", "3\tac.e-com\t1",
      "4\tac.eagle\t1", "5\tac.gov\t1", "6\tac.gov.ascension\t2",
      "7\tac.gov.ascension-island\t1", "8\tac.gov.conservation-ascension-island\t1",
      "9\tac.gov.postoffice\t1"))
  }

  test("subdomain-only hosts (TestHostToDomainGraph.java:286-294)") {
    val in = Seq(
      "0\tac.gov.ascension-island", "1\tac.gov.ascension.mail",
      "2\tac.gov.conservation-ascension-island", "3\tac.gov.postoffice")
    assert(fold(in, Options()) == Seq(
      "0\tac.gov.ascension\t1", "1\tac.gov.ascension-island\t1",
      "2\tac.gov.conservation-ascension-island\t1", "3\tac.gov.postoffice\t1"))
  }

  test("duplicated domains / suffix-of-suffix, issue #3 (TestHostToDomainGraph.java:297-303)") {
    val in = Seq(
      "0\tno.hordaland", "1\tno.hordaland-teater", "2\tno.hordaland.os",
      "3\tno.hordaland.os.bibliotek", "4\tno.hordaland.oygarden",
      "5\tno.hordalandfolkemusikklag")
    assert(fold(in, Options()) == Seq(
      "0\tno.hordaland\t2", "1\tno.hordaland-teater\t1",
      "2\tno.hordaland.os.bibliotek\t1", "3\tno.hordalandfolkemusikklag\t1"))
  }

  test("domain-in-suffix output sort A, issue #33 (TestHostToDomainGraph.java:318-325)") {
    val in = Seq(
      "0\tno.hedland", "1\tno.hedmark-folkemusikklag", "2\tno.hedmark-trafikk",
      "3\tno.hedmark.m", "4\tno.hedmark.os.www", "5\tno.hedmark.www",
      "6\tno.hedmarktrafikk")
    assert(fold(in, Options()) == Seq(
      "0\tno.hedland\t1", "1\tno.hedmark\t2", "2\tno.hedmark-folkemusikklag\t1",
      "3\tno.hedmark-trafikk\t1", "4\tno.hedmark.os.www\t1", "5\tno.hedmarktrafikk\t1"))
  }

  test("domain-in-suffix output sort B, issue #33 (TestHostToDomainGraph.java:328-335)") {
    val in = Seq(
      "0\tno.hedland", "1\tno.hedmark-folkemusikklag", "2\tno.hedmark-trafikk",
      "3\tno.hedmark.os.www", "4\tno.hedmark.www", "5\tno.hedmarktrafikk")
    assert(fold(in, Options()) == Seq(
      "0\tno.hedland\t1", "1\tno.hedmark\t1", "2\tno.hedmark-folkemusikklag\t1",
      "3\tno.hedmark-trafikk\t1", "4\tno.hedmark.os.www\t1", "5\tno.hedmarktrafikk\t1"))
  }

  test("private domains (TestHostToDomainGraph.java:338-346)") {
    val in = Seq(
      "0\tname.hiro", "1\tname.hiropo", "2\tname.his.forgot.adam",
      "3\tname.his.forgot.ben", "4\tname.his.forgot.never", "5\tname.his.prz",
      "6\tname.hista.tac", "7\tname.history", "8\tname.history.0.aba", "9\tname.hit")
    assert(fold(in, Options(aggregation = PrivateDomain, multiPartSuffixesAsDomains = true)) == Seq(
      "0\tname.hiro\t1", "1\tname.hiropo\t1", "2\tname.his\t1",
      "3\tname.his.forgot.adam\t1", "4\tname.his.forgot.ben\t1",
      "5\tname.his.forgot.never\t1", "6\tname.hista\t1", "7\tname.history\t2",
      "8\tname.hit\t1"))
  }

  test("strip-www aggregation (TestHostToDomainGraph.java:349-358)") {
    val in = Seq(
      "0\tname.hiro", "1\tname.hiro.adam", "2\tname.hiro.www",
      "3\tname.his.forgot.ben.www", "4\tname.his.forgot.never",
      "5\tname.his.prz.www", "6\tname.his.www", "7\tname.hit.www")
    assert(fold(in, Options(aggregation = HostWithoutWww)) == Seq(
      "0\tname.hiro\t2", "1\tname.hiro.adam\t1", "2\tname.his\t1",
      "3\tname.his.forgot.ben\t1", "4\tname.his.forgot.never\t1",
      "5\tname.his.prz\t1", "6\tname.hit\t1"))
  }

  test("www.com edge case kept (TestHostToDomainGraph.java:363-375)") {
    assert(fold(Seq("0\tcom.www"), Options(aggregation = HostWithoutWww)) ==
      Seq("0\tcom.www\t1"))
  }

  test("edge remap: self-loops dropped, duplicates collapsed (HostToDomainGraph.java:471-487)") {
    val v = TextGraphIO.verticesFromLines(spark, hostGraphSimple)
    val e = TextGraphIO.edgesFromLines(spark, Seq("0\t3", "1\t3", "3\t0", "0\t1", "2\t1"))
    for (path <- paths) {
      val edges = path(v, e, Options()).edges.orderBy("from_id", "to_id").collect()
        .map(x => (x.getLong(0), x.getLong(1))).toSeq
      // hosts 0,1,2 → domain 0 (com.example); host 3 → domain 1 (org.example)
      // (0,3)+(1,3) → (0,1); (3,0) → (1,0); (0,1)+(2,1) → self-loops dropped
      assert(edges == Seq((0L, 1L), (1L, 0L)))
    }
  }
}
