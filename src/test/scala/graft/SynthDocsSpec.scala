package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{DenseIds, HostGraph, Ranks}
import graft.sources.SynthDocs

class SynthDocsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("docs table matches input_hint schema") {
    val d = SynthDocs.docs(spark, 50, 20)
    val fields = d.schema.fields.map(f => (f.name, f.dataType.simpleString)).toMap
    assert(fields("doc_id") == "string")
    assert(fields("spans") ==
      "array<struct<kind:string,text:string,media_ref:string,offset:int>>")
  }

  test("span-sequence invariant: (kind,text,media_ref,order) identical across regeneration") {
    // per-row invariant from BASELINE.json input_hint, via posexplode + empty except
    def spansOf(seed: Long) = SynthDocs.docs(spark, 100, 25, seed)
      .select(col("doc_id"), posexplode(col("spans")).as(Seq("pos", "span")))
      .select($"doc_id", $"pos", $"span.kind", $"span.text", $"span.media_ref")
    assert(spansOf(42).exceptAll(spansOf(42)).isEmpty)
    assert(spansOf(42).exceptAll(spansOf(43)).count() > 0) // seed actually matters
  }

  test("offsets strictly increasing per doc") {
    val bad = SynthDocs.docs(spark, 200, 25)
      .select(col("doc_id"), posexplode(col("spans")).as(Seq("pos", "span")))
      .groupBy("doc_id")
      .agg(max(col("span.offset") - col("pos") * 200).as("mx"),
           min(col("span.offset") - col("pos") * 200).as("mn"))
      .filter(col("mx") >= 200 || col("mn") < 0)
    assert(bad.isEmpty)
  }

  test("media spans carry media_ref, text spans carry text with URLs") {
    val spans = SynthDocs.docs(spark, 100, 25)
      .select(explode(col("spans")).as("s")).select("s.*")
    assert(spans.filter($"kind" === "media" && ($"media_ref".isNull || $"text".isNotNull)).isEmpty)
    assert(spans.filter($"kind" === "text" && ($"text".isNull || $"media_ref".isNotNull)).isEmpty)
    assert(spans.filter($"kind" === "text" && !$"text".contains("https://")).isEmpty)
  }

  test("host graph built from docs obeys invariants A+B") {
    val docs = SynthDocs.docs(spark, 300, 30)
    val links = HostGraph.hostLinks(docs.toDF())
    val (vertices, edges) = HostGraph.build(links)
    val v = vertices.orderBy("id").collect()
    // dense ids in lexicographic rev_name order
    assert(v.map(_.getLong(0)).toSeq == v.indices.map(_.toLong))
    val names = v.map(_.getString(1))
    assert(names.sameElements(names.sorted))
    // edges reference valid ids, no self loops, no duplicates
    val n = v.length
    val e = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(e.forall { case (f, t) => f >= 0 && f < n && t >= 0 && t < n && f != t })
    assert(e.distinct.length == e.length)
  }

  test("DenseIds.assign = rank in global sort order, any partitioning") {
    val df = spark.range(1000).select(
      concat(lit("k"), lpad(pmod(xxhash64($"id"), lit(100000)).cast("string"), 6, "0")).as("key"))
      .distinct()
      .repartition(7)
    def ids(out: DataFrame) =
      out.orderBy("id").collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("key"))).toSeq
    val got = ids(DenseIds.assign(df, "key"))
    val expected = got.map(_._2).sorted.zipWithIndex.map { case (k, i) => (i.toLong, k) }
    assert(got == expected)
    // the range path over 5 range partitions gives the same ids
    val conf = spark.conf
    val saved = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.coalescePartitions.enabled")
      .map(k => k -> conf.get(k))
    conf.set("spark.sql.shuffle.partitions", "5")
    conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      val ranged = Ranks.rowNumberSpark(df, Seq(col("key")), "id")
      assert(ranged.rdd.getNumPartitions == 5)
      assert(ids(ranged.withColumn("id", col("id") - 1L)) == expected)
    } finally saved.foreach { case (k, v) => conf.set(k, v) }
  }
}
