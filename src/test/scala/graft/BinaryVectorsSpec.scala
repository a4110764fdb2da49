package graft

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.PageRank
import graft.sources.BinaryVectors

class BinaryVectorsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("float vector roundtrip is byte-compatible with java DataOutput (BinIO format)") {
    val dir = Files.createTempDirectory("binvec").toString
    val vals = Seq(0.5f, -1.25f, 3.14159f, 0f)
    val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "value")
    val n = BinaryVectors.writeFloats(df, s"$dir/hc.bin")
    assert(n == 4)
    // reference writes via DataOutput big-endian IEEE — compare raw bytes
    val bos = new ByteArrayOutputStream()
    val dos = new DataOutputStream(bos)
    vals.foreach(dos.writeFloat)
    assert(Files.readAllBytes(Paths.get(s"$dir/hc.bin")).toSeq == bos.toByteArray.toSeq)
    val back = BinaryVectors.readFloats(spark, s"$dir/hc.bin")
      .orderBy("id").collect().map(_.getFloat(1)).toSeq
    assert(back == vals)
  }

  test("double vector roundtrip + dense-id precondition enforced") {
    val dir = Files.createTempDirectory("binvec2").toString
    val df = Seq((0L, 0.1), (1L, 0.9)).toDF("id", "value")
    BinaryVectors.writeDoubles(df, s"$dir/pr.bin")
    assert(BinaryVectors.readDoubles(spark, s"$dir/pr.bin")
      .orderBy("id").collect().map(_.getDouble(1)).toSeq == Seq(0.1, 0.9))
    val gap = Seq((0L, 0.1), (2L, 0.9)).toDF("id", "value")
    intercept[Exception] { BinaryVectors.writeDoubles(gap, s"$dir/bad.bin") }
  }

  test("personalized PageRank: preference vector shifts mass, stays stochastic") {
    val v = (0L to 3L).toDF("id")
    val e = Seq((0L, 1L), (1L, 2L), (2L, 0L), (3L, 0L)).toDF("from_id", "to_id")
    val pref = Seq((0L, 1.0), (1L, 0.0), (2L, 0.0), (3L, 0.0)).toDF("id", "pref")
    for (run <- Seq(PageRank.run _, PageRank.runSpark _)) {
      val pr = run(v, e, Some(pref), 0.85, 60, 1e-12, true)
        .orderBy("id").collect().map(_.getDouble(1))
      assert(math.abs(pr.sum - 1.0) < 1e-9)
      // teleport only to node 0: rank(0) > rank(1) > rank(2); node 3 gets
      // nothing (no in-links, no preference mass)
      assert(pr(0) > pr(1) && pr(1) > pr(2) && pr(2) > pr(3))
      assert(pr(3) < 1e-9)
    }
  }
}
