package graft

import java.nio.file.Files

import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.TableIO

/** Direct contract spec for the snapshot-table seam every frontier state
  * table rests on (until now pinned only transitively, through the
  * FrontierSpec kill/orphan/resume crawls). The load-bearing properties:
  * append is a metadata-only delta commit, pinned reads are immutable
  * against later commits, and a replayed append builds on its PINNED
  * parent, never on an orphan "current".
  */
class TableIOSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def rows(dir: String, id: Option[Long] = None): Set[Long] = {
    val df = id.map(TableIO.readAt(spark, dir, _)).getOrElse(TableIO.read(spark, dir))
    df.collect().map(_.getLong(0)).toSet
  }

  /** Drop the recorded schema from a snapshot's manifests. */
  private def stripSchema(dir: String, id: Long): Unit = {
    TestFiles.dropLines(new java.io.File(s"$dir/_snapshot-$id"), "schema=")
    if (TableIO.currentSnapshot(spark, dir).exists(_.id == id))
      TestFiles.dropLines(new java.io.File(s"$dir/_snapshot"), "schema=")
  }

  test("write/read roundtrip records id, parent, counters and lineage") {
    val dir = Files.createTempDirectory("tio_rt").toString + "/t"
    val s0 = TableIO.write(Seq(1L, 2L).toDF("v"), dir, "init",
      Map("rows" -> 2L))
    assert(s0.id == 0L && s0.parentId == -1L)
    assert(rows(dir) == Set(1L, 2L))
    val snap = TableIO.snapshotAt(spark, dir, 0L).get
    assert(snap.counters == Map("rows" -> 2L) && snap.lineage == "init")
  }

  test("append is a delta commit; pinned reads are immutable against later commits") {
    val dir = Files.createTempDirectory("tio_ap").toString + "/t"
    val s0 = TableIO.write(Seq(1L).toDF("v"), dir)
    val s1 = TableIO.append(Seq(2L).toDF("v"), dir, parentId = Some(s0.id))
    assert(s1.parentId == s0.id)
    assert(rows(dir) == Set(1L, 2L))             // current = parent + delta
    assert(rows(dir, Some(s0.id)) == Set(1L))    // pinned read unchanged
    // the delta manifest lists BOTH data dirs but the commit wrote only one
    assert(TableIO.snapshotAt(spark, dir, s1.id).get.paths.size == 2)
  }

  test("a replayed append builds on its pinned parent, never on an orphan current") {
    val dir = Files.createTempDirectory("tio_orph").toString + "/t"
    val s0 = TableIO.write(Seq(1L).toDF("v"), dir)
    // crash shape: an append landed (and flipped "current") but the round
    // marker pinning it was never written
    TableIO.append(Seq(99L).toDF("v"), dir, "orphan", parentId = Some(s0.id))
    // replay appends the round's TRUE rows onto the marker-pinned parent
    val replay = TableIO.append(Seq(2L).toDF("v"), dir, "replay",
      parentId = Some(s0.id))
    assert(rows(dir, Some(replay.id)) == Set(1L, 2L)) // orphan rows excluded
    assert(replay.parentId == s0.id)
  }

  test("write replaces current; superseded pinned snapshots stay readable") {
    val dir = Files.createTempDirectory("tio_rw").toString + "/t"
    val s0 = TableIO.write(Seq(1L).toDF("v"), dir)
    val s1 = TableIO.append(Seq(2L).toDF("v"), dir, parentId = Some(s0.id))
    val s2 = TableIO.write(Seq(7L).toDF("v"), dir, "compact")
    assert(s2.id == s1.id + 1)
    assert(rows(dir) == Set(7L))                      // full replace
    assert(rows(dir, Some(s1.id)) == Set(1L, 2L))     // history intact
  }

  test("a missing pinned parent fails loudly") {
    val dir = Files.createTempDirectory("tio_miss").toString + "/t"
    TableIO.write(Seq(1L).toDF("v"), dir)
    val e = intercept[IllegalStateException] {
      TableIO.append(Seq(2L).toDF("v"), dir, parentId = Some(42L))
    }
    assert(e.getMessage.contains("42"))
  }

  test("two writers on one table: last manifest flip wins, the fork stays readable, rows never merge silently") {
    // VERDICT r6 item 7 (the spot-instance double-commit the reference
    // guards with per-split checkpoints): the seam is single-writer by
    // convention — this pins what happens when the convention breaks. Two
    // appends pinned to the SAME parent fork the history: each covers
    // parent + its OWN delta only, the later manifest flip owns "current",
    // the earlier snapshot remains readable by its pinned id, and the two
    // deltas are NEVER silently merged into one lineage.
    val dir = Files.createTempDirectory("tio_2w").toString + "/t"
    val s0 = TableIO.write(Seq(1L).toDF("v"), dir)
    val a = TableIO.append(Seq(2L).toDF("v"), dir, "writerA", parentId = Some(s0.id))
    val b = TableIO.append(Seq(3L).toDF("v"), dir, "writerB", parentId = Some(s0.id))
    assert(a.parentId == s0.id && b.parentId == s0.id) // both forked from s0
    assert(rows(dir) == Set(1L, 3L))                   // last writer owns current
    assert(rows(dir, Some(a.id)) == Set(1L, 2L))       // loser's fork readable
    assert(!rows(dir).contains(2L))                    // no silent merge
  }

  test("a crashed attempt's debris under the next snapshot id is replaced, not read") {
    // the committer-v2 + mode(overwrite) contract (r7): task output moves
    // into the data dir at task commit, so a crash can leave partial files
    // under the NEXT snapshot id with no manifest — the retry of that
    // commit must replace the debris wholesale (readers never saw it: the
    // manifest rename is the only publication point)
    val dir = Files.createTempDirectory("tio_debris").toString + "/t"
    val s0 = TableIO.write(Seq(1L).toDF("v"), dir)
    val debris = new java.io.File(s"$dir/snap-${s0.id + 1}")
    assert(debris.mkdirs())
    Files.writeString(debris.toPath.resolve("part-junk.parquet"), "not parquet")
    val s1 = TableIO.append(Seq(2L).toDF("v"), dir, "retry", parentId = Some(s0.id))
    assert(s1.id == s0.id + 1)
    assert(rows(dir, Some(s1.id)) == Set(1L, 2L)) // debris gone, rows exact
  }

  test("the manifest records the read schema, every level nullable") {
    val dir = Files.createTempDirectory("tio_schema").toString + "/t"
    val df = Seq((1L, 0, Seq(("a", 1.5))), (2L, 1, Seq.empty[(String, Double)]))
      .toDF("v", "bucket", "pairs")
    val s0 = TableIO.write(df, dir)
    val inferred = spark.read.parquet(s0.paths: _*).schema
    // every level nullable, as a parquet read reports it
    assert(s0.schema == inferred, s0.schema)
    assert(TableIO.snapshotAt(spark, dir, s0.id).get.schema == inferred)
    assert(TableIO.read(spark, dir).schema == inferred)
    assert(rows(dir) == Set(1L, 2L))
    // an append carries the schema on
    val s1 = TableIO.append(Seq((3L, 1, Seq(("b", 2.0)))).toDF("v", "bucket", "pairs"), dir)
    assert(s1.schema == spark.read.parquet(s1.paths: _*).schema)
    assert(TableIO.read(spark, dir).select("v").as[Long].collect().toSet == Set(1L, 2L, 3L))
  }

  test("reads and empty commits plan from the manifest and start no job") {
    val dir = Files.createTempDirectory("tio_nojob").toString + "/t"
    val s0 = TableIO.write(Seq((1L, "a")).toDF("v", "s"), dir)
    val jobs = JobRecorder.during(spark) {
      TableIO.read(spark, dir).schema
      TableIO.readAt(spark, dir, s0.id).columns
      TableIO.create(spark, StructType.fromDDL("v BIGINT, s STRING"),
        Files.createTempDirectory("tio_nojob_c").toString + "/t")
    }
    assert(jobs.isEmpty, jobs)
    // there is no inference fallback: a manifest without a schema fails loudly
    stripSchema(dir, s0.id)
    val err = intercept[IllegalStateException](TableIO.read(spark, dir))
    assert(err.getMessage.contains(s"$dir/_snapshot"), err.getMessage)
    intercept[IllegalStateException](TableIO.readAt(spark, dir, s0.id))
  }

  test("an empty snapshot is a manifest only, reads back typed, and takes appends") {
    val dir = Files.createTempDirectory("tio_empty").toString + "/t"
    val schema = StructType.fromDDL("bucket INT, key STRING")
    val s0 = TableIO.create(spark, schema, dir, "init", Map("buckets" -> "4"))
    assert(s0.id == 0L && s0.paths.isEmpty)
    assert(!new java.io.File(s"$dir/snap-0").exists())
    val snap = TableIO.snapshotAt(spark, dir, 0L).get
    assert(snap.properties == Map("buckets" -> "4") && snap.lineage == "init")
    val empty = TableIO.read(spark, dir)
    assert(empty.schema == schema && empty.count() == 0)
    assert(empty.queryExecution.analyzed.isInstanceOf[LocalRelation])
    val s1 = TableIO.append(Seq((1, "k")).toDF("bucket", "key"), dir, parentId = Some(s0.id))
    assert(s1.paths.size == 1)
    assert(TableIO.read(spark, dir).collect().map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq((1, "k")))
    // create over an existing table replaces it, like write
    val s2 = TableIO.create(spark, schema, dir)
    assert(s2.parentId == s1.id && TableIO.read(spark, dir).count() == 0)
  }

  test("an append whose columns differ from the parent's schema throws") {
    val dir = Files.createTempDirectory("tio_mismatch").toString + "/t"
    val s0 = TableIO.write(Seq((1, "a")).toDF("bucket", "key"), dir)
    val renamed = intercept[IllegalArgumentException] {
      TableIO.append(Seq((2, "b")).toDF("bucket", "url"), dir, parentId = Some(s0.id))
    }
    assert(renamed.getMessage.contains("key STRING"), renamed.getMessage)
    intercept[IllegalArgumentException] {   // a type change
      TableIO.append(Seq((2L, "b")).toDF("bucket", "key"), dir, parentId = Some(s0.id))
    }
    intercept[IllegalArgumentException] {   // a dropped column
      TableIO.append(Seq("b").toDF("key"), dir, parentId = Some(s0.id))
    }
    // nothing was committed by the rejected appends
    assert(TableIO.currentSnapshot(spark, dir).get.id == s0.id)
    // column order and nullability are not part of the check
    val s1 = TableIO.append(Seq(("c", Option(3))).toDF("key", "bucket"), dir,
      parentId = Some(s0.id))
    assert(TableIO.readAt(spark, dir, s1.id).collect()
      .map(r => (r.getAs[Int]("bucket"), r.getAs[String]("key"))).toSet == Set((1, "a"), (3, "c")))
  }
}
