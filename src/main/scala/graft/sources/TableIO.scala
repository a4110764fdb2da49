package graft.sources

import java.io.{BufferedReader, InputStreamReader, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.Properties

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

import scala.jdk.CollectionConverters._

/** Iceberg-style snapshot tables over plain Parquet (this environment ships
  * no Iceberg runtime — SURVEY.md §7). Real Iceberg drops in behind this
  * seam unchanged.
  *
  * Layout: `dir/snap-<id>/` data dirs + `dir/_snapshot` manifest. A snapshot
  * manifest lists ALL data dirs it covers, so `append` is a metadata-only
  * commit of a new delta dir (no rewrite — the property that makes a
  * 10^10-row seen set updatable per round). The manifest also records the
  * snapshot's schema (compact DDL), so reads plan from metadata alone, and
  * an empty snapshot ([[create]]) is a manifest with no data dir at all.
  * Commits are atomic: manifest written to a temp file then renamed (rename
  * is atomic on HDFS/POSIX; on raw object stores substitute a conditional
  * put).
  *
  * This mirrors the reference's idempotent-step + checkpoint discipline
  * (`workflow_lib.sh:10-40`, spot-instance checkpointing
  * `build_hostgraph.sh:131-178`).
  */
object TableIO {

  /** One committed snapshot, as its manifest records it.
    *
    * @param schema     the read schema (data columns, then partition
    *                   columns, all nullable) — kept in the manifest, as
    *                   Iceberg keeps it in table metadata, so planning a read
    *                   never opens a data file. None only for a manifest
    *                   written before schemas were recorded.
    * @param properties table properties a caller pins to the snapshot (e.g.
    *                   a layout parameter), kept apart from the counters
    */
  final case class Snapshot(id: Long, parentId: Long, paths: Seq[String],
                            counters: Map[String, Long], lineage: String,
                            schema: Option[StructType] = None,
                            properties: Map[String, String] = Map.empty)

  private def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestPath(dir: String) = new Path(dir, "_snapshot")

  def currentSnapshot(spark: SparkSession, dir: String): Option[Snapshot] = {
    val f = fs(spark, dir)
    val mp = manifestPath(dir)
    if (!f.exists(mp)) None else Some(readManifest(f, mp))
  }

  def snapshotAt(spark: SparkSession, dir: String, id: Long): Option[Snapshot] = {
    val f = fs(spark, dir)
    val mp = new Path(dir, s"_snapshot-$id")
    if (!f.exists(mp)) None else Some(readManifest(f, mp))
  }

  private def prefixed(props: Properties, prefix: String): Map[String, String] =
    props.stringPropertyNames().asScala.filter(_.startsWith(prefix))
      .map(k => k.stripPrefix(prefix) -> props.getProperty(k)).toMap

  private def readManifest(f: FileSystem, p: Path): Snapshot = {
    val in = new BufferedReader(new InputStreamReader(f.open(p), StandardCharsets.UTF_8))
    try {
      val props = new Properties()
      props.load(in)
      Snapshot(
        id = props.getProperty("id").toLong,
        parentId = props.getProperty("parent", "-1").toLong,
        paths = props.getProperty("paths", "").split(",").filter(_.nonEmpty).toSeq,
        counters = prefixed(props, "counter.").map { case (k, v) => k -> v.toLong },
        lineage = props.getProperty("lineage", ""),
        schema = Option(props.getProperty("schema")).map(StructType.fromDDL),
        properties = prefixed(props, "property."))
    } finally in.close()
  }

  private def writeManifest(f: FileSystem, dir: String, s: Snapshot): Unit = {
    val props = new Properties()
    props.setProperty("id", s.id.toString)
    props.setProperty("parent", s.parentId.toString)
    props.setProperty("paths", s.paths.mkString(","))
    props.setProperty("lineage", s.lineage)
    s.schema.foreach(sc => props.setProperty("schema", sc.toDDL))
    s.counters.foreach { case (k, v) => props.setProperty(s"counter.$k", v.toString) }
    s.properties.foreach { case (k, v) => props.setProperty(s"property.$k", v) }
    def dump(p: Path): Unit = {
      val out = new OutputStreamWriter(f.create(p, true), StandardCharsets.UTF_8)
      try props.store(out, null) finally out.close()
    }
    // immutable per-id manifest (resume pins to it) + atomic flip of _snapshot
    dump(new Path(dir, s"_snapshot-${s.id}"))
    val tmp = new Path(dir, "_snapshot.tmp")
    dump(tmp)
    f.delete(manifestPath(dir), false)
    f.rename(tmp, manifestPath(dir))
  }

  /** Every level nullable: what a parquet read reports whatever the writer
    * declared, and what keeps `NOT NULL` out of the recorded DDL.
    */
  private def nullableType(t: DataType): DataType = t match {
    case s: StructType => nullable(s)
    case a: ArrayType => ArrayType(nullableType(a.elementType), containsNull = true)
    case m: MapType =>
      MapType(nullableType(m.keyType), nullableType(m.valueType), valueContainsNull = true)
    case other => other
  }

  private def nullable(s: StructType): StructType =
    StructType(s.fields.map(f => f.copy(dataType = nullableType(f.dataType), nullable = true)))

  /** The schema a read of `df` written with `partitionCols` reports:
    * partition columns move to the end, in `partitionBy` order.
    */
  private def readSchema(df: DataFrame, partitionCols: Seq[String]): StructType = {
    val (parts, data) = df.schema.fields.partition(f => partitionCols.contains(f.name))
    nullable(StructType(data ++ partitionCols.flatMap(p => parts.find(_.name == p))))
  }

  /** Same column names and types, in any order, nullability ignored. */
  private def sameColumns(a: StructType, b: StructType): Boolean = {
    def cols(s: StructType) = s.fields.map(f => f.name -> nullableType(f.dataType)).toMap
    a.length == b.length && cols(a) == cols(b)
  }

  /** Full-replace commit: write a fresh data dir, manifest covers only it. */
  def write(df: DataFrame, dir: String, lineage: String = "",
            counters: Map[String, Long] = Map.empty,
            partitionBy: Seq[String] = Seq.empty): Snapshot =
    commit(df, dir, lineage, counters, keepParentPaths = false,
      partitionCols = partitionBy)

  /** Append commit: write a delta dir, manifest covers parent dirs + delta.
    * `parentId` pins the parent snapshot — REQUIRED for crash-replay
    * correctness: a round killed after an append but before its marker
    * leaves an orphan snapshot as "current"; the replayed round must append
    * onto the snapshot its state marker pinned, not onto the orphan.
    *
    * One snapshot chain never mixes schemas (a multi-dir read would surface
    * nulls in a missing column): a delta whose column names or types differ
    * from the parent's schema throws IllegalArgumentException before any
    * data is written.
    */
  def append(df: DataFrame, dir: String, lineage: String = "",
             counters: Map[String, Long] = Map.empty,
             parentId: Option[Long] = None,
             partitionBy: Seq[String] = Seq.empty,
             properties: Map[String, String] = Map.empty): Snapshot =
    commit(df, dir, lineage, counters, keepParentPaths = true, parentId, partitionBy,
      properties)

  /** Commit an EMPTY snapshot of `schema` as a manifest only — no write job,
    * no data file. Replaces the current snapshot like [[write]]; a later
    * [[append]] builds on it like on any other parent.
    */
  def create(spark: SparkSession, schema: StructType, dir: String, lineage: String = "",
             properties: Map[String, String] = Map.empty): Snapshot = {
    val current = currentSnapshot(spark, dir)
    val snap = Snapshot(current.map(_.id + 1).getOrElse(0L), current.map(_.id).getOrElse(-1L),
      Seq.empty, Map.empty, lineage, Some(nullable(schema)), properties)
    writeManifest(fs(spark, dir), dir, snap)
    snap
  }

  private def commit(df: DataFrame, dir: String, lineage: String,
                     counters: Map[String, Long], keepParentPaths: Boolean,
                     parentId: Option[Long] = None,
                     partitionCols: Seq[String] = Seq.empty,
                     properties: Map[String, String] = Map.empty): Snapshot = {
    val spark = df.sparkSession
    val current = currentSnapshot(spark, dir)
    val parent = parentId match {
      case Some(id) => snapshotAt(spark, dir, id)
        .orElse(throw new IllegalStateException(s"pinned parent snapshot $id missing in $dir"))
      case None => current
    }
    val deltaSchema = readSchema(df, partitionCols)
    val recorded = parent.filter(_ => keepParentPaths) match {
      case Some(p) =>
        val parentSchema = schema(spark, p)
        require(sameColumns(deltaSchema, parentSchema),
          s"append to $dir: delta columns (${deltaSchema.toDDL}) differ from " +
            s"snapshot ${p.id}'s (${parentSchema.toDDL})")
        parentSchema
      case None => deltaSchema
    }
    val next = current.map(_.id + 1).getOrElse(0L)
    val dataDir = s"$dir/snap-$next"
    // FileOutputCommitter v2: task output moves to the data dir at task
    // commit (one job-commit rename fan-out fewer). Safe behind this seam:
    // readers only see a data dir once the MANIFEST rename below publishes
    // it, and mode("overwrite") clears any debris of a crashed attempt of
    // the same snapshot id. Measured ~25% off the fixed cost of the tiny
    // per-round frontier commits (WriteProbe: 202 → 149 ms/write).
    val w = df.write.mode("overwrite") // overwrite: crashed attempt of same id is replaced
      .option("mapreduce.fileoutputcommitter.algorithm.version", "2")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(dataDir)
    val paths = (if (keepParentPaths) parent.map(_.paths).getOrElse(Seq.empty) else Seq.empty) :+ dataDir
    val snap = Snapshot(next, parent.map(_.id).getOrElse(-1L), paths, counters, lineage,
      Some(recorded), properties)
    writeManifest(fs(spark, dir), dir, snap)
    snap
  }

  /** Read the current snapshot (empty table must be created first). */
  def read(spark: SparkSession, dir: String): DataFrame =
    read(spark, currentSnapshot(spark, dir)
      .getOrElse(throw new IllegalStateException(s"no snapshot in $dir")))

  /** Read a PINNED snapshot id — resume correctness depends on reading the
    * state recorded in the last committed round marker, never "current".
    */
  def readAt(spark: SparkSession, dir: String, id: Long): DataFrame =
    read(spark, snapshotAt(spark, dir, id)
      .getOrElse(throw new IllegalStateException(s"no snapshot $id in $dir")))

  /** Read one snapshot. With a recorded schema this plans without touching
    * a data file — no schema-inference job — and an empty snapshot is a
    * `LocalRelation` the optimizer can fold away (e.g. out of an anti-join).
    * A manifest without a schema falls back to parquet schema inference.
    */
  def read(spark: SparkSession, s: Snapshot): DataFrame = s.schema match {
    case Some(sc) if s.paths.isEmpty =>
      spark.createDataFrame(java.util.Collections.emptyList[Row](), sc)
    case Some(sc) => spark.read.schema(sc).parquet(s.paths: _*)
    case None if s.paths.isEmpty =>
      throw new IllegalStateException(s"snapshot ${s.id} has neither data nor a schema")
    case None => spark.read.parquet(s.paths: _*)
  }

  /** The snapshot's schema: the recorded one, else inferred from its files. */
  def schema(spark: SparkSession, s: Snapshot): StructType =
    s.schema.getOrElse(read(spark, s).schema)
}
