package graft.frontier

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession, functions => F}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.functions.Hll
import graft.sources.TableIO

/** The URL-seen set at 10^10 scale (north_rule: "bloom/cuckoo URL-seen").
  *
  * Two layers:
  *  - GROUND TRUTH: an exact membership table of canonical URL keys,
  *    hash-partitioned into `buckets` by `pmod(xxhash64(key), P)` — the
  *    anti-join against it is bucket-co-partitioned, so each round's dedup
  *    shuffles only the candidate side;
  *  - PRUNE LAYER: one Bloom filter per bucket (built with a typed
  *    Aggregator, persisted with the table, loaded as a broadcast map).
  *    A candidate whose bits are not all set is DEFINITELY unseen and skips
  *    the anti-join; "maybe seen" candidates fall through to the exact
  *    anti-join, so Bloom false positives cannot corrupt correctness
  *    (SURVEY.md §7.7).
  */
object UrlSeen {

  /** Bloom parameters: `bitsPerKey`≈10 → ~1% FP with k=7.
    * `sidecarDriverMaxBytes` bounds the DRIVER-resident sidecar: while
    * `buckets × bitsPerBucket/8` fits, [[append]] merges delta blooms on the
    * driver and [[unseen]] broadcasts the map; above it (e.g. 4096 buckets ×
    * 3 MB ≈ 12 GB at 10^10 keys / 1% FP) both switch to the sidecar TABLE —
    * distributed OR-merge on append, bucket join on probe — so no driver
    * heap ever holds the full sidecar.
    */
  final case class Config(buckets: Int = 64, bitsPerBucket: Int = 1 << 22,
                          numHashes: Int = 7,
                          sidecarDriverMaxBytes: Long = 256L << 20)

  /** Whether the whole sidecar may live on the driver / in a broadcast. */
  def sidecarFitsDriver(cfg: Config): Boolean =
    cfg.buckets.toLong * (cfg.bitsPerBucket.toLong / 8) <= cfg.sidecarDriverMaxBytes

  def bucketOf(key: org.apache.spark.sql.Column, buckets: Int): org.apache.spark.sql.Column =
    pmod(xxhash64(key), lit(buckets.toLong)).cast("int")

  // ---- bloom bit arithmetic (mirrors gf.bloom_hash double hashing) ----
  private def setBit(bits: Array[Byte], pos: Long): Unit = {
    val p = pos.toInt
    bits(p >>> 3) = (bits(p >>> 3) | (1 << (p & 7))).toByte
  }

  private def getBit(bits: Array[Byte], pos: Long): Boolean = {
    val p = pos.toInt
    (bits(p >>> 3) & (1 << (p & 7))) != 0
  }

  def bloomAdd(bits: Array[Byte], keyHash: Long, k: Int): Unit = {
    val m = bits.length.toLong * 8
    val h1 = Hll.mix64(keyHash)
    val h2 = Hll.mix64(keyHash ^ 0x9E3779B97F4A7C15L) | 1L
    var i = 0
    while (i < k) {
      setBit(bits, java.lang.Long.remainderUnsigned(h1 + i * h2, m))
      i += 1
    }
  }

  def bloomMightContain(bits: Array[Byte], keyHash: Long, k: Int): Boolean = {
    val m = bits.length.toLong * 8
    val h1 = Hll.mix64(keyHash)
    val h2 = Hll.mix64(keyHash ^ 0x9E3779B97F4A7C15L) | 1L
    var i = 0
    while (i < k) {
      if (!getBit(bits, java.lang.Long.remainderUnsigned(h1 + i * h2, m))) return false
      i += 1
    }
    true
  }

  /** Builds a bloom filter over xxhash64 key hashes. */
  class BloomAgg(bits: Int, k: Int) extends Aggregator[Long, Array[Byte], Array[Byte]] {
    override def zero: Array[Byte] = new Array[Byte](bits / 8)
    override def reduce(b: Array[Byte], h: Long): Array[Byte] = { bloomAdd(b, h, k); b }
    override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
      var i = 0
      while (i < a.length) { a(i) = (a(i) | b(i)).toByte; i += 1 }
      a
    }
    override def finish(r: Array[Byte]): Array[Byte] = r
    override def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
    override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** The seen table's schema. */
  val schema: StructType = StructType.fromDDL("bucket INT, key STRING")

  /** Snapshot property recording the bucket count P the keys are laid out with. */
  private val BucketsProperty = "buckets"

  /** Create an empty seen table: a manifest-only commit, no write job. */
  def create(spark: SparkSession, dir: String, cfg: Config = Config()): Unit =
    TableIO.create(spark, schema, dir, "urlseen:create",
      Map(BucketsProperty -> cfg.buckets.toString))

  /** Fail loudly when `cfg.buckets` differs from the bucket count the seen
    * snapshot was written with: the `(bucket, key)` anti-join under another
    * P would miss every seen key and resurrect it as new. A snapshot written
    * before the count was recorded is accepted.
    */
  private def checkBuckets(dir: String, s: TableIO.Snapshot, cfg: Config): Unit =
    s.properties.get(BucketsProperty).foreach { p =>
      if (p.toInt != cfg.buckets) throw new IllegalStateException(
        s"seen set $dir (snapshot ${s.id}) is laid out with buckets = $p, " +
          s"but the config has buckets = ${cfg.buckets}")
    }

  private def snapshot(spark: SparkSession, dir: String, id: Option[Long]): Option[TableIO.Snapshot] =
    id match {
      case Some(i) => Some(TableIO.snapshotAt(spark, dir, i)
        .getOrElse(throw new IllegalStateException(s"no snapshot $i in $dir")))
      case None => TableIO.currentSnapshot(spark, dir)
    }

  /** OR-merge of bloom bit arrays (incremental sidecar refresh). */
  class OrAgg(bytes: Int) extends Aggregator[Array[Byte], Array[Byte], Array[Byte]] {
    override def zero: Array[Byte] = new Array[Byte](bytes)
    override def reduce(a: Array[Byte], b: Array[Byte]): Array[Byte] = merge(a, b)
    override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
      if (b == null) return a
      var i = 0
      while (i < a.length) { a(i) = (a(i) | b(i)).toByte; i += 1 }
      a
    }
    override def finish(r: Array[Byte]): Array[Byte] = r
    override def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
    override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** Append canonical keys and INCREMENTALLY refresh the bloom sidecar:
    * ONE aggregation job over the delta yields per-bucket counters AND
    * delta blooms. While the sidecar fits the driver
    * ([[sidecarFitsDriver]]), the OR-merge with the previous sidecar
    * happens on the driver (it is what [[unseen]] broadcasts); above the
    * threshold the delta blooms NEVER leave the executors — they are
    * OR-merged into the sidecar TABLE with [[OrAgg]] (union previous
    * sidecar + delta, groupBy bucket), so per-round driver heap is O(1)
    * regardless of sidecar size (VERDICT r2 item 2). Per-round cluster cost
    * scales with the delta plus one sidecar-table scan, never with the
    * 10^10-row key table. `keys` must already be deduplicated against the
    * table (the frontier loop guarantees it).
    *
    * @param prevBlooms the cached sidecar from the previous append — pass it
    *                   to skip the disk read; omitted on resume
    * @return (snapshot, merged sidecar map) — thread the map into the next
    *         round's [[unseen]]/append. None when the sidecar is
    *         table-resident (probe with `broadcastBloom = false`).
    */
  def append(spark: SparkSession, dir: String, keys: DataFrame,
             cfg: Config = Config(), lineage: String = "",
             parentId: Option[Long] = None,
             prevBlooms: Option[Map[Int, Array[Byte]]] = None)
      : (TableIO.Snapshot, Option[Map[Int, Array[Byte]]]) = {
    snapshot(spark, dir, parentId).foreach(checkBuckets(dir, _, cfg))
    val props = Map(BucketsProperty -> cfg.buckets.toString)
    // bucket kept as a DATA column clustered within files (repartition +
    // sort) — parquet min/max stats then prune row groups per bucket.
    // Directory partitioning would break multi-snapshot reads (the initial
    // empty snapshot has no partition dirs) for no pruning gain: candidate
    // batches hash into every bucket anyway.
    // persisted (serialized) for the two consumers — counters+blooms agg and
    // the table append — then released: per-round deltas must not pile up in
    // executor storage over a long crawl.
    val bucketed = keys.select(bucketOf(col("key"), cfg.buckets).as("bucket"), col("key"))
      .repartition(col("bucket"))
      .sortWithinPartitions("bucket", "key")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val bloomAgg = F.udaf(new BloomAgg(cfg.bitsPerBucket, cfg.numHashes))
    val deltaAgg = bucketed
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), bloomAgg(xxhash64(col("key"))).as("bits"))
    import scala.concurrent.Await
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    // the concurrent outputs' jobs carry the caller's label
    def labeled[T](body: => T) = JobLabel.future(spark, JobLabel.current(spark))(body)
    def appendKeys(perBucket: Map[String, Long]) =
      labeled { TableIO.append(bucketed, dir, lineage, perBucket, parentId, properties = props) }
    if (sidecarFitsDriver(cfg)) {
      val deltaStats = deltaAgg.collect()
      val perBucket = deltaStats.map(r => s"bucket.${r.getInt(0)}" -> r.getLong(1)).toMap
      // the table append and the sidecar write are independent outputs — run
      // the append concurrently with the driver-side bloom merge + write
      val fAppend = appendKeys(perBucket)
      val prev = prevBlooms.getOrElse(readBloomMap(spark, dir))
      val merged = scala.collection.mutable.Map[Int, Array[Byte]](prev.toSeq: _*)
      deltaStats.foreach { r =>
        val b = r.getInt(0)
        val bits = r.getAs[Array[Byte]]("bits")
        merged.get(b) match {
          case Some(old) =>
            // clone: never mutate the caller's map (broadcasts in local mode
            // share object references)
            val m = old.clone()
            var i = 0
            while (i < m.length) { m(i) = (m(i) | bits(i)).toByte; i += 1 }
            merged.put(b, m)
          case None => merged.put(b, bits)
        }
      }
      import spark.implicits._
      val mergedDf = merged.toSeq.map { case (b, bits) => (b, bits) }
        .toDF("bucket", "bits")
      // sidecar write and key-table append are independent outputs — overlap
      // them too (the round marker remains the only commit point)
      val fBloom = labeled {
        TableIO.write(mergedDf, s"$dir-bloom", lineage = "urlseen:bloom")
      }
      val snap = Await.result(fAppend, Duration.Inf)
      Await.result(fBloom, Duration.Inf)
      bucketed.unpersist(blocking = false)
      (snap, Some(merged.toMap))
    } else {
      // 10^10-scale path: only the per-bucket COUNTS (a few bytes per
      // bucket) cross to the driver; the bit arrays are merged where they
      // already live
      val stats = deltaAgg.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      val perBucket = stats.select(col("bucket"), col("n")).collect()
        .map(r => s"bucket.${r.getInt(0)}" -> r.getLong(1)).toMap
      val fAppend = appendKeys(perBucket)
      import spark.implicits._
      val prev = TableIO.currentSnapshot(spark, s"$dir-bloom") match {
        case Some(_) => TableIO.read(spark, s"$dir-bloom")
        case None => Seq.empty[(Int, Array[Byte])].toDF("bucket", "bits")
      }
      val orAgg = F.udaf(new OrAgg(cfg.bitsPerBucket / 8))
      val merged = prev.select(col("bucket"), col("bits"))
        .unionByName(stats.select(col("bucket"), col("bits")))
        .groupBy("bucket").agg(orAgg(col("bits")).as("bits"))
      TableIO.write(merged, s"$dir-bloom", lineage = "urlseen:bloom")
      val snap = Await.result(fAppend, Duration.Inf)
      stats.unpersist(blocking = false)
      bucketed.unpersist(blocking = false)
      (snap, None)
    }
  }

  /** Load the bloom sidecar as a driver map (what [[unseen]] broadcasts). */
  def readBloomMap(spark: SparkSession, dir: String): Map[Int, Array[Byte]] =
    TableIO.currentSnapshot(spark, s"$dir-bloom") match {
      case Some(_) => TableIO.read(spark, s"$dir-bloom").collect()
        .map(r => r.getInt(0) -> r.getAs[Array[Byte]](1)).toMap
      case None => Map.empty
    }

  /** Full rebuild of the per-bucket bloom sidecar from the current table
    * (compaction path; the per-round path is incremental).
    */
  def refreshBloom(spark: SparkSession, dir: String, cfg: Config = Config()): Unit = {
    val bloomAgg = F.udaf(new BloomAgg(cfg.bitsPerBucket, cfg.numHashes))
    val blooms = TableIO.read(spark, dir)
      .select(col("bucket"), xxhash64(col("key")).as("h"))
      .groupBy("bucket").agg(bloomAgg(col("h")).as("bits"))
    TableIO.write(blooms, s"$dir-bloom", lineage = "urlseen:bloom")
  }

  /** Candidates NOT in the seen set. Bloom-prunes the exact anti-join:
    * definitely-unseen candidates bypass it entirely.
    *
    * @param candidates any schema containing `key`
    */
  def unseen(spark: SparkSession, dir: String, candidates: DataFrame,
             cfg: Config = Config(), useBloom: Boolean = true,
             atSnapshot: Option[Long] = None,
             blooms: Option[Map[Int, Array[Byte]]] = None,
             broadcastBloom: Boolean = true): DataFrame = {
    // exact layer pinned to the marker's snapshot (crash-replay correctness);
    // the bloom sidecar may be ahead of it — false "maybe seen" answers fall
    // through to the pinned exact anti-join, so staleness cannot corrupt.
    val seenSnap = snapshot(spark, dir, atSnapshot)
      .getOrElse(throw new IllegalStateException(s"no snapshot in $dir"))
    checkBuckets(dir, seenSnap, cfg)
    val seen = TableIO.read(spark, seenSnap)
    val withBucket = candidates
      .withColumn("bucket", bucketOf(col("key"), cfg.buckets))
      .withColumn("__h", xxhash64(col("key")))
    val k = cfg.numHashes
    val pruned =
      if (!useBloom) withBucket.withColumn("__maybe", lit(true))
      else if (broadcastBloom) {
        val bloomMap: Map[Int, Array[Byte]] =
          blooms.getOrElse(readBloomMap(spark, dir))
        val bc = spark.sparkContext.broadcast(bloomMap)
        val mightContain = F.udf((bucket: Int, h: Long) =>
          bc.value.get(bucket).exists(bits => bloomMightContain(bits, h, k)))
        withBucket.withColumn("__maybe", mightContain(col("bucket"), col("__h")))
      } else {
        // 10^10-scale path: the sidecar (buckets × bits/8 bytes) outgrows a
        // broadcast (e.g. 4096 buckets × 3 MB ≈ 12 GB at 10^10 keys / 1% FP).
        // Join candidates against the sidecar TABLE on bucket instead — each
        // task sees only its bucket's bits; same result, no driver blowup.
        val sidecar = TableIO.read(spark, s"$dir-bloom")
        val check = F.udf((bits: Array[Byte], h: Long) =>
          bits != null && bloomMightContain(bits, h, k))
        withBucket
          .join(sidecar, Seq("bucket"), "left_outer")
          .withColumn("__maybe", coalesce(check(col("bits"), col("__h")), lit(false)))
          .drop("bits")
      }
    // ONE anti-join with the bloom verdict as a conditional bypass, instead
    // of the old union of two filtered branches (definitely-new ∪ checked):
    // a row with __maybe = false can never satisfy the join condition, so
    // the anti-join keeps it without probing — identical result set. The
    // union shape computed the candidate chain once per branch and pushed a
    // DIFFERENT predicate below each, which is exactly the corpus-double-
    // scan hazard the extract-side candidate barrier exists to block; the
    // single-branch join removes the hazard structurally (and ~4 AQE stages
    // per crawl round at bench scale).
    pruned.join(seen,
        pruned("bucket") === seen("bucket") && pruned("key") === seen("key") &&
          col("__maybe"),
        "left_anti")
      .drop("__maybe", "__h", "bucket")
  }
}
