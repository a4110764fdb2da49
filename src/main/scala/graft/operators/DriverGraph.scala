package graft.operators

import scala.reflect.ClassTag

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.types.{DoubleType, LongType, StructType}

import graft.functions.Hll

/** The in-driver path of HyperBall, WCC and PageRank. The reference runs
  * these steps inside one JVM over in-memory arrays (WebGraph/LAW,
  * `process_webgraph.sh:255-272`); a Spark loop pays 4 to 16 jobs per
  * iteration for the same rounds. So when the graph fits a byte budget of
  * the driver, [[load]] reads it from [[DriverLoad]]'s one collect and the
  * operator iterates here; when it does not, the operator runs its Spark
  * loop over the same inputs.
  *
  * The HyperBall and PageRank kernels run the Spark loops' synchronous
  * rounds with their exact semantics (PageRank in both dangling modes, and
  * fixed-k with `tol = 0.0`); the WCC kernel is union-find, which gives the
  * Spark loop's labels without rounds. Arcs count as a multiset, and an arc
  * with an endpoint that is not a vertex (or is null), like a preference
  * row for a non-vertex, is ignored.
  */
private[graft] object DriverGraph {

  /** Bytes of a packed row of two 8-byte values, an arc or a preference
    * row: its length, a null bitmap and the two values.
    */
  val PairRowBytes = 4L + 8 + 16
  /** Driver bytes per arc: its packed row, then two int vertex indices. */
  val ArcBytes = PairRowBytes + 8
  /** Driver bytes per vertex besides its kernel state: its packed row and
    * its id in [[Graph.ids]].
    */
  val VertexBytes = 4L + 8 + 8 + 8
  /** Rows per slice of an operator's output RDD. */
  val RowsPerSlice = 1 << 20

  /** A graph in driver memory. `ids` are the vertex ids, ascending; arc k
    * runs from `ids(src(k))` to `ids(dst(k))`. `pref(i)` is vertex i's
    * preference, NaN where the preference has no row for it; `pref` is
    * null when no preference was given.
    */
  final class Graph(val ids: Array[Long], val src: Array[Int], val dst: Array[Int],
                    val pref: Array[Double]) {
    def n: Int = ids.length
  }

  /** Runs `kernel` over `vertices` (id), `edges` (from_id, to_id) and the
    * optional preference (id, pref) loaded into driver memory when they fit
    * `budget`, counting `stateBytes` of kernel state per vertex; otherwise
    * `onSpark` over those columns, persisted when they are estimated over
    * the budget ([[DriverLoad.run]]). Also runs `onSpark` for ids or
    * preference columns of another type than long/double, a null vertex
    * id, a repeated vertex or preference id and a null or NaN preference:
    * the Spark loop keeps whatever it does with those.
    */
  def load[T](vertices: DataFrame, edges: DataFrame, preference: Option[DataFrame],
              stateBytes: Long, budget: Long)(kernel: Graph => T)(
      onSpark: (DataFrame, DataFrame, Option[DataFrame]) => T): T = {
    val v = vertices.select("id")
    val e = edges.select("from_id", "to_id")
    val p = preference.map(_.select("id", "pref"))
    if (!DriverLoad.hasTypes(v, LongType) || !DriverLoad.hasTypes(e, LongType, LongType) ||
        !p.forall(DriverLoad.hasTypes(_, LongType, DoubleType))) return onSpark(v, e, p)
    val rowBytes = Seq[Int => Long](_ => VertexBytes + stateBytes, _ => ArcBytes) ++
      p.map(_ => (_: Int) => PairRowBytes)
    DriverLoad.run(Seq(v, e) ++ p, rowBytes, budget)(read(_).map(kernel)) { loaded =>
      onSpark(loaded(0), loaded(1), loaded.lift(2))
    }
  }

  /** The graph in [[DriverLoad.run]]'s packed rows of (id), (from_id,
    * to_id) and the optional (id, pref), each read through one reused row.
    * None for a null vertex id, a repeated vertex or preference id, or a
    * null or NaN preference.
    */
  private def read(packed: Seq[Seq[Array[Byte]]]): Option[Graph] = {
    val (vertex, pair) = (new UnsafeRow(1), new UnsafeRow(2))
    val ids = DriverLoad.rows(packed(0), vertex)
      .map(r => if (r.isNullAt(0)) return None else r.getLong(0)).toArray
    java.util.Arrays.sort(ids)
    if ((1 until ids.length).exists(i => ids(i) == ids(i - 1))) return None
    val index = indexOf(ids)
    // every packed arc has the same size, so its count needs no pass
    val nArcs = (packed(1).map(_.length.toLong).sum / PairRowBytes).toInt
    val src = new Array[Int](nArcs)
    val dst = new Array[Int](nArcs)
    var m = 0
    for (r <- DriverLoad.rows(packed(1), pair) if !r.isNullAt(0) && !r.isNullAt(1)) {
      val (s, d) = (index(r.getLong(0)), index(r.getLong(1)))
      if (s >= 0 && d >= 0) { src(m) = s; dst(m) = d; m += 1 }
    }
    val pref = if (packed.size < 3) null else Array.fill(ids.length)(Double.NaN)
    for (r <- packed.drop(2).iterator.flatMap(DriverLoad.rows(_, pair))) {
      if (r.isNullAt(0) || r.isNullAt(1)) return None
      val i = index(r.getLong(0))
      if (i >= 0) {
        if (!pref(i).isNaN || r.getDouble(1).isNaN) return None // repeated id, or NaN
        pref(i) = r.getDouble(1)
      }
    }
    Some(new Graph(ids, java.util.Arrays.copyOf(src, m), java.util.Arrays.copyOf(dst, m), pref))
  }

  /** Id → index into the ascending `ids`, -1 for an id that is not there:
    * arithmetic when the ids are one contiguous range, else binary search.
    */
  def indexOf(ids: Array[Long]): Long => Int =
    if (ids.isEmpty) _ => -1
    else if (ids.last - ids.head == ids.length - 1L) { id =>
      val k = id - ids.head
      if (k >= 0 && k < ids.length) k.toInt else -1
    } else { id =>
      val k = java.util.Arrays.binarySearch(ids, id)
      if (k >= 0) k else -1
    }

  /** Kernel state bytes per vertex of [[hyperball]]: two register arrays. */
  def hyperballStateBytes(log2m: Int): Long = 2L * ((1L << log2m) + 16) + 16

  /** HyperBall's rounds over `g`, as `HarmonicCentrality.hyperballSpark`
    * runs them: each hop merges every in-neighbor's registers of the
    * previous hop (register max), then `hc += max(Δball, 0) / hop`; it
    * stops after `maxHops` or when no ball moved by more than 1e-9.
    * Returns hc per vertex.
    */
  def hyperball(g: Graph, log2m: Int, maxHops: Int): Array[Double] = {
    val m = 1 << log2m
    var regs = g.ids.map(Hll.singleton(_, log2m))
    var next = Array.fill(g.n)(new Array[Byte](m))
    val ball = Array.fill(g.n)(1.0)
    val hc = new Array[Double](g.n)
    var hop = 0.0
    var r = 0
    var changed = 1L
    while (r < maxHops && changed > 0) {
      r += 1
      hop += 1.0
      var i = 0
      while (i < g.n) { System.arraycopy(regs(i), 0, next(i), 0, m); i += 1 }
      var k = 0
      while (k < g.src.length) { Hll.merge(next(g.dst(k)), regs(g.src(k))); k += 1 }
      changed = 0L
      i = 0
      while (i < g.n) {
        val nb = Hll.estimate(next(i))
        hc(i) = hc(i) + math.max(nb - ball(i), 0.0) / hop
        if (math.abs(nb - ball(i)) > 1e-9) changed += 1
        ball(i) = nb
        i += 1
      }
      val t = regs; regs = next; next = t
    }
    hc
  }

  /** Kernel state bytes per vertex of [[weak]]: one int parent array. */
  val WeakStateBytes = 4L

  /** Union-find over `g`'s arcs, read in either direction: each arc links
    * the larger of its endpoints' roots under the smaller, and `find`
    * halves paths, so a root is the least index of its component. Returns
    * each vertex's component as an index into `g.ids` (the ids ascend, so
    * the least index is the least id). No rounds, so no bound.
    */
  def weak(g: Graph): Array[Int] = {
    val parent = Array.tabulate(g.n)(identity)
    def find(i: Int): Int = {
      var x = i
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    var k = 0
    while (k < g.src.length) {
      val a = find(g.src(k))
      val b = find(g.dst(k))
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
      k += 1
    }
    var i = 0
    while (i < g.n) { parent(i) = find(i); i += 1 }
    parent
  }

  /** Kernel state bytes per vertex of [[pageRank]]: ranks, next ranks,
    * in-mass and preference as doubles, out-degree and liveness.
    */
  val PageRankStateBytes = 40L

  /** PageRank's power iteration over `g`, as `PageRank.runSpark` runs it:
    * it starts from the preference (1/n each when `g.pref` is null), keeps
    * only the vertices the preference has a row for, redistributes dangling
    * mass by the preference when `redistributeDangling` (else drops it), and
    * stops after `maxIter` steps or when the L1 change is at most `tol`.
    * Returns the ranks and which vertices they hold; sums run in arc order,
    * so ranks may differ from the Spark loop's in the last bits only.
    */
  def pageRank(g: Graph, alpha: Double, maxIter: Int, tol: Double,
               redistributeDangling: Boolean): (Array[Double], Array[Boolean]) = {
    val n = g.n
    val pref = if (g.pref == null) Array.fill(n)(1.0 / n) else g.pref
    val outdeg = new Array[Int](n)
    g.src.foreach(u => outdeg(u) += 1)
    val live = pref.map(!_.isNaN)
    // a vertex without a preference row has rank 0, so it sends no mass
    var rank = pref.map(p => if (p.isNaN) 0.0 else p)
    val inMass = new Array[Double](n)
    var iter = 0
    var delta = Double.MaxValue
    while (iter < maxIter && delta > tol) {
      java.util.Arrays.fill(inMass, 0.0)
      var k = 0
      while (k < g.src.length) {
        val u = g.src(k)
        inMass(g.dst(k)) += rank(u) / outdeg(u)
        k += 1
      }
      var dangling = 0.0
      var i = 0
      if (redistributeDangling)
        while (i < n) { if (outdeg(i) == 0) dangling += rank(i); i += 1 }
      val next = new Array[Double](n)
      delta = 0.0
      i = 0
      while (i < n) {
        if (live(i)) {
          next(i) = ((1.0 - alpha) + alpha * dangling) * pref(i) + alpha * inMass(i)
          delta += math.abs(next(i) - rank(i))
        }
        i += 1
      }
      rank = next
      iter += 1
    }
    (rank, live)
  }

  /** An operator's result as (id, value) rows in `schema`, ids ascending.
    * It is an RDD of a few slices of primitive arrays, so the plan does not
    * embed the rows as a `LocalRelation` would.
    */
  def frame[V: ClassTag](spark: SparkSession, schema: StructType, ids: Array[Long],
                         values: Array[V]): DataFrame = {
    val slices = math.max(1, (ids.length + RowsPerSlice - 1) / RowsPerSlice)
    val chunks = (0 until slices).map { s =>
      val (a, b) = (s * RowsPerSlice, math.min(ids.length, (s + 1) * RowsPerSlice))
      (ids.slice(a, b), values.slice(a, b))
    }
    val rows = spark.sparkContext.parallelize(chunks, slices).flatMap { case (is, vs) =>
      is.indices.iterator.map(j => Row(is(j), vs(j)))
    }
    spark.createDataFrame(rows, schema)
  }
}
