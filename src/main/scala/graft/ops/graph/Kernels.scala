package graft.ops.graph

import graft.core.Metric

/** In-memory kernels for graph index build & search — the per-task compute
  * that runs inside `mapPartitions` over a broadcast index. These mirror the
  * reference's single-node primitives (SURVEY.md §2.4/2.5) but are plain,
  * deterministic Scala: no locks (bulk-synchronous merges replace them,
  * SURVEY.md §7.4 item 2) and no random seeds.
  *
  * Node ids here are DENSE Int indices `[0, n)`; the Spark layer
  * (graft.build.*) owns the mapping to external Long ids.
  */

/** Flat row-major float32 vector store with metric-aware distance.
  * Mirrors the reference's `data_bp_` layout (include/efanna2e/index.h:59-63)
  * minus SIMD padding (irrelevant on the JVM). Distances accumulate in
  * double for cross-platform determinism; SMALLER IS CLOSER for every metric
  * (IP is negated — include/efanna2e/distance.h:92-226). Cosine callers must
  * pre-normalize rows (src/index_bipartite.cpp:176-182); then cosine ≡ IP.
  */
final class VecStore(val n: Int, val dim: Int, val data: Array[Float],
                     val metric: Metric) extends Serializable {
  require(data.length == n.toLong * dim, s"bad VecStore shape: $n x $dim != ${data.length}")
  private val ip = metric != Metric.L2

  /** Distance between stored row i and an external query vector. */
  def distTo(i: Int, q: Array[Float]): Double = {
    val off = i * dim
    var s = 0.0
    var d = 0
    if (ip) {
      while (d < dim) { s += data(off + d).toDouble * q(d); d += 1 }
      -s
    } else {
      while (d < dim) {
        val x = data(off + d).toDouble - q(d); s += x * x; d += 1
      }
      s
    }
  }

  /** Distance between two stored rows. */
  def dist(i: Int, j: Int): Double = {
    val oi = i * dim; val oj = j * dim
    var s = 0.0
    var d = 0
    if (ip) {
      while (d < dim) { s += data(oi + d).toDouble * data(oj + d); d += 1 }
      -s
    } else {
      while (d < dim) {
        val x = data(oi + d).toDouble - data(oj + d); s += x * x; d += 1
      }
      s
    }
  }

  /** The row nearest to stored row `target` among `rows(0 until count)`,
    * by (distance, id) whatever the list's order; -1 if none is closer
    * than Double.MaxValue. */
  def nearestOf(target: Int, rows: Array[Int], count: Int): Int = {
    var bd = Double.MaxValue
    var best = -1
    var k = 0
    while (k < count) {
      val r = rows(k)
      val d = dist(r, target)
      if (d < bd || (d == bd && r < best)) { bd = d; best = r }
      k += 1
    }
    best
  }

  def row(i: Int): Array[Float] = {
    val out = new Array[Float](dim)
    System.arraycopy(data, i * dim, out, 0, dim)
    out
  }
}

object VecStore {
  /** Build from (denseId → vector) rows; normalizes if the metric needs it
    * (cosine → normalize-then-IP, src/index.cpp:14-21). */
  def apply(rows: Array[Array[Float]], metric: Metric): VecStore = {
    val n = rows.length
    require(n > 0, "empty VecStore")
    val dim = rows(0).length
    val data = new Array[Float](n * dim)
    var i = 0
    while (i < n) {
      val v = rows(i)
      require(v.length == dim, s"ragged vectors: row $i has ${v.length} != $dim")
      if (metric.needNormalize) {
        var s = 0.0; var d = 0
        while (d < dim) { s += v(d).toDouble * v(d); d += 1 }
        val nrm = math.sqrt(s)
        d = 0
        if (nrm != 0.0) {
          while (d < dim) { data(i * dim + d) = (v(d) / nrm).toFloat; d += 1 }
        } else System.arraycopy(v, 0, data, i * dim, dim)
      } else System.arraycopy(v, 0, data, i * dim, dim)
      i += 1
    }
    new VecStore(n, dim, data, metric)
  }
}

/** Bounded best-first beam pool: sorted-by-(dist,id) fixed-capacity array
  * with an "closest unexpanded" cursor and id-dedup on insert. Faithful port
  * of the reference's NeighborPriorityQueue semantics
  * (include/efanna2e/neighbor.h:138-223): insert drops items worse than the
  * current worst once full; ties break by ascending id (neighbor.h:29-33).
  */
final class NeighborQueue(val capacity: Int) {
  private val ids = new Array[Int](capacity + 1)
  private val ds = new Array[Double](capacity + 1)
  private val expanded = new Array[Boolean](capacity + 1)
  private var _size = 0
  private var cur = 0

  @inline private def lessAt(d: Double, id: Int, i: Int): Boolean =
    d < ds(i) || (d == ds(i) && id < ids(i))

  def insert(id: Int, d: Double): Unit = {
    if (_size == capacity && !lessAt(d, id, _size - 1)) return
    var lo = 0; var hi = _size
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (lessAt(d, id, mid)) hi = mid
      else if (ids(mid) == id) return // dedup
      else lo = mid + 1
    }
    // id may still equal a non-compared element with identical (dist,id)?
    // identical (dist,id) pairs compare equal → binary search lands on them;
    // the reference also only dedups along the probe path (neighbor.h:160).
    if (lo < capacity) {
      var i = math.min(_size, capacity - 1)
      while (i > lo) {
        ids(i) = ids(i - 1); ds(i) = ds(i - 1); expanded(i) = expanded(i - 1)
        i -= 1
      }
      ids(lo) = id; ds(lo) = d; expanded(lo) = false
      if (_size < capacity) _size += 1
      if (lo < cur) cur = lo
    }
  }

  def hasUnexpanded: Boolean = cur < _size

  /** Pop the closest unexpanded entry; advances the cursor. */
  def closestUnexpanded(): (Int, Double) = {
    expanded(cur) = true
    val pre = cur
    while (cur < _size && expanded(cur)) cur += 1
    (ids(pre), ds(pre))
  }

  def size: Int = _size
  def idAt(i: Int): Int = ids(i)
  def distAt(i: Int): Double = ds(i)
}

/** RNG/occlusion prune family (G7/G9/G10/G11 — src/index_bipartite.cpp:
  * 1612-1694, 1846-1940, 1527-1610, 1434-1525): one parameterized,
  * deterministic implementation. α=1 Vamana-style: scanning candidates in
  * ascending (dist-to-target, id), keep candidate c unless some already-kept
  * k has d(c,k) < d(c,target). The reference's "relaxed second pass" uses
  * the identical predicate (1.0*djk) and therefore admits nothing new; it is
  * omitted. G7's final backfill (fill to m from the sorted pool ignoring
  * occlusion, src/index_bipartite.cpp:1684-1690) is the `backfill` flag.
  */
object OcclusionPrune {

  /** @param cands      (denseId, distToTarget) candidate pool, any order,
    *                    may contain duplicates and the target itself
    * @param target     node whose neighbor list is being built (excluded)
    * @param m          degree cap (M_pjbp)
    * @param vs         vector store for candidate↔candidate distances
    * @param backfill   G7-style fill to m from sorted order when occlusion
    *                    leaves fewer than m
    * @return kept dense ids, in kept order (ascending dist-to-target prefix)
    */
  def prune(cands: Array[(Int, Double)], target: Int, m: Int, vs: VecStore,
            backfill: Boolean = true): Array[Int] = {
    if (cands.isEmpty) return Array.empty
    // dedup by id keeping smallest dist, exclude target, sort by (dist, id)
    val best = new java.util.HashMap[Int, Double]()
    cands.foreach { case (id, d) =>
      if (id != target) {
        val prev = best.get(id)
        if (!best.containsKey(id) || d < prev) best.put(id, d)
      }
    }
    if (best.isEmpty) return Array.empty
    val pool = new Array[(Int, Double)](best.size)
    var i = 0
    val it = best.entrySet().iterator()
    while (it.hasNext) { val e = it.next(); pool(i) = (e.getKey, e.getValue); i += 1 }
    java.util.Arrays.sort(pool, Ordering.by((p: (Int, Double)) => (p._2, p._1)))

    val result = new scala.collection.mutable.ArrayBuffer[Int](m)
    result += pool(0)._1
    var s = 1
    while (result.length < m && s < pool.length) {
      val (pid, pdist) = pool(s)
      var occlude = false
      var t = 0
      while (!occlude && t < result.length) {
        if (result(t) == pid) occlude = true
        else if (vs.dist(pid, result(t)) < pdist) occlude = true
        t += 1
      }
      if (!occlude) result += pid
      s += 1
    }
    if (backfill) {
      s = 1
      while (result.length < m && s < pool.length) {
        if (!result.contains(pool(s)._1)) result += pool(s)._1
        s += 1
      }
    }
    result.toArray
  }

  /** The same prune over candidates that CARRY their vectors — the
    * distributed-build variant, where no global [[VecStore]] exists and
    * candidate↔candidate distances are computed from the group-local
    * vectors (external long ids). `cands`: (id, distToTarget, vec), may
    * contain duplicates and the target itself (`targetId` excluded). */
  def pruneVecs(cands: Array[(Long, Double, Array[Float])], targetId: Long,
                m: Int, metric: graft.core.Metric,
                backfill: Boolean = true): Array[Long] = {
    if (cands.isEmpty) return Array.empty
    val best = new java.util.HashMap[Long, (Double, Array[Float])]()
    cands.foreach { case (id, d, v) =>
      if (id != targetId) {
        val prev = best.get(id)
        if (prev == null || d < prev._1) best.put(id, (d, v))
      }
    }
    if (best.isEmpty) return Array.empty
    val pool = new Array[(Long, Double, Array[Float])](best.size)
    var i = 0
    val it = best.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      pool(i) = (e.getKey, e.getValue._1, e.getValue._2); i += 1
    }
    java.util.Arrays.sort(pool,
      Ordering.by((p: (Long, Double, Array[Float])) => (p._2, p._1)))

    val kept = new scala.collection.mutable.ArrayBuffer[(Long, Array[Float])](m)
    kept += ((pool(0)._1, pool(0)._3))
    var s = 1
    while (kept.length < m && s < pool.length) {
      val (pid, pdist, pvec) = pool(s)
      var occlude = false
      var t = 0
      while (!occlude && t < kept.length) {
        if (kept(t)._1 == pid) occlude = true
        else if (metric.dist(pvec, kept(t)._2) < pdist) occlude = true
        t += 1
      }
      if (!occlude) kept += ((pid, pvec))
      s += 1
    }
    val result = kept.map(_._1)
    if (backfill) {
      s = 1
      while (result.length < m && s < pool.length) {
        if (!result.contains(pool(s)._1)) result += pool(s)._1
        s += 1
      }
    }
    result.toArray
  }
}

/** Best-first beam search over an adjacency graph (Q1 SearchRoarGraph,
  * src/index_bipartite.cpp:2311-2420, and Q4 SearchProjectionGraphInternal,
  * :1279-1350, unified). Runs inside one Spark task; the caller broadcasts
  * (adjacency, VecStore) and maps query partitions through [[search]].
  */
object BeamSearch {

  /** @param ids  top-k dense ids (ascending (dist,id))
    * @param dists matching distances
    * @param cmps  number of distance computations (≅ reference `cmps`)
    * @param hops  number of expanded nodes (≅ reference `hops`)
    * @param pool  full visited pool in expansion completion order when
    *              `collectPool` (build-time G6 needs it; else empty)
    */
  final case class Result(ids: Array[Int], dists: Array[Double], cmps: Int,
                          hops: Int, pool: Array[(Int, Double)])

  /** Epoch-tagged visited marker, O(1) reset between queries in the same
    * task (reference VisitedListPool, include/visited_list_pool.h:20-26). */
  final class Visited(n: Int) {
    private val tags = new Array[Int](n)
    private var epoch = 0
    def nextEpoch(): Unit = epoch += 1
    @inline def test(i: Int): Boolean = tags(i) == epoch
    @inline def set(i: Int): Unit = tags(i) = epoch
  }

  /** One query. `exclude` (build-time self-search) skips that node during
    * expansion exactly like Q4's `nbr == tgt` check (:1330). `seeds` adds
    * extra entry nodes beside `ep` — the deterministic analogue of the
    * reference's random multi-seeding (src/index_bipartite.cpp:287-294),
    * which rescues recall on graphs where parts are unreachable from the
    * single entry point. */
  def search(adj: Array[Array[Int]], vs: VecStore, query: Array[Float],
             k: Int, l: Int, ep: Int, visited: Visited,
             exclude: Int = -1, collectPool: Boolean = false,
             seeds: Array[Int] = Array.empty): Result = {
    val queue = new NeighborQueue(l)
    visited.nextEpoch()
    var cmps = 0
    var hops = 0
    queue.insert(ep, vs.distTo(ep, query))
    visited.set(ep)
    var si = 0
    while (si < seeds.length) {
      val s = seeds(si)
      if (s != exclude && !visited.test(s)) {
        visited.set(s)
        queue.insert(s, vs.distTo(s, query))
        cmps += 1
      }
      si += 1
    }
    val pool =
      if (collectPool) new scala.collection.mutable.ArrayBuffer[(Int, Double)](l)
      else null
    while (queue.hasUnexpanded) {
      val (cur, curDist) = queue.closestUnexpanded()
      if (collectPool) pool += ((cur, curDist))
      hops += 1
      val nbrs = adj(cur)
      var j = 0
      while (j < nbrs.length) {
        val nbr = nbrs(j)
        if (nbr != exclude && !visited.test(nbr)) {
          visited.set(nbr)
          val d = vs.distTo(nbr, query)
          cmps += 1
          queue.insert(nbr, d)
        }
        j += 1
      }
    }
    val kk = math.min(k, queue.size)
    val ids = new Array[Int](kk)
    val ds = new Array[Double](kk)
    var i = 0
    while (i < kk) { ids(i) = queue.idAt(i); ds(i) = queue.distAt(i); i += 1 }
    Result(ids, ds, cmps, hops, if (collectPool) pool.toArray else Array.empty)
  }
}
