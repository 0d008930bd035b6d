package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Golden pins for the rows-only graph queries (VERDICT r3 task 5): beam
  * traversal is not SQL-expressible, but it IS deterministic — so the
  * sf0.01 search RESULT IDS are hashed and compared against committed
  * values. A regression in traversal order, pruning, or merge policy now
  * fails a spec even though no DuckDB oracle exists for these paths.
  * (Recall/reachability/cap gates live in RoarGraphSpec /
  * DistRoarGraphSpec; this spec pins the exact output.)
  *
  * If an INTENTIONAL algorithm change shifts these hashes, re-derive with:
  * {{{ sbt "testOnly graft.GraphGoldenSpec" }}} — the failure message
  * prints the new hash.
  */
class GraphGoldenSpec extends SparkSpec {

  private def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Canonical (query_id -> ids) hash: rows sorted by query id. */
  private def idsHash(df: DataFrame): String = {
    val rows = df.select(col("query_id").cast("long"), col("ids"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1)))
      .sortBy(_._1)
      .map { case (q, ids) => s"$q:${ids.mkString(",")}" }
    sha256(rows.mkString("\n"))
  }

  test("golden: roargraph in-memory search ids at sf0.01") {
    val h = idsHash(graft.queries.QueriesGraph.roargraphSearchResults(spark, sf001)
      .select(col("query_id"), col("ids")))
    assert(h == "bb71654727ecd4c44e99f8f0e07791002147d3cf066f09cd51a23796862c3685", s"roargraph search ids hash changed: $h")
  }

  test("golden: roargraph distributed-build search ids at sf0.01") {
    val h = idsHash(graft.queries.QueriesGraph.roargraphDistSearchIds(spark, sf001))
    assert(h == "24037a605b7666b02f4875556202d651a68e2ffa89e3f145b0c19927e6ef12c1", s"dist search ids hash changed: $h")
  }

  test("golden: bipartite 2-hop search ids at sf0.01") {
    val h = idsHash(graft.queries.QueriesGraph.bipartiteSearchIds(spark, sf001))
    assert(h == "1d7d2dd18f050d5884d3a390020377b9befb19f23f06a99ee42d673518754587", s"bipartite search ids hash changed: $h")
  }

  /** Canonical adjacency hash: "id:nbr,nbr,..." lines in external ids. */
  private def adjHash(idx: graft.build.GraphIndex): String =
    sha256(idx.ids.indices
      .map(i => s"${idx.ids(i)}:${idx.adj(i).map(idx.ids(_)).mkString(",")}")
      .sorted.mkString("\n"))

  test("golden: in-memory build adjacency at sf0.01") {
    import graft.core.{BuildParams, Metric, Tables}
    val emb = Tables.vectors(spark, sf001)
    val idx = graft.build.RoarGraphBuilder.build(
      emb.filter(col("id") >= 20), emb.filter(col("id") < 20),
      BuildParams(mSq = 40, mPjbp = 12, lPjpq = 60, metric = Metric.L2))
    val h = adjHash(idx)
    assert(h == "d3bd16324132680a42022a023d183aa414d05fef56aa62dfe15db94979504097", s"build adjacency hash changed: $h")
  }

  test("golden: in-memory inner-product build adjacency, repair-heavy") {
    // A seeded cross-modal corpus: 600 base rows whose norms vary 0.3-1.7x,
    // and 150 training queries from a shifted distribution. Under IP the
    // large-norm rows draw the in-edges, so about half the nodes start with
    // none: the reachability repair attaches over a quarter of them, and
    // the hash pins its edges as well as the merges'.
    import graft.core.{BuildParams, Metric}
    val s = spark
    import s.implicits._
    val rnd = new java.util.Random(11)
    val dim = 16
    val base = (0 until 600).map { i =>
      val scale = 0.3 + rnd.nextDouble() * 1.4
      (i.toLong + 1000, Array.fill(dim)((rnd.nextGaussian() * scale).toFloat))
    }.toDF("id", "vec")
    val queries = (0 until 150).map { i =>
      (i.toLong, Array.tabulate(dim)(d =>
        (rnd.nextGaussian() + (if (d == 0) 1.0 else 0.0)).toFloat))
    }.toDF("id", "vec")
    val params = BuildParams(mSq = 40, mPjbp = 12, lPjpq = 40, metric = Metric.InnerProduct)
    val raw = graft.build.RoarGraphBuilder.build(base, queries,
      params.copy(repairReachability = false))
    val idx = graft.build.RoarGraphBuilder.build(base, queries, params)
    val attached = idx.adj.map(_.length).sum - raw.adj.map(_.length).sum
    assert(attached * 4 >= idx.n, s"repair attached only $attached of ${idx.n} nodes")
    val h = adjHash(idx)
    assert(h == "35204d6ba84e290d34aee20ff78706efd02ae5994a7fed6ec36181d5c928b0e9", s"IP build adjacency hash changed: $h (attached $attached of ${idx.n})")
  }
}
