package graft

import graft.build.{GraphIndex, RoarGraphBuilder}
import graft.core.Metric
import graft.ops.graph.VecStore
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** The builder's batched reachability repair against the per-node loop it
  * replaced (RepairOracle), on random small graphs. Coordinates come from
  * a 5-value grid, so distance ties between reachable nodes are common,
  * and edges among the unreachable nodes make one attachment reconnect
  * nodes that would otherwise be attached later. */
class RepairReachabilitySpec extends AnyFunSuite {

  private val metrics = Seq(Metric.L2, Metric.InnerProduct, Metric.Cosine)

  private val graphs: Gen[GraphIndex] = for {
    n <- Gen.choose(1, 40)
    dim <- Gen.choose(1, 3)
    coords <- Gen.listOfN(n * dim, Gen.choose(-2, 2))
    density <- Gen.oneOf(0.0, 0.02, 0.05, 0.08, 0.12, 0.3)
    edges <- Gen.listOfN(n * n, Gen.choose(0.0, 1.0))
    ep <- Gen.choose(0, n - 1)
    metric <- Gen.oneOf(metrics)
  } yield {
    val rows = coords.map(_.toFloat).grouped(dim).map(_.toArray).toArray
    val adj = Array.tabulate(n) { i =>
      (0 until n).filter(j => j != i && edges(i * n + j) < density).toArray
    }
    GraphIndex(adj, ep, Array.tabulate(n)(_.toLong), VecStore(rows, metric))
  }

  private def reachableFrom(adj: Array[Array[Int]], ep: Int): Array[Boolean] = {
    val seen = new Array[Boolean](adj.length)
    var stack = List(ep)
    seen(ep) = true
    while (stack.nonEmpty) {
      val cur = stack.head; stack = stack.tail
      adj(cur).foreach { nb => if (!seen(nb)) { seen(nb) = true; stack = nb :: stack } }
    }
    seen
  }

  test("batched repair == per-node oracle, edge for edge") {
    val p = Prop.forAll(graphs) { g =>
      val got = RoarGraphBuilder.repairReachability(g).adj.map(_.toSeq).toSeq
      val want = RepairOracle.repairReachability(g).adj.map(_.toSeq).toSeq
      got == want
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(500), p)
    assert(res.passed, res.toString)
  }

  test("the graph generator covers ties and cascading attachments") {
    val sample = (0 until 300).flatMap(i => graphs(Gen.Parameters.default, Seed(i.toLong)))
    var tied = 0
    var cascaded = 0
    var repaired = 0
    sample.foreach { g =>
      val r0 = reachableFrom(g.adj, g.ep)
      val unreached = g.adj.indices.filterNot(r0)
      if (unreached.nonEmpty) repaired += 1
      // some unreachable node has two initially-reachable nodes at its
      // nearest distance
      if (unreached.exists { u =>
        val ds = g.adj.indices.filter(r0).map(r => g.vs.dist(r, u))
        ds.count(_ == ds.min) > 1
      }) tied += 1
      // the oracle attaches fewer nodes than start unreachable
      val added = RepairOracle.repairReachability(g).adj.map(_.length).sum -
        g.adj.map(_.length).sum
      if (added < unreached.length) cascaded += 1
    }
    assert(repaired > 150, s"only $repaired of ${sample.length} graphs need repair")
    assert(tied > 50, s"only $tied graphs have a tied nearest reachable node")
    assert(cascaded > 50, s"only $cascaded graphs have a cascading attachment")
  }
}
