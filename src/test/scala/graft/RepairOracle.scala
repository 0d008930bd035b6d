package graft

import graft.build.GraphIndex

/** Reference form of the in-memory builder's reachability repair: the
  * per-node loop that `RoarGraphBuilder.repairReachability` replaced. Walk
  * dense ids in ascending order; every node not yet reachable from the
  * entry point gets one in-edge from its nearest currently-reachable node
  * (ties by id), then it and its descendants count as reachable. One full
  * scan over all n nodes per attachment, so tests only. */
object RepairOracle {

  def repairReachability(index: GraphIndex): GraphIndex = {
    val n = index.n
    val adj = index.adj.map(_.clone())
    val seen = new Array[Boolean](n)
    def dfs(from: Int): Unit = {
      var stack = List(from)
      seen(from) = true
      while (stack.nonEmpty) {
        val cur = stack.head; stack = stack.tail
        adj(cur).foreach { nb =>
          if (!seen(nb)) { seen(nb) = true; stack = nb :: stack }
        }
      }
    }
    dfs(index.ep)
    var u = 0
    while (u < n) {
      if (!seen(u)) {
        var bd = Double.MaxValue
        var best = -1
        var r = 0
        while (r < n) {
          if (seen(r)) {
            val d = index.vs.dist(r, u)
            if (d < bd || (d == bd && r < best)) { bd = d; best = r }
          }
          r += 1
        }
        adj(best) = adj(best) :+ u
        dfs(u)
      }
      u += 1
    }
    index.copy(adj = adj)
  }
}
