package graft.bench

import graft.build.{DistRoarGraphBuilder, GraphIndex, RoarGraphBuilder}
import graft.core.{BuildParams, Metric, SearchParams}
import graft.eval.Eval
import graft.ops.KnnJoin
import graft.ops.graph.{BspBeamSearch, GraphIO}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Sizes of one workload. Each eval set (OOD and ID) holds `batch`
  * queries; its first `sample` queries carry exact ground truth, which
  * scores recall. The sweep finds, on the sample, the beam widths that
  * bracket each recall target and then times only those widths over the
  * whole batch, once per round of the loop. The loop runs `warmRounds`
  * untimed rounds, then timed rounds until the run's seconds are spent,
  * at least `minRounds`. */
final case class Sizes(base: Int, train: Int, sample: Int, batch: Int, setupReps: Int,
                       minRounds: Int)

object Sizes {
  /** Beam widths of the sweep: a geometric grid, four steps per doubling. */
  val Grid: Seq[Int] = Seq(10, 12, 14, 17, 20, 24, 28, 34, 40, 48, 57, 68, 80, 96, 113,
    135, 160, 190, 226, 269, 320, 381, 453, 538, 640)
  /** Recall targets of the search_qps metrics, per query kind. */
  val Targets: Map[String, Seq[Double]] = Map("ood" -> Seq(0.90, 0.95), "id" -> Seq(0.90))
  /** Beam width of the recall-floor check. */
  val FloorL = 160
  /** The recall scan searches the widths up to this one, and [[FloorL]],
    * in one Spark job; wider ones one at a time, only while needed. */
  val ScanL = 68

  def of(workload: String, tiny: Boolean): Sizes = (workload, tiny) match {
    case ("build-ood", false) =>
      Sizes(base = 4000, train = 2000, sample = 1000, batch = 15000, setupReps = 3,
        minRounds = 3)
    case ("search-mixed", false) =>
      Sizes(base = 2000, train = 1000, sample = 1000, batch = 20000, setupReps = 3,
        minRounds = 3)
    case (w, true) =>
      of(w, tiny = false).copy(base = 600, train = 300, sample = 100, batch = 400,
        setupReps = 1, minRounds = 1)
    case (w, _) => throw new IllegalArgumentException(s"unknown workload: $w")
  }

  /** The distributed tier runs in traced runs only, on a slice of the
    * corpus: its per-layer counters, with no end-to-end metric of its own. */
  val DistBase = 3000
  val DistTrain = 1500
  val BspL = 40
  val BspEval = 50
}

/** The benchmark driver. It generates the workload's inputs from the seed,
  * calls the program's public entry points in a closed loop (one driver
  * thread; each call waits for the previous one), checks their outputs in
  * benchmark code, and writes every raw measurement to one JSON file. The
  * launcher (run.py) reduces that file to the printed metrics.
  *
  * Usage: graft.bench.Main <workload> <seed> <seconds> <trace 0|1>
  *          <out.json> <work dir> [tiny]
  */
object Main {
  val K = 10
  val Ip: Metric = Metric.InnerProduct
  val BuildParamsOod = BuildParams(mSq = 50, mPjbp = 32, lPjpq = 100, metric = Ip)

  def main(args: Array[String]): Unit = {
    require(args.length >= 6, "usage: Main <workload> <seed> <seconds> <trace> <out> <work> [tiny]")
    val Array(workload, seedS, secS, traceS, out, work) = args.take(6)
    val tiny = args.length > 6 && args(6) == "tiny"
    val sizes = Sizes.of(workload, tiny)
    val rec = new Record
    rec.put("workload", workload); rec.put("seed", seedS.toLong)
    // task slots: every core but one, which is left to the driver thread,
    // the JIT compiler and the collector, so none of them preempts a task
    // and stalls its stage
    val cores = math.max(1, Runtime.getRuntime.availableProcessors() - 1)
    rec.put("cores", cores)

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", (2 * cores).toString)
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    rec.put("session_s", (System.nanoTime() - t0) / 1e9)
    val tracer = new Tracer(spark.sparkContext, traceS == "1")
    try {
      new Run(spark, tracer, rec, sizes, workload, seedS.toLong,
        secS.toDouble, cores).go()
    } finally {
      tracer.drain()
      rec.put("spans", tracer.allSpans.map(s => Map("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
      tracer.close()
      rec.put("driver_s", (System.nanoTime() - t0) / 1e9)
      val f = new java.io.File(out)
      java.nio.file.Files.write(f.toPath,
        Json.render(rec.toMap).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      spark.stop()
    }
  }
}

/** Ordered raw measurements of one run, rendered as JSON at exit. */
final class Record {
  private val fields = mutable.LinkedHashMap.empty[String, Any]
  val calls = mutable.ArrayBuffer.empty[Map[String, Any]]
  val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  val sweep = mutable.ArrayBuffer.empty[Map[String, Any]]
  def put(k: String, v: Any): Unit = fields(k) = v
  def check(name: String, ok: Boolean, detail: String = ""): Unit = {
    if (!ok) System.err.println(s"[bench] CHECK FAILED $name $detail")
    checks += Map("name" -> name, "ok" -> ok, "detail" -> detail)
  }
  def toMap: Map[String, Any] =
    fields.toMap ++ Map("calls" -> calls.toSeq, "checks" -> checks.toSeq,
      "sweep" -> sweep.toSeq)
}

/** Minimal JSON rendering for the raw record (maps, seqs, strings,
  * numbers, booleans). */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => render(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case a: Array[_] => render(a.toSeq)
    case o => render(o.toString)
  }
}

/** One eval query kind: its sample (exact ground truth) and its batch
  * (the timed queries; the sample is its first rows). */
final case class EvalSet(kind: String, sample: DataFrame, batch: DataFrame)

/** A beam width of the timed sweep and the recall its sample scored. */
final case class SweepPoint(set: EvalSet, l: Int, recall: Double)

/** One run of one workload. */
final class Run(spark: SparkSession, tracer: Tracer, rec: Record, sz: Sizes,
                workload: String, seed: Long, seconds: Double, cores: Int) {
  import Main.{BuildParamsOod, Ip, K}
  import spark.implicits._

  private val QueryIdBase = 1000000000L
  private val OodIdBase = 2 * QueryIdBase
  private val IdIdBase = 3 * QueryIdBase
  // recall@10 floors at beam width Sizes.FloorL (the output check on search quality)
  private val MemoryFloor = Map("ood" -> 0.95, "id" -> 0.85)
  private val BspFloor = Map("ood" -> 0.90, "id" -> 0.75)

  private def frame(rows: Array[Array[Float]], idBase: Long): DataFrame = {
    val df = rows.iterator.zipWithIndex.map { case (v, i) => (idBase + i, v) }
      .toSeq.toDF("id", "vec").repartition(4 * cores).cache()
    df.count()
    df
  }

  /** Time one call into the program and record it under `layer`; in a
    * traced run, attach that call's Spark counters. */
  private def timed[T](layer: String, extra: Map[String, Any] = Map.empty,
                       tag: Boolean = true)(body: => T): T = {
    val (r, span) = tracer.call(layer, tag)(body)
    rec.calls += (Map[String, Any]("layer" -> layer, "span" -> span.id,
      "wall_s" -> span.wallS, "start_ms" -> span.startMs, "traced" -> (tracer.enabled && tag)) ++ extra)
    r
  }

  /** Fill each traced call with the counters of the stages in its job group. */
  private def attachCounters(): Unit = if (tracer.enabled) {
    tracer.drain()
    val bySpan = tracer.allSpans.map(s => s.id -> s).toMap
    for (i <- rec.calls.indices) {
      val c = rec.calls(i)
      bySpan.get(c("span").toString).foreach { s =>
        val st = tracer.stagesOf(s)
        rec.calls(i) = c ++ Map(
          "jobs" -> tracer.jobsOf(s),
          "stages" -> st.map(r => Map("id" -> r.id, "job" -> r.job, "name" -> r.name,
            "sites" -> r.sites, "start_ms" -> r.startMs, "end_ms" -> r.endMs,
            "tasks" -> r.tasks, "run_s" -> r.runMs / 1e3, "cpu_s" -> r.cpuNs / 1e9,
            "gc_s" -> r.gcMs / 1e3, "shuffle_write_mb" -> r.shuffleWriteB / 1e6,
            "spill_mb" -> r.spillB / 1e6)))
      }
    }
  }

  // ---- outputs checked in benchmark code, independent of the engine ----

  /** Scalar brute-force top-k under negated inner product, ties by id. */
  private def bruteTopK(q: Array[Float], base: Array[Array[Float]]): Seq[(Double, Long)] =
    base.indices.map { i =>
      var s = 0.0; var j = 0
      val b = base(i)
      while (j < q.length) { s += q(j).toDouble * b(j); j += 1 }
      (-s, i.toLong)
    }.sortBy(p => (p._1, p._2)).take(K)

  private def checkGt(gt: Map[Long, Array[Long]], gtDist: Map[Long, Array[Double]],
                      queries: Seq[(Long, Array[Float])], base: Array[Array[Float]]): Unit = {
    val rnd = new scala.util.Random(seed ^ 0x5eedL)
    val sample = rnd.shuffle(queries).take(if (queries.size > 50) 24 else queries.size)
    var bad = 0
    sample.foreach { case (qid, q) =>
      val want = bruteTopK(q, base)
      val got = gt.getOrElse(qid, Array.empty[Long])
      val gotD = gtDist.getOrElse(qid, Array.empty[Double])
      val distOk = got.length == K && want.map(_._1).zip(gotD).forall {
        case (a, b) => math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(a)) }
      val idsOk = want.map(_._2).toSet == got.toSet
      if (!distOk || !idsOk) bad += 1
    }
    rec.check("knnjoin_vs_scalar_bruteforce", bad == 0, s"$bad of ${sample.size} sampled queries differ")
  }

  private def checkResults(name: String, res: Array[(Long, Array[Long])], nBase: Int,
                           expectQueries: Int): Unit = {
    val bad = res.count { case (_, ids) =>
      ids.length != K || ids.distinct.length != K || ids.exists(i => i < 0 || i >= nBase)
    }
    rec.check(s"${name}_ids_valid", bad == 0 && res.length == expectQueries,
      s"$bad malformed rows, ${res.length}/$expectQueries queries answered")
  }

  private def recallOf(res: Array[(Long, Array[Long])], gt: Map[Long, Array[Long]]): Double =
    res.map { case (q, ids) =>
      val g = gt(q).toSet; ids.count(g.contains).toDouble / K
    }.sum / math.max(1, res.length)

  // ---- the run ----

  def go(): Unit = {
    // set-up: data generation and caching, repeated (the median repetition
    // counts), then a warm-up: the ground truth, the searched index, the
    // recall scan and the build and join of one untimed round. The first
    // round after the scan still ran slower than the later ones (the JIT
    // was still compiling the join and the build), so it counts in set-up.
    var corpus: OodCorpus = null
    var frames: Seq[DataFrame] = Nil
    val setupWalls = (1 to sz.setupReps).map { _ =>
      frames.foreach(_.unpersist(true))
      val s0 = System.nanoTime()
      corpus = Ood.generate(seed, sz.base, sz.train, sz.batch)
      frames = Seq(frame(corpus.base, 0L), frame(corpus.train, QueryIdBase),
        frame(corpus.evalOod, OodIdBase), frame(corpus.evalId, IdIdBase))
      (System.nanoTime() - s0) / 1e9
    }
    rec.put("setup_reps_s", setupWalls)
    val Seq(base, train, oodBatch, idBatch) = frames
    val oodSample = oodBatch.filter(col("id") < OodIdBase + sz.sample)
    val idSample = idBatch.filter(col("id") < IdIdBase + sz.sample)
    val sets = Seq(EvalSet("ood", oodSample, oodBatch), EvalSet("id", idSample, idBatch))

    val w0 = System.nanoTime()
    // exact ground truth for both samples (the knnjoin layer)
    val nGt = 2 * sz.sample
    def exactKnn(warm: Boolean): Array[(Long, Array[Long], Array[Double])] =
      timed("knnjoin.exact", Map("queries" -> nGt, "base" -> sz.base, "warmup" -> warm)) {
        KnnJoin(oodSample.union(idSample), base, K, Ip).select(col("query_id"),
          transform(col("knn"), _("id")).as("ids"),
          transform(col("knn"), _("dist")).as("dists"))
          .as[(Long, Array[Long], Array[Double])].collect()
      }
    val gtRows = exactKnn(warm = true)
    val gt = gtRows.map(r => r._1 -> r._2).toMap
    checkGt(gt, gtRows.map(r => r._1 -> r._3).toMap, sampleQueries(corpus), corpus.base)
    // the searched index; the loop's builds rebuild it from the same inputs
    val index = buildIndex(base, train, warm = true)
    val scans = sets.map(s => scan(index, s, gt))
    val points = scans.flatMap(_._1)
    // the program's own recall operator (timed on its own) must agree with
    // the benchmark's count, over both samples at once
    val floorRows = scans.flatMap(_._2)
    val floorRecall = recallOf(floorRows.toArray, gt)
    val viaEval = timed("eval.recall", Map("queries" -> floorRows.size)) {
      Eval.recallAtK(floorRows.toDF("query_id", "ids"),
        floorRows.map(r => (r._1, gt(r._1))).toDF("query_id", "ids"), K)
        .collect().head.getAs[Double]("recall_at_k")
    }
    rec.check("recall_matches_eval", math.abs(viaEval - floorRecall) < 1e-9,
      f"bench $floorRecall%.6f vs Eval $viaEval%.6f")

    // the loop: each round one build, one pass over the sweep points and
    // one exact kNN join, so the timed samples of every metric spread over
    // the whole measured window rather than one burst
    def round(i: Int, warm: Boolean): Unit = {
      // every round starts from a collected heap
      System.gc()
      buildIndex(base, train, warm)
      if (!warm) timedPass(index, points)
      val again = exactKnn(warm)
      rec.check(s"knnjoin_repeatable_round$i",
        again.length == nGt && again.forall(r => gt.get(r._1).exists(_.sameElements(r._2))),
        s"${again.length}/$nGt rows, ids differ from the first call")
    }
    round(-1, warm = true)
    rec.put("warmup_s", (System.nanoTime() - w0) / 1e9)
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (i < sz.minRounds || System.nanoTime() < deadline) {
      round(i, warm = false)
      i += 1
    }
    indexHealth(index)
    heap(index)
    // traced runs only, after every end-to-end measurement: one more build
    // with its jobs left untagged (the reference that the tracing overhead
    // is measured against), then the distributed tier on a slice
    if (tracer.enabled) {
      timed("roargraph.build.untraced", tag = false) {
        RoarGraphBuilder.build(base, train, BuildParamsOod)
      }
      distTier(base.filter(col("id") < Sizes.DistBase),
        train.filter(col("id") < QueryIdBase + Sizes.DistTrain), corpus, oodSample, idSample)
    }
    attachCounters()
  }

  private def sampleQueries(c: OodCorpus): Seq[(Long, Array[Float])] =
    (0 until sz.sample).map(i => (OodIdBase + i, c.evalOod(i))) ++
      (0 until sz.sample).map(i => (IdIdBase + i, c.evalId(i)))

  private def buildIndex(base: DataFrame, train: DataFrame, warm: Boolean): GraphIndex =
    timed("roargraph.build", Map("base" -> sz.base, "train" -> sz.train, "warmup" -> warm)) {
      RoarGraphBuilder.build(base, train, BuildParamsOod)
    }

  private def search(index: GraphIndex, q: DataFrame, l: Int): DataFrame =
    RoarGraphBuilder.searchBatch(index, q, SearchParams(K, l, Ip))

  /** The recall curve of one eval set, on its sample: the grid's beam
    * widths up to [[Sizes.ScanL]] and [[Sizes.FloorL]] in one Spark job
    * (the searches at each width, unioned), then wider ones one at a time
    * while recall is below the set's highest target. Every result is checked, and at
    * [[Sizes.FloorL]] recall must meet a floor. Returns the sweep points
    * to time (for each target, the first width that reaches it and the
    * one before) and the results at [[Sizes.FloorL]]. */
  private def scan(index: GraphIndex, set: EvalSet, gt: Map[Long, Array[Long]])
      : (Seq[SweepPoint], Seq[(Long, Array[Long])]) = {
    val recallAt = mutable.Map.empty[Int, Double]
    var floorRows = Array.empty[(Long, Array[Long])]
    def searchAt(ls: Seq[Int]): Unit = {
      val res = ls.map(l => search(index, set.sample, l).select(lit(l).as("l"),
        col("query_id"), col("ids"))).reduce(_ union _).cache()
      val byL = res.as[(Int, Long, Array[Long])].collect().groupBy(_._1)
      for (l <- ls) {
        val rows = byL.getOrElse(l, Array.empty).map(r => (r._2, r._3))
        checkResults(s"roargraph_search_${set.kind}_l$l", rows, sz.base, sz.sample)
        val recall = recallOf(rows, gt)
        recallAt(l) = recall
        rec.sweep += Map("tier" -> "scan", "kind" -> set.kind, "l" -> l,
          "queries" -> sz.sample, "recall" -> recall)
        if (l == Sizes.FloorL) {
          rec.check(s"recall_floor_${set.kind}_l$l", recall >= MemoryFloor(set.kind),
            f"recall $recall%.4f < ${MemoryFloor(set.kind)}")
          floorRows = rows
        }
      }
      res.unpersist(true)
    }
    val targets = Sizes.Targets(set.kind)
    val (narrow, wider) = Sizes.Grid.partition(_ <= Sizes.ScanL)
    searchAt(narrow :+ Sizes.FloorL)
    val curve = mutable.ArrayBuffer.from(narrow.map(l => l -> recallAt(l)))
    for (l <- wider if curve.last._2 < targets.max) {
      if (!recallAt.contains(l)) searchAt(Seq(l))
      curve += l -> recallAt(l)
    }
    val picked = targets.flatMap { t =>
      val i = curve.indexWhere(_._2 >= t)
      if (i < 0) Nil else curve.slice(math.max(0, i - 1), i + 1)
    }.distinct.sortBy(_._1)
    (picked.map { case (l, r) => SweepPoint(set, l, r) }, floorRows.toSeq)
  }

  /** One timed pass over the picked sweep points, in increasing beam
    * width, each over its whole batch. Only the search materialization
    * (`cache` + `count`) is timed; each point's recall is the one its
    * sample scored. */
  private def timedPass(index: GraphIndex, points: Seq[SweepPoint]): Unit =
    for (p <- points.sortBy(_.l)) {
      var n = 0L
      val res = timed(s"roargraph.search.${p.set.kind}",
          Map("l" -> p.l, "queries" -> sz.batch)) {
        val r = search(index, p.set.batch, p.l).cache()
        n = r.count()
        r
      }
      val wall = rec.calls.last("wall_s")
      rec.check(s"roargraph_search_${p.set.kind}_l${p.l}_answered", n == sz.batch,
        s"$n/${sz.batch} queries answered")
      // the kernel's own counters, outside the wall, for the traced run
      val (cmps, hops) = if (!tracer.enabled) (0L, 0L) else {
        val c = res.agg(sum("cmps"), sum("hops")).head()
        (c.getLong(0), c.getLong(1))
      }
      res.unpersist(true)
      rec.sweep += Map("tier" -> "memory", "kind" -> p.set.kind, "l" -> p.l,
        "wall_s" -> wall, "queries" -> sz.batch, "recall" -> p.recall,
        "cmps" -> cmps, "hops" -> hops)
    }

  /** The distributed tier on the first [[Sizes.DistBase]] base vectors:
    * build, bucketed save (writes), load, and one BSP search over a slice
    * of both eval sets at once (reads), its recall scored against a scalar
    * brute force over the same slice. */
  private def distTier(base: DataFrame, train: DataFrame, corpus: OodCorpus,
                       ood: DataFrame, id: DataFrame): Unit = {
    implicit val sp: SparkSession = spark
    val db = s"graft_bench_${workload.replace('-', '_')}"
    val di = timed("dist.build", Map("base" -> Sizes.DistBase, "train" -> Sizes.DistTrain)) {
      val d = DistRoarGraphBuilder.build(base, train, BuildParamsOod, frontierWidth = 16)
      d.adj.count()
      d
    }
    try {
      timed("graphio.save", Map("base" -> Sizes.DistBase)) {
        GraphIO.saveDistBucketed(di, base, db, buckets = cores)
      }
      val (bIdx, bVecs) = GraphIO.loadDistBucketed(db)
      val nb = Sizes.BspEval
      val queries = ood.filter(col("id") < OodIdBase + nb)
        .union(id.filter(col("id") < IdIdBase + nb))
      val res = timed("bsp.search", Map("l" -> Sizes.BspL, "queries" -> 2 * nb)) {
        val r = BspBeamSearch.search(bIdx.adj, bVecs, queries, K, Sizes.BspL, bIdx.ep, Ip,
          frontierWidth = 8).cache()
        r.count()
        r
      }
      val wall = rec.calls.last("wall_s")
      val rows = res.select("query_id", "ids").as[(Long, Array[Long])].collect()
      res.unpersist(true)
      checkResults("bsp_search", rows, Sizes.DistBase, 2 * nb)
      val slice = corpus.base.take(Sizes.DistBase)
      for ((kind, lo, vecs) <- Seq(("ood", OodIdBase, corpus.evalOod),
                                   ("id", IdIdBase, corpus.evalId))) {
        val gt = (0 until nb).map(i => (lo + i) -> bruteTopK(vecs(i), slice).map(_._2).toArray).toMap
        val recall = recallOf(rows.filter(r => gt.contains(r._1)), gt)
        rec.check(s"bsp_recall_floor_$kind", recall >= BspFloor(kind),
          f"recall $recall%.4f < ${BspFloor(kind)}")
        rec.sweep += Map("tier" -> "bsp", "kind" -> kind, "l" -> Sizes.BspL,
          "wall_s" -> wall,
          "queries" -> 2 * nb, "recall" -> recall)
      }
    } finally {
      spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
      di.adj.unpersist(false)
    }
  }

  private def indexHealth(index: GraphIndex): Unit = {
    val (avg, mx, _) = index.degreeStats
    rec.put("degree_avg", avg)
    rec.put("degree_max", mx)
    rec.put("reachable_frac", index.reachableFromEp.toDouble / index.n)
  }

  /** Heap in use after a forced GC, while `live` is still referenced. */
  private def heap(live: AnyRef): Unit = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    // the least of a few collections: Spark frees broadcast and cached
    // blocks asynchronously once their handles are collected
    val used = (1 to 4).map { _ =>
      System.gc(); Thread.sleep(100); mx.getHeapMemoryUsage.getUsed
    }.min
    rec.put("heap_live_mb", used / 1e6)
    require(live != null)
  }
}
