package graft.bench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** One finished Spark stage, as the listener saw it. `sites` holds the
  * call site of every RDD in the stage ("mapPartitions at File.scala:12"),
  * which is how build stages are attributed to build phases. */
final case class StageRec(id: Int, job: Int, group: String, name: String,
                          sites: Seq[String], startMs: Long, endMs: Long,
                          tasks: Int, runMs: Long, cpuNs: Long, gcMs: Long,
                          shuffleWriteB: Long, spillB: Long)

/** A timed call into the program (or one Spark job inside it). */
final case class Span(id: String, name: String, parent: String,
                      startMs: Long, endMs: Long, wallS: Double)

/** Benchmark-side tracing: a Spark listener plus job-group tagging around
  * each timed call. The program itself carries no tracing; everything here
  * is read from Spark's own scheduler events. When `enabled` is false,
  * [[call]] only times the block, so the untraced run pays nothing. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val jobsByGroup = mutable.Map.empty[String, Int]
  private val stages = mutable.ArrayBuffer.empty[StageRec]
  private val jobSpans = mutable.ArrayBuffer.empty[Span]
  private val jobStart = mutable.Map.empty[Int, (String, Long)]
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var seq = 0

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      e.stageIds.foreach { s => stageGroup.put(s, g); stageJob.putIfAbsent(s, e.jobId) }
      Tracer.this.synchronized {
        jobsByGroup(g) = jobsByGroup.getOrElse(g, 0) + 1
        jobStart(e.jobId) = (g, e.time)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Tracer.this.synchronized {
        jobStart.remove(e.jobId).foreach { case (g, t0) =>
          jobSpans += Span(s"job-${e.jobId}", s"spark.job.${e.jobId}", g, t0, e.time,
            (e.time - t0) / 1e3)
        }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val tm = si.taskMetrics
      val rec = StageRec(si.stageId, stageJob.getOrDefault(si.stageId, -1),
        stageGroup.getOrDefault(si.stageId, ""),
        si.name, si.rddInfos.map(_.callSite),
        si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L),
        si.numTasks,
        if (tm == null) 0L else tm.executorRunTime,
        if (tm == null) 0L else tm.executorCpuTime,
        if (tm == null) 0L else tm.jvmGCTime,
        if (tm == null) 0L else tm.shuffleWriteMetrics.bytesWritten,
        if (tm == null) 0L else tm.memoryBytesSpilled + tm.diskBytesSpilled)
      Tracer.this.synchronized { stages += rec }
    }
  }
  if (enabled) sc.addSparkListener(listener)

  /** Time `body` as one span named `name`; in a traced run its Spark jobs
    * carry the span id as their job group, unless `tag` is false (the
    * untraced reference call that measures the tracing overhead).
    * Returns (result, span). */
  def call[T](name: String, tag: Boolean = true)(body: => T): (T, Span) = {
    val id = synchronized { seq += 1; s"$name#$seq" }
    val tagged = enabled && tag
    if (tagged) sc.setJobGroup(id, name, interruptOnCancel = false)
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val r = try body finally if (tagged) sc.clearJobGroup()
    val wallMs = (System.nanoTime() - n0) / 1e6
    val span = Span(id, name, "run", t0, t0 + math.round(wallMs), wallMs / 1e3)
    synchronized { spans += span }
    (r, span)
  }

  /** Wait until the listener bus has delivered every event so far: the
    * bus is asynchronous but ordered, so once a marker job's end event has
    * arrived, every earlier stage event has arrived too. */
  def drain(): Unit = if (enabled) {
    val (_, marker) = call("drain")(sc.parallelize(Seq(1), 1).count())
    val deadline = System.currentTimeMillis() + 30000
    while (System.currentTimeMillis() < deadline &&
      !synchronized(jobSpans.exists(_.parent == marker.id))) Thread.sleep(2)
  }

  def stagesOf(span: Span): Seq[StageRec] = synchronized(stages.filter(_.group == span.id).toSeq)
  def jobsOf(span: Span): Int = synchronized(jobsByGroup.getOrElse(span.id, 0))
  def allSpans: Seq[Span] = synchronized((spans ++ jobSpans).toSeq)

  def close(): Unit = if (enabled) sc.removeSparkListener(listener)
}
