package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

import org.apache.spark.{ListenerBusDrain, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDBlockId

/** Work attributed to one layer call: the Spark jobs that carried its
  * job tag and the tasks of those jobs.
  */
final case class Work(jobs: Int, taskS: Double, schedGapS: Double, shuffleWriteMb: Double,
                      spillMb: Double, inputMb: Double, inputRows: Long, outputMb: Double,
                      jobSpanS: Double, byFile: Map[String, Double])

/** Listener half of the traced mode: per-job and per-task records keyed
  * by the benchmark's job tags, plus a running total of RDD block bytes
  * stored (fences, persisted inputs). Everything is kept in memory.
  */
final class TraceListener extends SparkListener {
  private final case class Job(tags: Set[String], file: String, start: Long, var end: Long)
  private final case class Task(job: Int, launch: Long, finish: Long, runMs: Long,
                                shuffleWrite: Long, spill: Long, inBytes: Long, inRows: Long,
                                outBytes: Long)

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val tasks = new java.util.concurrent.ConcurrentLinkedQueue[Task]()
  @volatile private var blockBytes = 0L

  private val SiteFile = """([A-Za-z0-9_$]+\.scala):\d+""".r

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(",").filter(_.nonEmpty).toSet).getOrElse(Set.empty)
    // the final stage's name is the job's short call site ("csv at ChunkStore.scala:64"):
    // the innermost frame outside Spark, i.e. the engine file that ran the job
    val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
    val file = SiteFile.findFirstMatchIn(site).map(_.group(1)).getOrElse("other")
    jobs.put(e.jobId, Job(tags, file, e.time, -1L))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val job = Option(stageJob.get(e.stageId)).map(_.intValue).getOrElse(-1)
    if (m != null) tasks.add(Task(job, e.taskInfo.launchTime, e.taskInfo.finishTime,
      m.executorRunTime, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead,
      m.inputMetrics.recordsRead, m.outputMetrics.bytesWritten))
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isInstanceOf[RDDBlockId] && b.storageLevel.isValid)
      synchronized { blockBytes += b.memSize + b.diskSize }
  }

  /** Bytes of RDD blocks stored so far; callers take deltas around a layer call. */
  def rddBlockBytes: Long = blockBytes

  /** Everything the jobs tagged `tag` did, over the wall window [t0, t1] (epoch ms). */
  def work(tag: String, t0: Long, t1: Long): Work = {
    val js = jobs.asScala.filter(_._2.tags.contains(tag))
    val ts = tasks.asScala.filter(t => js.contains(t.job)).toSeq
    val mb = (b: Long) => b / 1048576.0
    Work(
      jobs = js.size,
      taskS = ts.map(_.runMs).sum / 1000.0,
      schedGapS = math.max(0L, (t1 - t0) - covered(ts.map(t => (t.launch, t.finish)), t0, t1)) / 1000.0,
      shuffleWriteMb = mb(ts.map(_.shuffleWrite).sum),
      spillMb = mb(ts.map(_.spill).sum),
      inputMb = mb(ts.map(_.inBytes).sum),
      inputRows = ts.map(_.inRows).sum,
      outputMb = mb(ts.map(_.outBytes).sum),
      jobSpanS = js.values.map(j => math.max(0L, (if (j.end < 0) t1 else j.end) - j.start)).sum / 1000.0,
      byFile = ts.groupBy(t => js(t.job).file).map { case (f, xs) => f -> xs.map(_.runMs).sum / 1000.0 })
  }

  /** Length of [t0, t1] covered by at least one of the intervals. */
  private def covered(iv: Seq[(Long, Long)], t0: Long, t1: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }.filter(x => x._2 > x._1)
      .sortBy(_._1).foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
    if (curE > curS) total += curE - curS
    total
  }
}

/** One span: a call into one layer, with the span that caused it and the
  * request (question, lane query, build) it belongs to.
  */
final case class Span(id: Int, name: String, startMs: Long, endMs: Long, durMs: Double,
                      parent: Int, request: String, counts: Map[String, Double])

/** A layer call's result and wall time; `span` is 0 when nothing was traced. */
final case class Timed[T](value: T, seconds: Double, span: Int)

/** The traced mode's recorder. When `enabled` is false, or the listener
  * is detached, every call is a plain timed pass-through: no listener,
  * no tags, no spans.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val listener = new TraceListener
  private val spans = new ConcurrentHashMap[Int, Span]()
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(0)
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  @volatile private var attached = false

  def attach(): Unit = if (enabled && !attached) { sc.addSparkListener(listener); attached = true }
  def detach(): Unit = if (attached) { drain(); sc.removeSparkListener(listener); attached = false }
  def drain(): Unit = if (attached) ListenerBusDrain.drain(sc)
  def tracing: Boolean = attached

  /** Run `body` as span `name` of `request`, tagging its Spark jobs with a
    * tag unique to this span.
    */
  def span[T](name: String, request: String)(body: => T): Timed[T] = {
    if (!attached) {
      val t0 = System.nanoTime()
      val r = body
      return Timed(r, (System.nanoTime() - t0) / 1e9, 0)
    }
    val id = nextId.incrementAndGet()
    val tag = s"pb-$id"
    val parent = stack.get().headOption.getOrElse(0)
    stack.set(id :: stack.get())
    sc.addJobTag(tag)
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = try body finally {
      sc.removeJobTag(tag)
      stack.set(stack.get().tail)
    }
    val dur = (System.nanoTime() - t0) / 1e9
    spans.put(id, Span(id, name, w0, System.currentTimeMillis(), dur * 1000, parent, request, Map.empty))
    Timed(r, dur, id)
  }

  /** Work of span `id`; call [[drain]] first so its events have arrived. */
  def workOf(id: Int): Work = {
    val s = spans.get(id)
    listener.work(s"pb-$id", s.startMs, s.endMs)
  }

  def spanSeconds(id: Int): Double = spans.get(id).durMs / 1000

  /** Attach per-span counts, measured at the same boundary. */
  def annotate(id: Int, counts: Map[String, Double]): Unit =
    spans.computeIfPresent(id, (_, s) => s.copy(counts = s.counts ++ counts))

  /** Write every span as one JSON line. */
  def write(path: String): Unit = if (enabled) {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val out = new java.io.PrintWriter(f, "UTF-8")
    try spans.asScala.values.toSeq.sortBy(_.id).foreach { s =>
      out.println(Json.obj(Seq(
        "id" -> s.id, "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "dur_ms" -> s.durMs, "parent" -> s.parent, "request" -> s.request,
        "counts" -> s.counts)))
    } finally out.close()
  }
}
