package graft.bench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spans around the benchmark's calls into graft's layers, plus the Spark
  * job and task counters each span caused.
  *
  * A span is opened on the calling thread and published to Spark as a
  * thread-local property, so every job the call submits (on this thread,
  * or on a streaming thread it starts) carries the span id; the job
  * listener then charges task time, shuffle and spill to that span.
  * Spans and jobs stay in memory and are written once, at exit. While
  * `enabled` is false nothing is recorded, which is how a traced run
  * interleaves untraced rounds to measure the tracing overhead. */
final class Tracer(sc: SparkContext, val runId: String) {
  import Tracer._

  @volatile var enabled = false
  @volatile var round = 0

  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowMs: Double = (System.nanoTime() + epochOffsetNs) / 1e6

  val spans = new ConcurrentLinkedQueue[Span]()
  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val ids = new AtomicLong(1)
  /** Per-batch streaming progress of the query named `sessions`. */
  val progress = new ConcurrentLinkedQueue[Progress]()

  def newId(): Long = ids.getAndIncrement()

  /** Time `body` as span `name`, nested under the caller's open span. */
  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = newId()
      val parent = Option(sc.getLocalProperty(SpanProp)).map(_.toLong).getOrElse(0L)
      val t0 = nowMs
      try under(id)(body)
      finally spans.add(Span(id, name, parent, round, t0, nowMs))
    }

  /** Run `body` with `id` as the open span (jobs charge to it). */
  def under[A](id: Long)(body: => A): A = {
    val prev = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, id.toString)
    try body finally sc.setLocalProperty(SpanProp, prev)
  }

  /** Record a span whose interval was measured elsewhere. */
  def record(id: Long, name: String, parent: Long, startMs: Double, endMs: Double): Unit =
    if (enabled) spans.add(Span(id, name, parent, round, startMs, endMs))

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toLong).getOrElse(0L)
      jobs.put(e.jobId, new Job(e.jobId, span, e.time.toDouble))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time.toDouble)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) {
      val m = e.taskMetrics
      val job = Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j)))
      if (m != null) job.foreach { j =>
        j.taskMs += m.executorRunTime
        j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        j.recordsRead += m.inputMetrics.recordsRead
      }
    }
  }

  val queryListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (enabled && p.name == "sessions") {
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap
        val st = p.stateOperators.headOption
        progress.add(Progress(round, p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
          d, st.map(_.numRowsTotal).getOrElse(0L), st.map(_.memoryUsedBytes).getOrElse(0L)))
      }
    }
  }

  /** Jobs charged to each span, including those of its descendants. */
  def jobsBySpan(): Map[Long, Seq[Job]] = {
    val parentOf = spans.asScala.map(s => s.id -> s.parent).toMap
    val out = scala.collection.mutable.Map.empty[Long, List[Job]]
    jobs.values.asScala.foreach { j =>
      var s = j.span
      var hops = 0
      while (s != 0L && hops < 64) {
        out(s) = j :: out.getOrElse(s, Nil)
        s = parentOf.getOrElse(s, 0L)
        hops += 1
      }
    }
    out.toMap
  }

  /** Per-call counters of every span, grouped by span name. */
  def calls(): Map[String, Seq[Call]] = {
    val byspan = jobsBySpan()
    spans.asScala.toSeq.map { s =>
      val js = byspan.getOrElse(s.id, Nil)
      val wallMs = s.endMs - s.startMs
      val covered = unionMs(js.map(j => (math.max(j.startMs, s.startMs),
        math.min(if (j.endMs > 0) j.endMs else s.endMs, s.endMs))))
      s.name -> Call(s.round, wallMs / 1e3, js.map(_.taskMs).sum / 1e3,
        math.max(0.0, wallMs - covered) / 1e3, js.size,
        js.map(_.shuffleBytes).sum / MB, js.map(_.recordsRead).sum)
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
  }

  def toJson(extra: String): String = {
    val ss = spans.asScala.toSeq.sortBy(_.startMs).map(s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"round":${s.round},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs}}""")
    val js = jobs.values.asScala.toSeq.sortBy(_.id).map(j =>
      s"""{"id":${j.id},"span":${j.span},"start_ms":${j.startMs},"end_ms":${j.endMs},""" +
        s""""task_ms":${j.taskMs},"shuffle_bytes":${j.shuffleBytes}}""")
    s"""{"run_id":"$runId",$extra,"spans":[${ss.mkString(",\n")}],"jobs":[${js.mkString(",\n")}]}"""
  }
}

object Tracer {
  val SpanProp = "graft.bench.span"
  val MB = 1024.0 * 1024.0

  final case class Span(id: Long, name: String, parent: Long, round: Int,
                        startMs: Double, endMs: Double)
  final class Job(val id: Int, val span: Long, val startMs: Double) {
    @volatile var endMs = 0.0
    @volatile var taskMs = 0L
    @volatile var shuffleBytes = 0L
    @volatile var spillBytes = 0L
    @volatile var recordsRead = 0L
  }
  final case class Call(round: Int, s: Double, taskS: Double, gapS: Double, jobs: Int,
                        shuffleMb: Double, recordsRead: Long)
  final case class Progress(round: Int, batchId: Long, startMs: Double,
                            durationMs: Map[String, Double], stateRows: Long,
                            stateBytes: Long)

  /** Total length of the union of closed intervals. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
