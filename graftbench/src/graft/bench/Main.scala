package graft.bench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Everything a workload needs while it runs. `sample` collects per-layer
  * figures that are not span counters (ratios, snapshot times); they are
  * only kept while the tracer is enabled. */
final class Ctx(val spark: SparkSession, val seed: Long, val tracer: Tracer) {
  private val samples = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  def sample(name: String, v: Double): Unit =
    if (tracer.enabled) samples.synchronized {
      samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
    }
  def sampled: Map[String, Seq[Double]] = samples.synchronized(samples.toMap.map {
    case (k, v) => k -> v.toSeq })
}

/** One measured round: `wallS` from the first input read to the last
  * checked output written. `latenciesMs` are per-batch latencies (stream)
  * or empty, in which case the round's own wall time is its latency. */
final case class Round(wallS: Double, items: Long, bytesOut: Long,
                       latenciesMs: Seq[Double], attempted: Int,
                       failures: Seq[String])

trait Workload {
  type In
  /** Writes the inputs under `dir` on the calling thread only. */
  def generate(seed: Long, dir: Path): In
  def inputBytes(in: In): Long
  /** A small pass over the inputs so codegen and class loading are done
    * before the clock starts. */
  def warmup(ctx: Ctx, in: In): Unit
  def round(ctx: Ctx, in: In, out: Path): Round
  /** Traced-only probes outside the rounds (they add no `wall_s`). */
  def probes(ctx: Ctx, in: In): Unit = ()
}

object Main {
  val Workloads: Map[String, Workload] =
    Map("curate" -> Curate, "etl" -> Etl, "stream" -> Stream)
  val SetupRepeats = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (args.contains("--self-test")) {
      val failures = Checks.selfTest()
      failures.foreach(f => System.err.println(s"[self-test] $f"))
      println(if (failures.isEmpty) "self-test: every corrupted output was rejected"
              else s"self-test: ${failures.size} corruption(s) went undetected")
      sys.exit(if (failures.isEmpty) 0 else 1)
    }
    val name = opts("workload")
    val w: Workload = Workloads.getOrElse(name, sys.error(s"unknown workload $name"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val runDir = Paths.get(opts("run-dir")).toAbsolutePath
    val nproc = Runtime.getRuntime.availableProcessors()
    val k = math.max(1, math.min(4, nproc))
    val os = ManagementFactory.getOperatingSystemMXBean
    val loadStart = os.getSystemLoadAverage
    val exit = try run(w, name, seed, seconds, traced, runDir, k, opts, loadStart, nproc)
    catch { case e: Throwable =>
      e.printStackTrace()
      1
    }
    sys.exit(exit)
  }

  private def newSession(k: Int, runDir: Path, i: Int): SparkSession = {
    val local = runDir.resolve(s"spark-local-$i")
    Files.createDirectories(local)
    val spark = SparkSession.builder()
      .master(s"local[$k]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", k.toString)
      .config("spark.default.parallelism", k.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      // one landed file = one micro-batch = one batch id (see Stream)
      .config("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.Tables.tune(spark)
  }

  private def stopSession(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Drop what the previous round left: cached blocks, state stores, and
    * the shuffle and broadcast files the ContextCleaner removes only after
    * a collection (the drain graft.Bench does between keys). */
  private def isolate(spark: SparkSession, localDir: Path): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case scala.util.control.NonFatal(_) => () }
    System.gc()
    val deadline = System.nanoTime() + 5000000000L
    var prev = -2L
    var stable = 0
    while (stable < 2 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val n = try Files.walk(localDir).count() catch { case _: Exception => -1L }
      if (n >= 0 && n == prev) stable += 1 else { stable = 0; prev = n }
    }
  }

  private def run(w: Workload, name: String, seed: Long, seconds: Double,
                  traced: Boolean, runDir: Path, k: Int, opts: Map[String, String],
                  loadStart: Double, nproc: Int): Int = {
    Files.createDirectories(runDir)
    // set-up, several times: fresh session + input generation + warm-up
    var spark: SparkSession = null
    var in: w.In = null.asInstanceOf[w.In]
    var ctx: Ctx = null
    val setups = (0 until SetupRepeats).map { i =>
      if (spark != null) stopSession(spark)
      Util.deleteRecursively(runDir.resolve(s"in-${i - 1}"))
      Util.deleteRecursively(runDir.resolve(s"spark-local-${i - 1}"))
      val t0 = System.nanoTime()
      spark = newSession(k, runDir, i)
      in = w.generate(seed, runDir.resolve(s"in-$i"))
      System.err.println(f"[graftbench] generated in ${(System.nanoTime() - t0) / 1e9}%.2f s")
      ctx = new Ctx(spark, seed, new Tracer(spark.sparkContext,
        s"$name-$seed-${ProcessHandle.current().pid()}"))
      w.warmup(ctx, in)
      val s = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[graftbench] set-up $i: $s%.2f s")
      s
    }
    val localDir = runDir.resolve(s"spark-local-${SetupRepeats - 1}")
    val tracer = ctx.tracer
    if (traced) {
      spark.sparkContext.addSparkListener(tracer.listener)
      spark.streams.addListener(tracer.queryListener)
    }
    val heap = new HeapWatch
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    def gcMs(): Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum

    isolate(spark, localDir)
    heap.reset()
    val rounds = mutable.ArrayBuffer.empty[(Round, Boolean)]
    val tracedCost = mutable.ArrayBuffer.empty[(Double, Double)]
    def spillMb(): Double = tracer.jobs.values.asScala.map(_.spillBytes).sum / Tracer.MB
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    // a traced run alternates untraced and traced rounds; its first round
    // only settles the JIT, so the overhead compares the rounds after it
    val minRounds = if (traced) 3 else 1
    var r = 0
    var stop = false
    while (!stop && (System.nanoTime() < deadline || r < minRounds)) {
      val out = runDir.resolve(s"out-$r")
      val on = traced && r % 2 == 1
      tracer.round = r
      tracer.enabled = on
      val (g0, s0) = (gcMs(), spillMb())
      val t0 = System.nanoTime()
      val res =
        try w.round(ctx, in, out)
        catch { case e: Exception =>
          e.printStackTrace()
          Round(Double.NaN, 0L, 0L, Nil, 1, Seq(s"round $r threw ${e.getClass.getSimpleName}: ${e.getMessage}"))
        }
      org.apache.spark.BenchBridge.drainListeners(spark.sparkContext)
      tracer.enabled = false
      if (on) tracedCost += (((gcMs() - g0) / 1e3, spillMb() - s0))
      System.err.println(f"[graftbench] round $r (traced=$on): wall ${res.wallS}%.2f s, " +
        f"${(System.nanoTime() - t0) / 1e9}%.2f s with checks; latencies ms " +
        res.latenciesMs.map(l => f"$l%.0f").mkString(" "))
      rounds += ((res, on))
      Util.deleteRecursively(out)
      isolate(spark, localDir)
      r += 1
      stop = res.failures.nonEmpty // the outputs are wrong: no point measuring on
    }
    if (traced) {
      tracer.round = -1
      tracer.enabled = true
      w.probes(ctx, in)
      org.apache.spark.BenchBridge.drainListeners(spark.sparkContext)
      tracer.enabled = false
    }
    val peakHeapMb = heap.peakMb
    val bytesIn = w.inputBytes(in)
    stopSession(spark)
    heap.close()

    val all = rounds.map(_._1).toSeq
    val failures = all.flatMap(_.failures)
    val attempted = all.map(_.attempted).sum
    val failed = all.map(_.failures.size).sum
    val measured = rounds.filter { case (res, on) => !on && !res.wallS.isNaN }.map(_._1).toSeq
    val tracedRounds = rounds.filter { case (res, on) => on && !res.wallS.isNaN }.map(_._1).toSeq
    val settled = rounds.zipWithIndex.collect {
      case ((res, on), i) if i > 0 && !on && !res.wallS.isNaN => res }.toSeq
    failures.foreach(f => System.err.println(s"[check] FAILED $f"))

    val os = ManagementFactory.getOperatingSystemMXBean
    val record = Seq(
      s""""workload":"$name"""", s""""seed":$seed""", s""""nproc":$nproc""", s""""k":$k""",
      s""""heap":"${opts.getOrElse("heap", "")}"""",
      s""""commit":"${opts.getOrElse("commit", "none")}"""",
      s""""source_sha256":"${opts.getOrElse("source", "")}"""",
      s""""load_avg_start":$loadStart""", s""""load_avg_end":${os.getSystemLoadAverage}""",
      s""""rounds":${rounds.size}""", s""""traced":$traced""",
      s""""latency_samples":${measured.flatMap(_.latenciesMs).size}""",
      s""""latencies_ms":[${measured.flatMap(_.latenciesMs).map(l => f"$l%.1f").mkString(",")}]""",
      s""""walls_s":[${measured.map(m => f"${m.wallS}%.3f").mkString(",")}]""").mkString(",")
    println(s"""{"run_record":{$record}}""")

    val metrics: Seq[(String, Double, String)] =
      if (measured.isEmpty) Nil
      else if (!traced) {
        val lat = {
          val l = measured.flatMap(_.latenciesMs)
          if (l.nonEmpty) l else measured.map(_.wallS * 1e3)
        }
        Seq(
          ("setup_s", Util.median(setups), "s"),
          ("wall_s", Util.median(measured.map(_.wallS)), "s"),
          ("items_per_s", Util.median(measured.map(m => m.items / m.wallS)), "1/s"),
          ("latency_p50_ms", Util.quantile(lat, 0.5), "ms"),
          ("latency_p90_ms", Util.quantile(lat, 0.9), "ms"),
          ("bytes_out_per_byte_in", Util.median(measured.map(_.bytesOut.toDouble / bytesIn)), "1"),
          ("peak_heap_mb", peakHeapMb, "MB"))
      } else Layers.metrics(ctx, tracedRounds, settled, tracedCost.toSeq)

    if (traced) {
      val extra = s""""workload":"$name","seed":$seed,"rounds":[""" +
        rounds.zipWithIndex.map { case ((res, on), i) =>
          s"""{"round":$i,"traced":$on,"wall_s":${if (res.wallS.isNaN) "null" else res.wallS}}"""
        }.mkString(",") + "]"
      opts.get("trace-out").foreach(p =>
        Files.write(Paths.get(p), tracer.toJson(extra).getBytes("UTF-8")))
    }
    val ms = metrics.map { case (n, v, u) => s""""$n":{"value":$v,"unit":"$u"}""" }.mkString(",")
    val correct = failures.isEmpty && metrics.nonEmpty
    println(s"""{"correct":$correct,"attempted":${math.max(1, attempted)},"failed":$failed,"metrics":{$ms}}""")
    if (correct) 0 else 1
  }
}

/** Highest old-generation occupancy right after any collection. */
final class HeapWatch extends AutoCloseable {
  import javax.management.{NotificationEmitter, NotificationListener}
  import com.sun.management.GarbageCollectionNotificationInfo
  @volatile private var peak = 0L
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
    case e: NotificationEmitter => e }.toSeq
  private val listener: NotificationListener = (n, _) =>
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(
        n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
      info.getGcInfo.getMemoryUsageAfterGc.asScala.foreach { case (pool, usage) =>
        if (pool.contains("Old Gen") || pool.contains("Tenured"))
          synchronized { peak = math.max(peak, usage.getUsed) }
      }
    }
  emitters.foreach(_.addNotificationListener(listener, null, null))
  def reset(): Unit = synchronized { peak = 0L }
  def peakMb: Double = peak / (1024.0 * 1024.0)
  def close(): Unit = emitters.foreach(e =>
    try e.removeNotificationListener(listener)
    catch { case _: javax.management.ListenerNotFoundException => () })
}
