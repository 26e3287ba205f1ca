package graft.bench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.{ConcurrentHashMap, LinkedBlockingQueue, TimeUnit}

import scala.collection.mutable

import org.apache.spark.sql.{Dataset, Row, functions}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.operators.TimeJoins
import graft.sources.{Sources, TxTable}
import graft.streaming.StreamOps

/** `stream`: a closed loop with one producer and one file in flight. The
  * producer lands the next seeded events file only after the previous
  * batch has committed; one long-running query per round runs
  * file source → `StreamOps.sessionize` (state store) → `foreachBatch`
  * `TxTable.mergeConditional` stamped `txn = (appId, batchId)`. After each
  * commit the producer reads a key range with `TxTable.readWhere`; every
  * third batch runs `TxTable.compactBinPack` with log cleanup beside the
  * query, and every third commit drains the sink's change feed
  * (`readStream.format("graft")`, `AvailableNow`) into a derived per-user
  * aggregate.
  *
  * Many small jobs: per-job and per-commit fixed cost (driver gaps,
  * planning, log replay, WAL commits) dominates, the opposite of `curate`
  * and `etl`, and it is the only workload that writes beside reading and
  * compacts in the background. */
object Stream extends Workload {
  val Users = 150
  val EventsPerFile = 600
  val FileSpanSec = 14400     // 4 h of event time per file: sessions seal from batch 1 on
  val LateShare = 0.10        // of events: up to MaxLateSec behind their file
  val MaxLateSec = 3600       // inside the 2-hour watermark, so none drop
  val BatchesPerRound = 6
  val CompactEvery = 3
  val DrainEvery = 3
  val SentinelUser = 1L << 19
  val App = "graftbench-sessions"
  val AggApp = "graftbench-agg"
  val KeyShift = 4294967296L  // sess_key = user_id * 2^32 + session_start

  val EventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType)))

  final case class Input(dir: Path, files: Seq[Path], sentinels: Seq[Path], events: Long, bytes: Long)
  type In = Input

  def inputBytes(in: Input): Long = in.bytes

  def generate(seed: Long, dir: Path): Input = {
    val rng = new java.util.SplittableRandom(seed)
    val staged = dir.resolve("staged")
    Files.createDirectories(staged)
    val schema = "message e { required int64 event_id; required int64 ts (TIMESTAMP(MICROS,true)); " +
      "required int64 user_id; required binary event_type (STRING); required double value; }"
    val t0 = Util.micros(2024, 3, 1) / 1000000L
    var id = 0L
    def file(name: String)(rows: => Seq[(Long, Long, Double)]): Path = {
      val p = staged.resolve(name)
      val w = new PqWriter(p, schema)
      try rows.foreach { case (sec, user, v) =>
        id += 1
        w.write(w.row().append("event_id", id).append("ts", sec * 1000000L)
          .append("user_id", user).append("event_type", "view").append("value", v))
      } finally w.close()
      p
    }
    val files = (0 until BatchesPerRound).map { i =>
      file(f"events-$i%04d.parquet") {
        Seq.fill(EventsPerFile) {
          val late = if (rng.nextDouble() < LateShare) rng.nextInt(MaxLateSec) else 0
          (t0 + i.toLong * FileSpanSec + rng.nextInt(FileSpanSec) - late,
            rng.nextInt(Users).toLong, rng.nextInt(10000) / 100.0)
        }
      }
    }
    // two far-future events: the first moves the watermark past every real
    // session, the second's batch runs the timeouts that seal them
    val end = t0 + BatchesPerRound.toLong * FileSpanSec + 86400L
    val sentinels = Seq(
      file("sentinel-0.parquet")(Seq((end, SentinelUser, 0.0))),
      file("sentinel-1.parquet")(Seq((end + 1, SentinelUser, 0.0))))
    Input(dir, files, sentinels, BatchesPerRound.toLong * EventsPerFile + 2,
      (files ++ sentinels).map(Files.size).sum)
  }

  private final case class Commit(batch: Long, version: Long, rows: Long, visible: Boolean, atNs: Long)

  /** What a round's outputs say, for [[Checks.stream]]. */
  final case class Observed(sink: Set[Row], reference: Set[Row], agg: Set[Row], aggReference: Set[Row],
                            served: Seq[Long], expected: Set[Long], invisible: Seq[Long])

  def warmup(ctx: Ctx, in: Input): Unit = {
    val out = in.dir.resolve("warm-out")
    run(ctx, in, out, batches = 1, check = false)
    Util.deleteRecursively(out)
  }

  def round(ctx: Ctx, in: Input, out: Path): Round = run(ctx, in, out, BatchesPerRound, check = true)

  private def run(ctx: Ctx, in: Input, out: Path, batches: Int, check: Boolean): Round = {
    val spark = ctx.spark
    import spark.implicits._
    val t = ctx.tracer
    val rng = new java.util.SplittableRandom(ctx.seed * 31 + t.round)
    val sink = out.resolve("sink").toString
    val agg = out.resolve("agg").toString
    val landing = out.resolve("landing")
    val incoming = out.resolve(".incoming")
    Seq(landing, incoming).foreach(Files.createDirectories(_))
    TxTable.create(spark, Seq((-1L, -1L, 0L, 0, 0.0))
      .toDF("sess_key", "user_id", "session_start", "n_events", "sum_value"), sink, "sess_key", cdc = true)
    TxTable.create(spark, Seq((-1L, 0L, 0L, 0L)).toDF("user_id", "n_sessions", "n_events", "value_cents"),
      agg, "user_id")

    val commits = new LinkedBlockingQueue[Commit]()
    val batchSpans = new ConcurrentHashMap[Long, java.lang.Long]()
    val merged = mutable.ArrayBuffer.empty[Commit]
    val query = StreamOps.sessionize(spark,
        Sources.streamParquet(spark, landing.toString, EventSchema).as[StreamOps.Ev])
      .writeStream
      .queryName("sessions")
      .option("checkpointLocation", out.resolve("chk").toString)
      .foreachBatch { (b: Dataset[StreamOps.SessionOut], id: Long) =>
        val span: Long = batchSpans.computeIfAbsent(id, _ => java.lang.Long.valueOf(t.newId()))
        t.under(span) {
          val cb = b.toDF().select((col("user_id") * KeyShift + col("session_start")).as("sess_key"),
            col("user_id"), col("session_start"), col("n_events"), col("sum_value")).localCheckpoint()
          val n = cb.count()
          val v = t.span("txtable.merge")(
            TxTable.mergeConditional(spark, sink, cb, "sess_key", txn = Some((App, id))))
          val visible = TxTable.lastTxn(sink, App).exists(_ >= id)
          commits.put(Commit(id, v, n, visible, System.nanoTime()))
        }
        ()
      }
      .start()

    val served = mutable.ArrayBuffer.empty[Long]
    def drain(): Unit = t.span("changefeed.drain") {
      val q = spark.readStream.format("graft").option("startingVersion", "2").load(sink)
        .writeStream
        .option("checkpointLocation", out.resolve("feed-chk").toString)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: Dataset[Row], id: Long) =>
          val cb = b.toDF().localCheckpoint()
          val vs = cb.select(col("_commit_version")).distinct().collect().map(_.getLong(0)).sorted
          if (vs.nonEmpty) {
            val sgn = when(col("_change_type").isin("insert", "update_postimage"), 1L).otherwise(-1L)
            val delta = cb.groupBy(col("user_id")).agg(
              sum(sgn).as("n_sessions"), sum(sgn * col("n_events")).as("n_events"),
              sum(sgn * functions.round(col("sum_value") * 100).cast("long")).as("value_cents"))
            TxTable.mergeConditional(spark, agg, delta.localCheckpoint(), "user_id",
              matchedUpdateSet = Some(Seq("n_sessions", "n_events", "value_cents")
                .map(c => c -> ((s: String => org.apache.spark.sql.Column,
                                 tc: String => org.apache.spark.sql.Column) => tc(c) + s(c))).toMap),
              txn = Some((AggApp, id)))
            served.synchronized(served ++= vs)
          }
          ()
        }
        .start()
      q.awaitTermination(120000)
      q.exception.foreach(e => throw e)
    }

    val latencies = mutable.ArrayBuffer.empty[Double]
    val invisible = mutable.ArrayBuffer.empty[Long]
    def land(src: Path, batch: Long): Unit = {
      val tmp = incoming.resolve(src.getFileName)
      Files.copy(src, tmp)
      val t0 = System.nanoTime()
      Files.move(tmp, landing.resolve(src.getFileName), StandardCopyOption.ATOMIC_MOVE)
      val c = commits.poll(120, TimeUnit.SECONDS)
      require(c != null, s"batch $batch never committed")
      require(c.batch == batch, s"expected batch $batch, committed ${c.batch}")
      merged += c
      if (!c.visible) invisible += batch
      if (batch < batches) latencies += (c.atNs - t0) / 1e6
    }
    def compact(): Unit = t.span("txtable.compact") {
      val before = if (t.enabled) TxTable.snapshot(sink).map(_.name).toSet else Set.empty[String]
      TxTable.compactBinPack(spark, sink, "sess_key", smallRows = 5000L, targetRows = 200000L)
      TxTable.cleanupLog(sink, 2 * CompactEvery)
      if (t.enabled) ctx.sample("txtable.rewritten_mb",
        TxTable.snapshot(sink).map(_.name).filterNot(before).map(n =>
          Files.size(out.resolve("sink").resolve("data").resolve(n))).sum / Tracer.MB)
    }
    val t0 = System.nanoTime()
    try {
      (0 until batches).foreach { i =>
        // compaction starts beside the query's processing of this batch
        val landed = new Thread(() => land(in.files(i), i.toLong))
        var error: Throwable = null
        landed.setUncaughtExceptionHandler((_, e) => error = e)
        landed.start()
        if (i % CompactEvery == CompactEvery / 2) compact()
        landed.join()
        if (error != null) throw error
        val u = rng.nextInt(Users - 20).toLong
        t.span("txtable.read_where") {
          TxTable.readWhere(spark, sink, "sess_key", u * KeyShift, (u + 20) * KeyShift - 1).count()
        }
        if (t.enabled) {
          val (_, s) = Util.timed(TxTable.snapshot(sink))
          ctx.sample("txtable.snapshot_ms", s * 1e3)
          val (kept, pruned) = TxTable.liveFilesWhere(sink, "sess_key", u * KeyShift, (u + 20) * KeyShift - 1)
          ctx.sample("txtable.files_pruned_ratio", pruned.size.toDouble / math.max(1, kept.size + pruned.size))
        }
        if ((i + 1) % DrainEvery == 0 && i + 1 < batches) drain()
      }
      in.sentinels.zipWithIndex.foreach { case (s, j) => land(s, (batches + j).toLong) }
      drain()
    } finally {
      query.stop()
    }
    val wall = (System.nanoTime() - t0) / 1e9
    recordBatches(ctx, batchSpans)
    if (!check) return Round(wall, 0L, 0L, Nil, 0, Nil)

    val events = Sources.parquet(spark, landing.toString).filter(col("user_id") =!= SentinelUser)
    val cols = Seq("user_id", "session_start", "n_events", "sum_value")
    val sinkRows = TxTable.read(spark, sink).filter(col("user_id") >= 0)
    val obs = Observed(
      sinkRows.select(cols.map(c => col(c).cast(if (c == "sum_value") "double" else "long")): _*)
        .collect().toSet,
      TimeJoins.sessionize(events).select(cols.map(c => col(c).cast(if (c == "sum_value") "double" else "long")): _*)
        .collect().toSet,
      TxTable.read(spark, agg).filter(col("user_id") >= 0)
        .filter(col("n_sessions") =!= 0).select("user_id", "n_sessions", "n_events", "value_cents")
        .collect().toSet,
      sinkRows.groupBy(col("user_id")).agg(count(lit(1)).as("n_sessions"),
          sum(col("n_events")).cast("long").as("n_events"),
          sum(functions.round(col("sum_value") * 100).cast("long")).as("value_cents"))
        .collect().toSet,
      served.toSeq,
      merged.filter(_.rows > 0).map(_.version).toSet,
      invisible.toSeq)
    val failures = Checks.stream(obs)
    Round(wall, in.events, Util.dirBytes(out) - Util.dirBytes(landing), latencies.toSeq,
      batches + 2 + Checks.StreamChecks, failures)
  }

  /** One `streaming.batch` span per micro-batch, from its progress report;
    * the merge spans opened inside `foreachBatch` are its children. */
  private def recordBatches(ctx: Ctx, batchSpans: ConcurrentHashMap[Long, java.lang.Long]): Unit =
    if (ctx.tracer.enabled) {
      org.apache.spark.BenchBridge.drainListeners(ctx.spark.sparkContext)
      ctx.tracer.progress.toArray(Array.empty[Tracer.Progress])
        .filter(_.round == ctx.tracer.round)
        .foreach { p =>
          Option(batchSpans.get(p.batchId)).foreach(id => ctx.tracer.record(id, "streaming.batch", 0L,
            p.startMs, p.startMs + p.durationMs.getOrElse("triggerExecution", 0.0)))
        }
    }
}
