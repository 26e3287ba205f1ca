package graft.bench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.{Relational, TimeJoins}
import graft.sources.Sources

/** `etl`: a seeded TPC-H-style star schema (about 1.3× sf0.1's lineitem)
  * with a hot-customer share, run as pushed-filter scans → broadcast star
  * join → revenue cube → top-N and running windows → the custom as-of
  * plan → a partitioned write.
  *
  * It is bound by scans and shuffles in `sources`, `relational`,
  * `timejoins` and `plans`, and runs no LLM operator, no TxTable code and
  * no streaming: the main workload for join, aggregate and shuffle
  * changes, and the bypass workload for kernel and TxTable changes. */
object Etl extends Workload {
  val Customers = 30000
  val Orders = 200000         // 1-7 lineitems each, about 800k lineitems
  val Parts = 40000
  val Users = 20000
  val Events = 200000
  val WarmOrders = 5000
  val WarmEvents = 5000
  val HotCustomers = 8
  val HotOrderShare = 0.25    // of orders, placed by the hot customers
  val HotUsers = 5
  val HotEventShare = 0.10    // of events, by the hot users
  val FactFiles = 8
  val AsofSampleMod = 16
  val RegionNames = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  val Brands: Seq[String] = for (a <- 1 to 5; b <- 1 to 5) yield s"Brand#$a$b"
  /** The scan keeps l_shipdate in [1995-01-01, 1998-01-01). */
  val ScanFrom: Long = Util.micros(1995, 1, 1)
  val ScanTo: Long = Util.micros(1998, 1, 1)

  final case class Truth(scanRows: Long, starJoin: Map[String, BigDecimal],
                         cube: Map[(String, Int), (BigDecimal, Long)], total: BigDecimal)
  final case class Input(dir: Path, truth: Truth, rows: Long, bytes: Long) {
    def table(name: String): String = dir.resolve(name).toString
    def warm: Input = copy(dir = dir.resolve("warm"))
  }
  type In = Input

  def inputBytes(in: Input): Long = in.bytes

  private def micros(days: Long): Long = Util.micros(1992, 1, 1) + days * 86400L * 1000000L

  def generate(seed: Long, dir: Path): Input = {
    val rng = new java.util.SplittableRandom(seed)
    val (truth, rows) = tables(rng, dir, Orders, Events)
    tables(rng, dir.resolve("warm"), WarmOrders, WarmEvents)
    Input(dir, truth, rows, Seq("region", "nation", "customer", "orders", "lineitem", "part", "events")
      .map(t => Util.dirBytes(dir.resolve(t))).sum)
  }

  /** Writes one star schema; returns its truth and row count. */
  private def tables(rng: java.util.SplittableRandom, dir: Path, nOrders: Int,
                     nEvents: Int): (Truth, Long) = {
    Files.createDirectories(dir)
    def writer(name: String, schema: String, part: Int = 0): PqWriter = {
      Files.createDirectories(dir.resolve(name))
      new PqWriter(dir.resolve(name).resolve(f"part-$part%02d.parquet"), schema)
    }
    def using(w: PqWriter)(body: PqWriter => Unit): Unit = try body(w) finally w.close()
    var rows = 0L

    using(writer("region", "message r { required int64 r_regionkey; required binary r_name (STRING); }")) { w =>
      RegionNames.zipWithIndex.foreach { case (n, i) =>
        w.write(w.row().append("r_regionkey", i.toLong).append("r_name", n)) }
    }
    val nationRegion = (0 until 25).map(_ / 5)
    using(writer("nation", "message n { required int64 n_nationkey; required binary n_name (STRING); " +
        "required int64 n_regionkey; }")) { w =>
      (0 until 25).foreach(i => w.write(w.row().append("n_nationkey", i.toLong)
        .append("n_name", f"NATION_$i%02d").append("n_regionkey", nationRegion(i).toLong)))
    }
    val custNation = Array.fill(Customers + 1)(rng.nextInt(25))
    using(writer("customer", "message c { required int64 c_custkey; required int64 c_nationkey; }")) { w =>
      (1 to Customers).foreach(c => w.write(w.row().append("c_custkey", c.toLong)
        .append("c_nationkey", custNation(c).toLong)))
    }
    rows += 30 + Customers

    // orders are chronological, so the fact files are date-clustered and
    // the shipdate filter can skip whole row groups
    val days = 2405 // 1992-01-01 .. 1998-08-02
    val starJoin = mutable.Map.empty[String, BigDecimal].withDefaultValue(BigDecimal(0))
    val cube = mutable.Map.empty[(String, Int), (BigDecimal, Long)].withDefaultValue((BigDecimal(0), 0L))
    var scanRows = 0L
    val y1996 = Util.micros(1996, 1, 1)
    val y1997 = Util.micros(1997, 1, 1)
    val perFile = (nOrders + FactFiles - 1) / FactFiles
    var li: PqWriter = null
    var ow: PqWriter = null
    (1 to nOrders).foreach { o =>
      if ((o - 1) % perFile == 0) {
        if (li != null) { li.close(); ow.close() }
        val part = (o - 1) / perFile
        li = writer("lineitem", "message l { required int64 l_orderkey; required double l_extendedprice; " +
          "required double l_discount; required double l_quantity; " +
          "required int64 l_shipdate (TIMESTAMP(MICROS,true)); required binary l_returnflag (STRING); " +
          "required binary l_linestatus (STRING); }", part)
        ow = writer("orders", "message o { required int64 o_orderkey; required int64 o_custkey; " +
          "required int64 o_orderdate (TIMESTAMP(MICROS,true)); required double o_totalprice; }", part)
      }
      val cust = if (rng.nextDouble() < HotOrderShare) 1 + rng.nextInt(HotCustomers) else 1 + rng.nextInt(Customers)
      val day = (o.toLong * days) / nOrders
      val odate = micros(day)
      val region = RegionNames(nationRegion(custNation(cust)))
      val year = java.time.Instant.ofEpochSecond(odate / 1000000L).atZone(java.time.ZoneOffset.UTC).getYear
      var total = 0L
      var inScan = false
      (0 to rng.nextInt(7)).foreach { _ =>
        val cents = 90000L + rng.nextInt(9910000)
        val disc = rng.nextInt(11)
        val ship = micros(day + 1 + rng.nextInt(121))
        li.write(li.row().append("l_orderkey", o.toLong).append("l_extendedprice", cents / 100.0)
          .append("l_discount", disc / 100.0).append("l_quantity", (1 + rng.nextInt(50)).toDouble)
          .append("l_shipdate", ship).append("l_returnflag", "RAN".charAt(rng.nextInt(3)).toString)
          .append("l_linestatus", "OF".charAt(rng.nextInt(2)).toString))
        total += cents
        rows += 1
        if (ship >= ScanFrom && ship < ScanTo) {
          // decProd: price(12,4) × (1 - discount)(8,4), exact
          val rev = BigDecimal(cents * (100 - disc), 4)
          scanRows += 1
          inScan = true
          val (r, n) = cube((region, year))
          cube((region, year)) = (r + rev, n)
          if (region == "ASIA" && odate >= y1996 && odate < y1997)
            starJoin(f"NATION_${custNation(cust)}%02d") += rev
        }
      }
      if (inScan) { val (r, n) = cube((region, year)); cube((region, year)) = (r, n + 1) }
      ow.write(ow.row().append("o_orderkey", o.toLong).append("o_custkey", cust.toLong)
        .append("o_orderdate", odate).append("o_totalprice", total / 100.0))
      rows += 1
    }
    li.close(); ow.close()

    using(writer("part", "message p { required int64 p_partkey; required binary p_brand (STRING); " +
        "required double p_retailprice; }")) { w =>
      (1 to Parts).foreach(p => w.write(w.row().append("p_partkey", p.toLong)
        .append("p_brand", Brands(rng.nextInt(Brands.size)))
        .append("p_retailprice", (90000 + rng.nextInt(110000)) / 100.0)))
    }
    val t0 = Util.micros(2024, 1, 1) / 1000000L
    using(writer("events", "message e { required int64 event_id; required int64 ts (TIMESTAMP(MICROS,true)); " +
        "required int64 user_id; required binary event_type (STRING); required double value; }")) { w =>
      (1 to nEvents).foreach { e =>
        val user = if (rng.nextDouble() < HotEventShare) rng.nextInt(HotUsers) else rng.nextInt(Users)
        val u = rng.nextDouble()
        val typ = if (u < 0.1) "signup" else if (u < 0.4) "purchase" else "view"
        w.write(w.row().append("event_id", e.toLong)
          .append("ts", (t0 + rng.nextInt(90 * 86400)) * 1000000L)
          .append("user_id", user.toLong).append("event_type", typ)
          .append("value", rng.nextInt(100000) / 100.0))
      }
    }
    rows += Parts + nEvents
    val round2 = (b: BigDecimal) => b.setScale(2, BigDecimal.RoundingMode.HALF_UP)
    (Truth(scanRows, starJoin.toMap.map { case (k, v) => k -> round2(v) },
      cube.toMap.map { case (k, (r, n)) => k -> (round2(r), n) }, cube.values.map(_._1).sum), rows)
  }

  /** What a round's outputs say, for [[Checks.etl]]. */
  final case class Observed(scanRows: Long, starJoin: Map[String, BigDecimal],
                            cube: Map[(String, Int), (BigDecimal, Long)],
                            asof: Set[(Long, Option[Double])], asofReference: Set[(Long, Option[Double])],
                            topN: Long, windowRows: Long, written: Long)

  private def pipeline(ctx: Ctx, in: Input, out: Path) = {
    val spark = ctx.spark
    val t = ctx.tracer
    def read(name: String): DataFrame = Sources.parquet(spark, in.table(name))
    val scanned = t.span("sources.scan") {
      read("lineitem")
        .filter(col("l_shipdate") >= timestamp_micros(lit(ScanFrom)) &&
          col("l_shipdate") < timestamp_micros(lit(ScanTo)))
        .localCheckpoint()
    }
    val dims = Seq("region", "nation", "customer", "orders").map(read)
    val star = t.span("relational.star_join") {
      Relational.nationRevenue(dims(0), dims(1), dims(2), dims(3), scanned).collect()
    }
    val cube = t.span("relational.cube") {
      Relational.revenueCube(dims(0), dims(1), dims(2), dims(3), scanned).collect()
    }
    val (topN, running) = t.span("relational.window") {
      (Relational.topNPerGroup(read("part"), 3).collect(),
        Relational.windowRunning(read("events")).localCheckpoint())
    }
    val asof = t.span("timejoins.asof")(TimeJoins.asofJoinExec(read("events")).localCheckpoint())
    t.span("sources.write") {
      Sources.writePartitioned(scanned, out.resolve("lineitem").toString,
        Seq("l_returnflag"), Seq("l_shipdate"))
    }
    (scanned, star, cube, topN, running, asof)
  }

  def warmup(ctx: Ctx, in: Input): Unit = {
    val out = in.dir.resolve("warm-out")
    pipeline(ctx, in.warm, out)
    Util.deleteRecursively(out)
  }

  private def asofRows(df: DataFrame, mod: Long): Set[(Long, Option[Double])] =
    df.filter(pmod(col("user_id"), lit(AsofSampleMod)) === mod)
      .select(col("event_id"), col("ref_value")).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toSet

  def round(ctx: Ctx, in: Input, out: Path): Round = {
    val ((scanned, star, cube, topN, running, asof), wall) = Util.timed(pipeline(ctx, in, out))
    val scanRows = scanned.count()
    if (ctx.tracer.enabled) {
      org.apache.spark.BenchBridge.drainListeners(ctx.spark.sparkContext)
      val read = ctx.tracer.calls().getOrElse("sources.scan", Nil)
        .filter(_.round == ctx.tracer.round).map(_.recordsRead).sum
      ctx.sample("sources.rows_read_per_row_out", read.toDouble / math.max(1L, scanRows))
    }
    val mod = ctx.seed % AsofSampleMod
    def dec(r: Row, i: Int) = BigDecimal(r.getDouble(i)).setScale(2, BigDecimal.RoundingMode.HALF_UP)
    val obs = Observed(scanRows,
      star.map(r => r.getString(0) -> dec(r, 1)).toMap,
      cube.map(r => (r.getString(0), r.getInt(1)) -> (dec(r, 2), r.getLong(3))).toMap,
      asofRows(asof, mod),
      asofRows(TimeJoins.asofJoin(Sources.parquet(ctx.spark, in.table("events"))), mod),
      topN.length.toLong, running.count(),
      Sources.parquet(ctx.spark, out.resolve("lineitem").toString).count())
    val failures = Checks.etl(in.truth, obs, Brands.size)
    Round(wall, in.rows, Util.dirBytes(out), Nil, 6 + Checks.EtlChecks, failures)
  }
}
