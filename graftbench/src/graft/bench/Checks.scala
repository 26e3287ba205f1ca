package graft.bench

import org.apache.spark.sql.Row

/** Output checks. Each takes the generator's planted truth (or an
  * independent reference computation) and what a round's outputs say,
  * and returns one message per failed check. They read only collected
  * values, so [[selfTest]] can feed each one a corrupted output without
  * a Spark session. */
object Checks {
  val CurateChecks = 6
  val EtlChecks = 5
  val StreamChecks = 3

  private def check(ok: Boolean, msg: => String): Option[String] = if (ok) None else Some(msg)

  def curate(t: Curate.Truth, o: Curate.Observed): Seq[String] = Seq(
    check(o.survivors.keySet == t.survivors,
      s"curate: ${o.survivors.size} survivors, planted truth ${t.survivors.size} " +
        s"(${(o.survivors.keySet -- t.survivors).size} extra, ${(t.survivors -- o.survivors.keySet).size} missing)"),
    check(o.groups == t.groups, s"curate: ${o.groups} dedup groups, planted ${t.groups}"),
    check(o.survivors == t.removed,
      s"curate: scrubbed spans differ on ${t.removed.count { case (d, n) => !o.survivors.get(d).contains(n) }} docs"),
    check(o.pii == t.pii, s"curate: ${o.pii} PII redactions, planted ${t.pii}"),
    check((o.ingested intersect t.nonWarc).isEmpty,
      s"curate: ${(o.ingested intersect t.nonWarc).size} non-WARC payloads yielded rows"),
    check(o.tableRows == t.survivors.size && o.shardDocs == t.survivors.size &&
      o.sample.nonEmpty && o.sample.size <= 80 && o.sample.forall(t.survivors),
      s"curate: table rows ${o.tableRows}, shard docs ${o.shardDocs}, sample ${o.sample.size}; " +
        s"want ${t.survivors.size} survivors and a sample of them")
  ).flatten

  def etl(t: Etl.Truth, o: Etl.Observed, brands: Int): Seq[String] = {
    val cubeTotal = o.cube.values.map(_._1).sum
    Seq(
      check(o.cube == t.cube && (cubeTotal - t.total).abs <= BigDecimal("0.005") * t.cube.size,
        s"etl: cube (${o.cube.size} groups, total $cubeTotal) differs from the fact table's " +
          s"plain aggregate (${t.cube.size} groups, total ${t.total})"),
      check(o.starJoin == t.starJoin && o.scanRows == t.scanRows,
        s"etl: star join ${o.starJoin} over ${o.scanRows} rows, filtered facts give ${t.starJoin} " +
          s"over ${t.scanRows} rows"),
      check(o.asof.nonEmpty && o.asof == o.asofReference,
        s"etl: as-of plan gives ${o.asof.size} sampled rows, window form ${o.asofReference.size} " +
          s"(${(o.asof diff o.asofReference).size} differ)"),
      check(o.topN == 3L * brands, s"etl: top-N kept ${o.topN} rows, want ${3 * brands}"),
      check(o.written == t.scanRows && o.windowRows == Etl.Events,
        s"etl: wrote ${o.written} rows (want ${t.scanRows}), window rows ${o.windowRows} " +
          s"(want ${Etl.Events})")
    ).flatten
  }

  def stream(o: Stream.Observed): Seq[String] = Seq(
    check(o.sink.nonEmpty && o.sink == o.reference && o.invisible.isEmpty,
      s"stream: sink has ${o.sink.size} sessions, batch sessionize ${o.reference.size} " +
        s"(${(o.sink diff o.reference).size} extra, ${(o.reference diff o.sink).size} missing); " +
        s"batches not visible through lastTxn: ${o.invisible.mkString(",")}"),
    check(o.agg == o.aggReference,
      s"stream: derived aggregate has ${o.agg.size} users, from-scratch ${o.aggReference.size} " +
        s"(${(o.agg diff o.aggReference).size} differ)"),
    check(o.served.distinct.size == o.served.size && o.served.toSet == o.expected,
      s"stream: change feed served versions ${o.served.sorted.mkString(",")}, " +
        s"committed ${o.expected.toSeq.sorted.mkString(",")}")
  ).flatten

  /** Feed every check a corrupted output; returns the corruptions that
    * were NOT rejected (empty = pass). */
  def selfTest(): Seq[String] = {
    val ct = Curate.Truth(Map(1L -> 0, 2L -> 16, 5L -> 0), 1L, 3L, Set(7L))
    val co = Curate.Observed(Set(1L, 2L, 5L, 6L), Map(1L -> 0, 2L -> 16, 5L -> 0), 1L, 3L, 3L, 3L, Seq(1L, 5L))
    val et = Etl.Truth(10L, Map("NATION_10" -> BigDecimal("12.50")),
      Map(("ASIA", 1996) -> (BigDecimal("12.50"), 2L), ("ASIA", 1997) -> (BigDecimal("3.00"), 1L)),
      BigDecimal("15.50"))
    val eo = Etl.Observed(10L, et.starJoin, et.cube, Set((1L, Some(2.0)), (3L, None)),
      Set((1L, Some(2.0)), (3L, None)), 75L, Etl.Events.toLong, 10L)
    val sink = Set(Row(1L, 100L, 2L, 3.5), Row(2L, 50L, 1L, 1.0))
    val agg = Set(Row(1L, 1L, 2L, 350L), Row(2L, 1L, 1L, 100L))
    val so = Stream.Observed(sink, sink, agg, agg, Seq(2L, 3L), Set(2L, 3L), Nil)
    val baseline = Seq("curate" -> curate(ct, co), "etl" -> etl(et, eo, 25), "stream" -> stream(so))
      .collect { case (w, f) if f.nonEmpty => s"$w: the uncorrupted output failed: ${f.mkString("; ")}" }
    val corruptions: Seq[(String, Seq[String])] = Seq(
      "curate: a survivor dropped" -> curate(ct, co.copy(survivors = co.survivors - 5L)),
      "curate: a duplicate kept" -> curate(ct, co.copy(survivors = co.survivors + (9L -> 0))),
      "curate: a dedup group lost" -> curate(ct, co.copy(groups = 0L)),
      "curate: a planted span not scrubbed" -> curate(ct, co.copy(survivors = co.survivors + (2L -> 8))),
      "curate: a PII hit missed" -> curate(ct, co.copy(pii = 2L)),
      "curate: a non-WARC payload ingested" -> curate(ct, co.copy(ingested = co.ingested + 7L)),
      "curate: table row count off" -> curate(ct, co.copy(tableRows = 4L)),
      "curate: shard counts off" -> curate(ct, co.copy(shardDocs = 2L)),
      "curate: sample outside the survivors" -> curate(ct, co.copy(sample = Seq(6L))),
      "etl: a cube group off by a cent" -> etl(et, eo.copy(cube = eo.cube.updated(("ASIA", 1997),
        (BigDecimal("3.01"), 1L))), 25),
      "etl: a cube group's order count off" -> etl(et, eo.copy(cube = eo.cube.updated(("ASIA", 1997),
        (BigDecimal("3.00"), 2L))), 25),
      "etl: star join revenue off" -> etl(et, eo.copy(starJoin = Map("NATION_10" -> BigDecimal("12.49"))), 25),
      "etl: scan lost a row" -> etl(et, eo.copy(scanRows = 9L), 25),
      "etl: as-of value wrong" -> etl(et, eo.copy(asof = Set((1L, Some(2.5)), (3L, None))), 25),
      "etl: as-of row missing" -> etl(et, eo.copy(asof = Set((1L, Some(2.0)))), 25),
      "etl: top-N row missing" -> etl(et, eo.copy(topN = 74L), 25),
      "etl: written row missing" -> etl(et, eo.copy(written = 9L), 25),
      "etl: window row missing" -> etl(et, eo.copy(windowRows = Etl.Events - 1L), 25),
      "stream: a session missing from the sink" -> stream(so.copy(sink = sink - Row(2L, 50L, 1L, 1.0))),
      "stream: a session value wrong" -> stream(so.copy(sink = sink - Row(2L, 50L, 1L, 1.0) + Row(2L, 50L, 1L, 1.01))),
      "stream: a batch invisible to lastTxn" -> stream(so.copy(invisible = Seq(4L))),
      "stream: derived aggregate drifted" -> stream(so.copy(agg = agg - Row(2L, 1L, 1L, 100L) + Row(2L, 2L, 2L, 200L))),
      "stream: a version served twice" -> stream(so.copy(served = Seq(2L, 3L, 3L))),
      "stream: a version never served" -> stream(so.copy(served = Seq(2L))))
    baseline ++ corruptions.collect { case (what, f) if f.isEmpty => s"not rejected: $what" }
  }
}
