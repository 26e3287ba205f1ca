package graft.bench

import java.nio.charset.StandardCharsets.US_ASCII
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.ColumnFns.{stopwordHits, tokens}
import graft.operators.{Curation, Dedup, Multimodal, Similarity, TextOps}
import graft.sources.{Sources, TxTable}

/** `curate`: the README's LLM-data curation pipeline over seeded web
  * documents wrapped as WARC-with-HTML containers —
  * ingest → language/quality/PII gates → MinHash dedup + components +
  * keep-best → decontamination → hashed embeddings + diversity sample →
  * shard assignment + TxTable write.
  *
  * Almost all of its work is in the LLM-data layers and the native
  * kernels. The generator plants known shares of exact and near
  * duplicates, boilerplate banners, eval-overlapping spans, PII and
  * non-WARC payloads, so every stage does real work and every output has
  * a planted truth to equal. */
object Curate extends Workload {
  /** Planted shares (of English base documents unless noted). */
  val BaseDocs = 2500
  val GermanShare = 0.08      // of base docs: fail the language gate
  val LowQualityShare = 0.08  // of base docs: fail the quality gate
  val DupShare = 0.12         // get 1-3 copies, half exact, half near
  val ContamShare = 0.05      // carry a 16-token span of an eval passage
  val BannerShare = 0.20      // carry the boilerplate banner
  val PiiShare = 0.15         // carry an email (+ phone, + url)
  val NonWarcShare = 0.06     // of payloads: raw text, no container
  val MalformedShare = 0.02   // of payloads: WARC framing that fails
  val ContamSpan = 16
  val EvalPassages = 60
  val PayloadFiles = 8
  val WarmDocs = 200

  /** `removed`: tokens decontamination must scrub, per survivor. */
  final case class Truth(removed: Map[Long, Int], groups: Long, pii: Long, nonWarc: Set[Long]) {
    def survivors: Set[Long] = removed.keySet
  }
  final case class Input(dir: Path, payloads: String, warm: String, eval: String,
                         truth: Truth, docs: Long, bytes: Long)
  type In = Input

  private final case class Doc(text: Seq[String], title: String, banner: Boolean,
                               pii: Int, contaminated: Boolean, family: Int, kind: Int)
  private val English = 0
  private val German = 1
  private val LowQuality = 2
  private val Raw = 3
  private val Malformed = 4

  def inputBytes(in: Input): Long = in.bytes

  def generate(seed: Long, dir: Path): Input = {
    val rng = new java.util.SplittableRandom(seed)
    val stop = TextOps.stopwords.values.flatten.toSet
    def word(first: String, alphabet: String): String =
      first + (0 until 3 + rng.nextInt(6)).map(_ => alphabet(rng.nextInt(alphabet.length))).mkString
    def distinctWords(n: Int, make: => String): Array[String] = {
      val s = mutable.LinkedHashSet.empty[String]
      while (s.size < n) { val w = make; if (!stop(w)) s += w }
      s.toArray
    }
    val letters = "abcdefghijklmnopqrstuvwxy"
    val vocab = distinctWords(5000, word("", letters))
    val evalVocab = distinctWords(800, word("z", letters))
    val passages = Array.fill(EvalPassages)(Seq.fill(40)(evalVocab(rng.nextInt(evalVocab.length))))
    val banner = Seq.fill(12)(vocab(rng.nextInt(vocab.length)))
    val en = TextOps.stopwords("en")
    val de = TextOps.stopwords("de")
    def pick(a: Seq[String]): String = a(rng.nextInt(a.size))
    def withSentences(ts: Seq[String]): Seq[String] = {
      var next = 8 + rng.nextInt(8)
      ts.zipWithIndex.map { case (t, i) =>
        if (i == next) { next += 8 + rng.nextInt(8); t + "." } else t }
    }
    def insertAt[A](ts: Seq[A], xs: Seq[A]): Seq[A] = {
      val p = 1 + rng.nextInt(ts.size - 1)
      ts.take(p) ++ xs ++ ts.drop(p)
    }

    val docs = mutable.ArrayBuffer.empty[Doc]
    (0 until BaseDocs).foreach { fam =>
      val u = rng.nextDouble()
      val title = s"page ${pick(vocab)} ${pick(vocab)}"
      val bannered = rng.nextDouble() < BannerShare
      if (u < GermanShare) {
        val ts = Seq.fill(40 + rng.nextInt(60))(if (rng.nextDouble() < 0.3) pick(de) else pick(vocab))
        docs += Doc(withSentences(ts), title, bannered, 0, false, fam, German)
      } else if (u < GermanShare + LowQualityShare) {
        val ts = Seq.fill(30 + rng.nextInt(40))(if (rng.nextDouble() < 0.2) pick(en) else pick(vocab))
        docs += Doc(ts.flatMap(t => Seq(t, "!!!")), title, bannered, 0, false, fam, LowQuality)
      } else {
        // every fifth token a stopword: the quality gate's stopword ratio
        // holds for every English document, not just most
        var ts = withSentences(Seq.tabulate(60 + rng.nextInt(80))(i =>
          if (i % 5 == 2) pick(en) else pick(vocab)))
        var pii = 0
        if (rng.nextDouble() < PiiShare) {
          ts = insertAt(ts, Seq(s"u${rng.nextInt(100000)}@mail${rng.nextInt(100)}.example.com"))
          pii += 1
          if (rng.nextBoolean()) { ts = insertAt(ts, Seq(s"555-${1000 + rng.nextInt(9000)}")); pii += 1 }
          if (rng.nextDouble() < 0.3) {
            ts = insertAt(ts, Seq(s"https://site${rng.nextInt(1000)}.example.org/p${rng.nextInt(100)}"))
            pii += 1
          }
        }
        val contaminated = rng.nextDouble() < ContamShare
        if (contaminated) {
          val p = passages(rng.nextInt(EvalPassages))
          val o = rng.nextInt(40 - ContamSpan + 1)
          ts = insertAt(ts, p.slice(o, o + ContamSpan))
        }
        val base = Doc(ts, title, bannered, pii, contaminated, fam, English)
        docs += base
        if (rng.nextDouble() < DupShare) (0 to rng.nextInt(3)).foreach { _ =>
          docs += (if (rng.nextBoolean()) base else base.copy(text = base.text :+ pick(vocab)))
        }
      }
    }
    val nWarc = docs.size
    val extra = math.round(nWarc * (NonWarcShare + MalformedShare) / (1 - NonWarcShare - MalformedShare)).toInt
    (0 until extra).foreach { i =>
      val ts = Seq.fill(50)(pick(vocab))
      docs += Doc(ts, "", false, 0, false, -1,
        if (i < extra * NonWarcShare / (NonWarcShare + MalformedShare)) Raw else Malformed)
    }
    // doc ids are a seeded permutation, so a copy may carry the smallest id
    val ids = (0L until docs.size.toLong).toArray
    for (i <- ids.indices.reverse) {
      val j = rng.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t
    }
    val byId = docs.zip(ids).map { case (d, id) => id -> d }.sortBy(_._1)

    val truth = {
      val gated = byId.filter(_._2.kind == English)
      val families = gated.groupBy(_._2.family).values.toSeq
      val survivors = families.map(_.map(_._1).min).toSet
      Truth(gated.filter(d => survivors(d._1)).map { case (id, d) =>
          id -> (if (d.contaminated) ContamSpan else 0) }.toMap,
        families.count(_.size > 1).toLong,
        gated.map(_._2.pii.toLong).sum,
        byId.filter(d => d._2.kind == Raw || d._2.kind == Malformed).map(_._1).toSet)
    }

    Files.createDirectories(dir)
    val payloads = dir.resolve("payloads")
    val warm = dir.resolve("warm")
    Seq(payloads, warm).foreach(Files.createDirectories(_))
    val schema = "message payload { required int64 doc_id; required binary payload; }"
    val chunk = (byId.size + PayloadFiles - 1) / PayloadFiles
    byId.grouped(chunk).zipWithIndex.foreach { case (part, i) =>
      val w = new PqWriter(payloads.resolve(f"part-$i%02d.parquet"), schema)
      try part.foreach { case (id, d) =>
        w.write(w.row().append("doc_id", id).append("payload",
          org.apache.parquet.io.api.Binary.fromConstantByteArray(payload(id, d, banner))))
      } finally w.close()
    }
    val ww = new PqWriter(warm.resolve("part-00.parquet"), schema)
    try byId.take(WarmDocs).foreach { case (id, d) =>
      ww.write(ww.row().append("doc_id", id).append("payload",
        org.apache.parquet.io.api.Binary.fromConstantByteArray(payload(id, d, banner))))
    } finally ww.close()
    val eval = dir.resolve("eval")
    Files.createDirectories(eval)
    val ew = new PqWriter(eval.resolve("part-00.parquet"),
      "message eval { required int64 doc_id; required binary text (STRING); }")
    try passages.zipWithIndex.foreach { case (p, i) =>
      ew.write(ew.row().append("doc_id", i.toLong).append("text", p.mkString(" ")))
    } finally ew.close()
    Input(dir, payloads.toString, warm.toString, eval.toString, truth, byId.size.toLong,
      Util.dirBytes(payloads) + Util.dirBytes(eval))
  }

  private def payload(id: Long, d: Doc, banner: Seq[String]): Array[Byte] = d.kind match {
    case Raw => d.text.mkString(" ").getBytes(US_ASCII)
    case _ =>
      val nav = if (d.banner) s"<div class=\"nav\">${banner.mkString(" ")}</div>" else ""
      val html = s"<html><head><title>${d.title}</title><script>var t = $id;</script></head>" +
        s"<body>$nav<p>${d.text.mkString(" ")}</p><footer>copyright notice</footer></body></html>"
      def rec(typ: String, body: String, len: Int): String =
        s"WARC/1.0\r\nWARC-Type: $typ\r\nWARC-Target-URI: http://doc$id.example.com/\r\n" +
          s"Content-Length: $len\r\n\r\n$body\r\n\r\n"
      // a malformed container declares more bytes than it carries
      val len = if (d.kind == Malformed) html.length + 4096 else html.length
      (rec("response", html, len) + rec("request", "", 0)).getBytes(US_ASCII)
  }

  /** What a round's outputs say, for [[Checks.curate]]. */
  final case class Observed(ingested: Set[Long], survivors: Map[Long, Int], groups: Long,
                            pii: Long, tableRows: Long, shardDocs: Long, sample: Seq[Long])

  private def gates(ingested: DataFrame): DataFrame = {
    val scored = TextOps.scrubPii(ingested)
      .withColumn("_toks", tokens(col("scrubbed")))
    val scores = TextOps.langOrder.map(l => stopwordHits(col("_toks"), TextOps.stopwords(l)).as(s"score_$l"))
    scored.select(Seq(col("doc_id"), col("scrubbed").as("text"),
        (col("n_email") + col("n_url") + col("n_phone")).as("n_pii"),
        TextOps.qualityScoreCol(col("scrubbed"), col("_toks")).as("quality_score")) ++ scores: _*)
      .withColumn("pred_lang",
        TextOps.predLangFromScores(TextOps.langOrder.map(l => l -> col(s"score_$l"))))
      .filter(col("pred_lang") === "en" && col("quality_score") === 3)
      .select(col("doc_id"), col("text"), col("n_pii"), col("quality_score"))
  }

  private def embeddings(docs: DataFrame): DataFrame =
    Curation.hashedEmbeddings(docs, 32)
      .groupBy(col("doc_id"))
      .agg(map_from_entries(collect_list(struct(col("dim"), col("weight")))).as("m"))
      .select(col("doc_id").as("vec_id"), transform(sequence(lit(0), lit(31)),
        i => coalesce(try_element_at(col("m"), i), lit(0.0))).as("embedding"))

  /** The pipeline; returns the staged frames the checks read. */
  private def pipeline(ctx: Ctx, payloads: String, eval: String, root: String) = {
    val spark = ctx.spark
    val t = ctx.tracer
    val ingested = t.span("multimodal.warc_ingest") {
      Multimodal.warcIngest(Sources.parquet(spark, payloads))
        .select(col("doc_id"), col("clean_text").as("text")).localCheckpoint()
    }
    val gated = t.span("textops.gates")(gates(ingested).localCheckpoint())
    val pairs = t.span("dedup.minhash") {
      val sigs = Dedup.minhashSignatures(gated.select(col("doc_id"), col("text"))).localCheckpoint()
      Dedup.minhashPairsFromSigs(sigs).localCheckpoint()
    }
    val survivors = t.span("dedup.components") {
      val cc = Dedup.connectedComponents(pairs.select(col("doc_a").as("a"), col("doc_b").as("b")))
      gated.join(cc, gated("doc_id") === cc("n"), "left")
        .withColumn("grp", coalesce(col("cluster_id"), col("doc_id")))
        .groupBy(col("grp"))
        .agg(max_by(struct(col("doc_id"), col("text")),
          struct(col("quality_score"), negate(col("doc_id")))).as("w"),
          count(lit(1)).as("copies"))
        .select(col("w.doc_id").as("doc_id"), col("w.text").as("text"), col("copies"))
        .localCheckpoint()
    }
    val decon = t.span("curation.decontam") {
      Curation.decontamScrub(survivors.select(col("doc_id"), col("text")),
        Sources.parquet(spark, eval), 8).localCheckpoint()
    }
    val sample = t.span("similarity.diversity") {
      Similarity.diversitySample(
        embeddings(decon.select(col("doc_id"), col("clean_text").as("text"))), 8, 5, 10)
        .collect().map(_.getAs[Long]("vec_id")).toSeq
    }
    val shards = t.span("txtable.shard_write") {
      val fin = decon.select(col("doc_id"), col("clean_text").as("text"),
        length(col("clean_text")).as("n_chars"))
        .withColumn("shard", Curation.shardIdCol(8))
      TxTable.create(spark, fin, root, "doc_id")
      Curation.shardAssign(fin).collect()
    }
    (ingested, gated, survivors, decon, sample, shards)
  }

  def warmup(ctx: Ctx, in: Input): Unit = {
    val root = in.dir.resolve("warm-out")
    pipeline(ctx, in.warm, in.eval, root.toString)
    Util.deleteRecursively(root)
  }

  def round(ctx: Ctx, in: Input, out: Path): Round = {
    val root = out.resolve("curated")
    val ((ingested, gated, survivors, decon, sample, shards), wall) =
      Util.timed(pipeline(ctx, in.payloads, in.eval, root.toString))
    val obs = Observed(
      ingested.select(col("doc_id")).collect().map(_.getLong(0)).toSet,
      decon.select(col("doc_id"), col("n_tokens_removed")).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap,
      survivors.filter(col("copies") > 1).count(),
      Option(gated.agg(sum(col("n_pii"))).head().get(0)).map(_.toString.toLong).getOrElse(0L),
      TxTable.stats(root.toString).numRows,
      shards.map(_.getAs[Long]("n_docs")).sum,
      sample)
    val failures = Checks.curate(in.truth, obs)
    Round(wall, in.docs, Util.dirBytes(out), Nil, 7 + Checks.CurateChecks, failures)
  }

  override def probes(ctx: Ctx, in: Input): Unit = {
    val t = ctx.tracer
    t.enabled = false
    val ingested = Multimodal.warcIngest(Sources.parquet(ctx.spark, in.payloads))
      .select(col("doc_id"), col("clean_text").as("text")).localCheckpoint()
    val gated = gates(ingested).select(col("doc_id"), col("text")).localCheckpoint()
    val sigs = Dedup.minhashSignatures(gated).localCheckpoint()
    val emb = embeddings(gated).localCheckpoint()
    val verified = Dedup.minhashPairsFromSigs(sigs).count()
    val candidates = Dedup.lshBandStats(Dedup.bandedSigs(sigs))
      .agg(sum(col("n_cand_pairs"))).head().getLong(0)
    t.enabled = true
    ctx.sample("dedup.verified_per_candidate", verified.toDouble / math.max(1L, candidates))
    def noop(name: String, df: DataFrame): Unit =
      t.span(name)(df.write.format("noop").mode("overwrite").save())
    noop("functions.tokens", ingested.select(call_function("graft_tokens", col("text"))))
    noop("functions.minhash", sigs.select(call_function("graft_minhash64", col("hsh"))))
    noop("functions.dot", emb.select(call_function("graft_dot", col("embedding"), col("embedding"))))
  }
}
