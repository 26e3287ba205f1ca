package graft.bench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.schema.MessageTypeParser

/** Single-threaded parquet output for the generators: the library only
  * ever sees these files, never the generator's in-memory rows. */
final class PqWriter(file: Path, schema: String) extends AutoCloseable {
  private val msg = MessageTypeParser.parseMessageType(schema)
  private val factory = new SimpleGroupFactory(msg)
  private val writer = ExampleParquetWriter.builder(new HPath(file.toUri))
    .withType(msg)
    .withConf(PqWriter.conf)
    .withCompressionCodec(CompressionCodecName.SNAPPY)
    .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
    .build()
  def row(): Group = factory.newGroup()
  def write(g: Group): Unit = writer.write(g)
  def close(): Unit = writer.close()
}

object PqWriter {
  lazy val conf: Configuration = {
    val c = new Configuration()
    // the raw local filesystem writes no .crc sidecars
    c.set("fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
    c.setBoolean("fs.file.impl.disable.cache", true)
    c
  }
}

object Util {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Bytes of the regular, non-hidden files under `p` (0 when absent). */
  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val w = Files.walk(p)
      try w.iterator().asScala
        .filter(f => Files.isRegularFile(f) && !f.getFileName.toString.startsWith("."))
        .map(f => try Files.size(f) catch { case _: java.io.IOException => 0L }).sum
      finally w.close()
    }

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val w = Files.walk(p)
      val all = try w.iterator().asScala.toSeq.reverse finally w.close()
      all.foreach(f => Files.deleteIfExists(f))
    }

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Micros since epoch for a UTC date-time, as parquet TIMESTAMP(MICROS). */
  def micros(y: Int, m: Int, d: Int): Long =
    java.time.LocalDate.of(y, m, d).atStartOfDay(java.time.ZoneOffset.UTC)
      .toEpochSecond * 1000000L
}
