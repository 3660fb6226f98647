package perfbench

import java.io.{File, OutputStream}
import java.nio.file.Paths

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.{LongWritable, SequenceFile, Text}
import org.apache.hadoop.io.SequenceFile.CompressionType
import org.apache.hadoop.io.compress.SnappyCodec

import graft.core.seqfile._

/** Record count and checksum of a (LongWritable, Text) file, the same
  * function whichever reader produced it. */
final case class Digest(rows: Long, sum: Long) {
  def +(o: Digest): Digest = Digest(rows + o.rows, sum + o.sum)
}

object Digest {
  val zero: Digest = Digest(0, 0)

  def bytesHash(b: Array[Byte], off: Int, len: Int): Long = {
    var h = 1125899906842597L
    var i = off
    val end = off + len
    while (i < end) { h = 31 * h + b(i); i += 1 }
    h
  }

  def record(key: Long, b: Array[Byte], off: Int, len: Int): Long =
    key * 0x9E3779B97F4A7C15L + bytesHash(b, off, len)
}

/** Calls into `core.seqfile` on one thread: the codec's per-layer metrics,
  * and the interop leg against Hadoop's own SequenceFile reader and writer. */
object Codec {

  final case class DecodeStats(digest: Digest, blocks: Long, ns: Long)

  /** Decodes every record of the files with `SeqStream.openRange`. With
    * `hash` every value byte goes into the digest; without, the sum only
    * touches each key and value length, so timing measures the codec. */
  def decode(files: Seq[String], hash: Boolean = true): DecodeStats = {
    var d = Digest.zero
    var blocks = 0L
    val t0 = System.nanoTime()
    files.foreach { f =>
      val in = new LocalSeekableInput(Paths.get(f))
      val header = SeqHeader.parse(new SeqInput(in))
      val stream = SeqStream.openRange(in, header, 0L, in.length)
      try {
        while (stream.hasNext) {
          val b = stream.next()
          val keys = b.keys.get.asInstanceOf[LongColumn].values
          val vals = b.values.get.asInstanceOf[BinaryColumn]
          var s = 0L
          var i = 0
          while (i < b.count) {
            s += (if (hash) Digest.record(keys(i), vals.bytes, vals.starts(i), vals.lens(i))
                  else keys(i) + vals.lens(i))
            i += 1
          }
          d = d + Digest(b.count, s)
          blocks += 1
        }
      } finally stream.close()
    }
    DecodeStats(d, blocks, System.nanoTime() - t0)
  }

  def hadoopRead(file: String, hash: Boolean = true): Digest = {
    val rd = new SequenceFile.Reader(new Configuration(),
      SequenceFile.Reader.file(new Path(file)))
    val k = new LongWritable()
    val v = new Text()
    var n = 0L
    var s = 0L
    try {
      while (rd.next(k, v)) {
        s += (if (hash) Digest.record(k.get(), v.getBytes, 0, v.getLength)
              else k.get() + v.getLength)
        n += 1
      }
    } finally rd.close()
    Digest(n, s)
  }

  def hadoopWrite(file: String, rows: Seq[(Long, Array[Byte])]): Unit = {
    val conf = new Configuration()
    val codec = new SnappyCodec()
    codec.setConf(conf)
    val w = SequenceFile.createWriter(conf,
      SequenceFile.Writer.file(new Path(file)),
      SequenceFile.Writer.keyClass(classOf[LongWritable]),
      SequenceFile.Writer.valueClass(classOf[Text]),
      SequenceFile.Writer.compression(CompressionType.BLOCK, codec))
    val k = new LongWritable()
    val v = new Text()
    try rows.foreach { case (key, value) => k.set(key); v.set(value); w.append(k, v) }
    finally w.close()
  }

  private final class CountingSink(out: OutputStream) extends OutputStream {
    var n = 0L
    override def write(b: Int): Unit = { n += 1; if (out != null) out.write(b) }
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      n += len; if (out != null) out.write(b, off, len)
    }
    override def close(): Unit = if (out != null) out.close()
  }

  /** Appends the rows with `SeqFileWriter` (BLOCK + Snappy, the defaults);
    * returns the nanoseconds spent and the bytes written. */
  def encode(rows: Seq[(Long, Array[Byte])], out: OutputStream): (Long, Long) = {
    val sink = new CountingSink(out)
    val t0 = System.nanoTime()
    val w = new SeqFileWriter(sink, WritableType.LongW, WritableType.TextW, syncSeed = 1L)
    rows.foreach { case (k, v) => w.append(k, v) }
    w.close()
    (System.nanoTime() - t0, sink.n)
  }

  /** The first `limit` records of the files, as (key, UTF-8 value). */
  def records(files: Seq[String], limit: Int): Vector[(Long, Array[Byte])] = {
    val out = Vector.newBuilder[(Long, Array[Byte])]
    var n = 0
    files.iterator.takeWhile(_ => n < limit).foreach { f =>
      val s = SeqFile.open(f)
      try {
        while (n < limit && s.hasNext) {
          val b = s.next()
          val keys = b.keys.get.asInstanceOf[LongColumn].values
          val vals = b.values.get.asInstanceOf[BinaryColumn]
          var i = 0
          while (i < b.count && n < limit) {
            out += ((keys(i), vals.slice(i))); n += 1; i += 1
          }
        }
      } finally s.close()
    }
    out.result()
  }

  private def bestNs(reps: Int)(f: => Unit): Long =
    (1 to reps).map { _ => val t = System.nanoTime(); f; System.nanoTime() - t }.min

  /** The interop leg: one file from Hadoop's `SequenceFile.Writer` and one
    * from ours, over the same records. Both readers must return the digest
    * of the records handed to the writers. Returns whether they all agree,
    * and Hadoop's read time over ours on each file. */
  final case class Interop(agree: Boolean, ratioOwnFile: Double, ratioHadoopFile: Double)

  def interop(dir: File, rows: Seq[(Long, Array[Byte])], poison: Long,
              timeReaders: Boolean): Interop = {
    dir.mkdirs()
    val expected = rows.foldLeft(Digest.zero) { case (d, (k, v)) =>
      d + Digest(1, Digest.record(k, v, 0, v.length))
    }
    val hadoopFile = new File(dir, "hadoop-written.seq").getPath
    val ownFile = new File(dir, "graft-written.seq").getPath
    hadoopWrite(hadoopFile, rows)
    val os = new java.io.BufferedOutputStream(new java.io.FileOutputStream(ownFile))
    encode(rows, os)
    val readings = Seq(hadoopFile, ownFile).flatMap(f =>
      Seq(decode(Seq(f)).digest, hadoopRead(f)))
    val agree = readings.forall(_ == expected.copy(rows = expected.rows + poison))
    if (!timeReaders) Interop(agree, 0.0, 0.0)
    else {
      def ratio(f: String): Double = {
        decode(Seq(f), hash = false); hadoopRead(f, hash = false) // warm both paths
        val ours = bestNs(5)(decode(Seq(f), hash = false))
        val theirs = bestNs(5)(hadoopRead(f, hash = false))
        theirs.toDouble / ours
      }
      Interop(agree, ratio(ownFile), ratio(hadoopFile))
    }
  }
}
