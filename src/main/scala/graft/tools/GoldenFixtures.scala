package graft.tools

import java.io.{File, FileOutputStream}
import java.nio.file.{Files, StandardCopyOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FSDataOutputStream
import org.apache.hadoop.io.{DoubleWritable, IntWritable, LongWritable, SequenceFile, Text, Writable}
import org.apache.hadoop.io.SequenceFile.CompressionType
import org.apache.hadoop.io.compress.SnappyCodec
import org.apache.hadoop.util.ReflectionUtils

/** The golden interop fixtures, written by Hadoop's own
  * `SequenceFile.Writer` (BLOCK + `SnappyCodec`) with the reference's
  * generator shape (reference: tests/MakeSequenceFiles.java:16-27):
  *
  *  - `text-int.seq`: `Text` keys `F%07d` over 0..99999, `IntWritable`
  *    values uniform in 0..100 — 100,000 records in 2 blocks;
  *  - `long-double.seq`: `LongWritable` keys 0..99999, `DoubleWritable`
  *    values in [0, 1000) — 2 blocks.
  *
  * Values come from a fixed seed, so one Hadoop version always writes the
  * same records. Used by the golden specs and by `DecodeBench`.
  */
object GoldenFixtures {

  val Records = 100000
  val Seed = 42L

  final case class Fixtures(textInt: String, longDouble: String)

  /** Write both fixtures into `dir` (created if needed) and return their
    * paths. Each file is written under a temporary name and moved into
    * place, so concurrent writers never expose a torn file. */
  def writeTo(dir: File): Fixtures = {
    dir.mkdirs()
    val rnd = new java.util.Random(Seed)
    val textInt = write(dir, "text-int.seq", new Text, new IntWritable) { (k, v, i) =>
      k.set(f"F$i%07d"); v.set(rnd.nextInt(101))
    }
    val longDouble = write(dir, "long-double.seq", new LongWritable, new DoubleWritable) {
      (k, v, i) => k.set(i.toLong); v.set(rnd.nextDouble() * 1000)
    }
    Fixtures(textInt, longDouble)
  }

  private def write[K <: Writable, V <: Writable](dir: File, name: String, k: K, v: V)
                                                 (fill: (K, V, Int) => Unit): String = {
    val conf = new Configuration()
    val tmp = File.createTempFile(s".$name", ".tmp", dir)
    val out = new FSDataOutputStream(new FileOutputStream(tmp), null)
    val w = SequenceFile.createWriter(conf,
      SequenceFile.Writer.stream(out),
      SequenceFile.Writer.keyClass(k.getClass),
      SequenceFile.Writer.valueClass(v.getClass),
      SequenceFile.Writer.compression(CompressionType.BLOCK,
        ReflectionUtils.newInstance(classOf[SnappyCodec], conf)))
    try (0 until Records).foreach { i => fill(k, v, i); w.append(k, v) }
    finally { w.close(); out.close() }
    val target = new File(dir, name)
    Files.move(tmp.toPath, target.toPath,
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    target.getAbsolutePath
  }
}
