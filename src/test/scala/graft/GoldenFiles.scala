package graft

import graft.tools.GoldenFixtures

/** The golden fixtures the specs read: written by Hadoop's own
  * `SequenceFile.Writer` once per test JVM under `target/golden`.
  *
  * `reference` is the extra interop leg: the fixtures shipped in the
  * reference library's checkout (written by an older, native-snappy Hadoop),
  * at the `reference_path` that BASELINE.json records, whenever that
  * checkout's `tests/text-int.seq` is a file. */
object GoldenFiles {

  private lazy val written = GoldenFixtures.writeTo(new java.io.File("target/golden"))

  def textInt: String = written.textInt
  def longDouble: String = written.longDouble

  lazy val reference: Option[GoldenFixtures.Fixtures] = {
    val baseline = new java.io.File("BASELINE.json")
    val recorded =
      if (!baseline.isFile) None
      else "\"reference_path\"\\s*:\\s*\"([^\"]+)\"".r
        .findFirstMatchIn(new String(java.nio.file.Files.readAllBytes(baseline.toPath), "UTF-8"))
        .map(_.group(1))
    recorded.map(new java.io.File(_, "tests"))
      .filter(new java.io.File(_, "text-int.seq").isFile)
      .map(d => GoldenFixtures.Fixtures(s"$d/text-int.seq", s"$d/long-double.seq"))
  }
}
