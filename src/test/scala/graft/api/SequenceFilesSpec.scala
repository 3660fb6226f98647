package graft.api

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

class SequenceFilesSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  val textInt = graft.GoldenFiles.textInt

  test("typed read: Dataset[(String, Int)] parity with the reference's typed decode") {
    import spark.implicits._
    val ds = SequenceFiles.readTyped[String, Int](spark, textInt)
    val first = ds.orderBy("_1").head()
    assert(first._1 === "F0000000")
    assert(SequenceFiles.recordCount(spark, textInt) === 100000L)
  }

  test("typed read with wrong types fails like the reference's schema check") {
    import spark.implicits._
    val ex = intercept[Exception] {
      SequenceFiles.readTyped[Long, Double](spark, textInt).count()
    }
    def msgs(t: Throwable): String =
      if (t == null) "" else t.getMessage + " | " + msgs(t.getCause)
    assert(msgs(ex).contains("mismatch") || msgs(ex).contains("CAST"))
  }

  test("facade write + read round-trip") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("apiwrite").toString
    val df = (0 until 500).map(i => (s"k$i", i.toDouble)).toDF("key", "value")
    SequenceFiles.write(df, dir)
    val back = SequenceFiles.readTyped[String, Double](spark, dir)
    assert(back.count() === 500L)
    assert(back.filter(_._1 == "k7").head()._2 === 7.0)
  }
}
