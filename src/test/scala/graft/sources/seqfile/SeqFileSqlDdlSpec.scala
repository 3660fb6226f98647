package graft.sources.seqfile

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** SQL-surface access: CREATE TABLE ... USING seqfile, SELECT/INSERT. */
class SeqFileSqlDdlSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("CREATE TABLE USING seqfile over the golden fixture; SQL queries work") {
    spark.sql("DROP TABLE IF EXISTS seq_golden")
    spark.sql(
      s"""CREATE TABLE seq_golden (key STRING, value INT) USING seqfile
         |OPTIONS (path '${graft.GoldenFiles.textInt}')""".stripMargin)
    val r = spark.sql(
      "SELECT count(*) n, min(key) mn, max(key) mx, avg(value) av FROM seq_golden").head()
    assert(r.getLong(0) === 100000L)
    assert(r.getString(1) === "F0000000")
    assert(r.getString(2) === "F0099999")
    assert(math.abs(r.getDouble(3) - 50.0) < 2.0)
    spark.sql("DROP TABLE seq_golden")
  }

  test("INSERT INTO a seqfile table through SQL") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("sqlseq").toString
    spark.sql("DROP TABLE IF EXISTS seq_sink")
    spark.sql(
      s"""CREATE TABLE seq_sink (key BIGINT, value STRING) USING seqfile
         |OPTIONS (path '$dir')""".stripMargin)
    spark.sql("INSERT INTO seq_sink SELECT id AS key, concat('v', id) AS value FROM range(1000)")
    assert(spark.sql("SELECT count(*) FROM seq_sink").head().getLong(0) === 1000L)
    // files really are sequence files
    val part = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".seq"))
    assert(part.nonEmpty)
    assert(graft.core.seqfile.SeqFile.readHeader(part.head.toString).keyClass
      === "org.apache.hadoop.io.LongWritable")
    spark.sql("DROP TABLE seq_sink")
  }

  test("SQL over a hive-partitioned seqfile table filters by partition column") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sqlpart").toString
    for (rf <- Seq("A", "R")) {
      (0 until 20).map(i => (i.toLong, s"$rf$i")).toDF("key", "value")
        .coalesce(1).write.format("seqfile").mode("overwrite").save(s"$root/rf=$rf")
    }
    spark.sql("DROP TABLE IF EXISTS seq_part")
    spark.sql(
      s"""CREATE TABLE seq_part (key BIGINT, value STRING, rf STRING)
         |USING seqfile OPTIONS (path '$root')""".stripMargin)
    assert(spark.sql("SELECT count(*) FROM seq_part").head().getLong(0) === 40L)
    val r = spark.sql(
      "SELECT rf, count(*) n FROM seq_part WHERE rf = 'R' GROUP BY rf").head()
    assert((r.getString(0), r.getLong(1)) === ("R", 20L))
    spark.sql("DROP TABLE seq_part")
  }

  test("streaming sink via foreachBatch writes seqfile output") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val outDir = java.nio.file.Files.createTempDirectory("streamsink").toString
    val q = stream.toDF().toDF("key", "value")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        batch.write.format("seqfile").mode("append").save(outDir)
      }
      .start()
    stream.addData((1L, "a"), (2L, "b"))
    q.processAllAvailable()
    stream.addData((3L, "c"))
    q.processAllAvailable()
    q.stop()
    assert(spark.read.format("seqfile").load(outDir).count() === 3L)
  }
}
