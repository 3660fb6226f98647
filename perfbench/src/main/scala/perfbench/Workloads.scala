package perfbench

import java.io.File

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.api.SequenceFiles
import graft.operators.Dedup

/** Runs one query of an operation. Traced, a DataFrame query gets a `plan`
  * span (from `load()` to the executed plan) and an `execute` span, and the
  * connector's plan metrics are counted on the query. */
final class Runner(tracer: Tracer) {
  def collect(df: => DataFrame): Array[Row] =
    if (!tracer.on) df.collect()
    else {
      val d = tracer.span("plan") { val d = df; d.queryExecution.executedPlan; d }
      val rows = tracer.span("execute")(d.collect())
      scans(d.queryExecution.executedPlan).foreach { s =>
        Seq("numOutputRows" -> "rows_decoded",
            "seqfileZoneBlocksRead" -> "blocks_read",
            "seqfileZoneBlocksSkipped" -> "blocks_skipped").foreach { case (m, c) =>
          s.metrics.get(m).foreach(v => tracer.count(c, v.value.toDouble))
        }
      }
      tracer.count("rows_returned", rows.length)
      rows
    }

  /** A facade call that hides its DataFrame: one `execute` span. */
  def call[T](body: => T): T = tracer.span("execute")(body)

  private def scans(p: SparkPlan): Seq[BatchScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case b: BatchScanExec => Seq(b)
    case other => (other.children ++ other.subqueries).flatMap(scans)
  }
}

/** A query of an operation; `check` runs outside the timed window. */
final case class Query(name: String, run: Runner => Any, check: Any => Boolean)

/** One operation of the closed loop, and the input rows it covers. */
final case class Op(rows: Long, queries: Seq[Query])

/** Rows, files, blocks and bytes on disk of a workload's input. */
final case class InputSize(rows: Long, files: Long, blocks: Long, bytes: Long)

final case class Env(spark: SparkSession, data: String, seed: Long, work: File,
                     poison: Long)

abstract class Workload(val env: Env) {
  protected def spark: SparkSession = env.spark

  /** Builds the inputs; run several times, each build replacing the last. */
  def build(round: Int): Unit

  /** Computes the expected answers, outside the timed window. */
  def prepare(): Unit

  def next(): Op

  /** The input's size, and the seqfiles the codec probes decode. */
  def input: InputSize
  def seqFiles: Seq[String]

  /** Whether the named query decodes both key and value of every row it
    * reads. */
  def decodesAll(query: String): Boolean = true

  /** Bytes stored, sidecars included, per input row. */
  def bytesPerRow: Double = input.bytes.toDouble / input.rows
}

object Workload {
  def apply(name: String, env: Env): Workload = name match {
    case "scan" => new Scan(env)
    case "lookup" => new Lookup(env)
    case "dedup" => new DedupWorkload(env)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def rm(f: File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(rm)
    f.delete(): Unit
  }

  /** Size of a seqfile directory: data files, their blocks, and all bytes
    * stored there, sidecars included. */
  def sizeOf(dir: File, rows: Long): InputSize = {
    val all = Option(dir.listFiles()).getOrElse(Array.empty[File]).filter(_.isFile)
    val seq = seqFilesIn(dir)
    val blocks = seq.map { f =>
      val s = graft.core.seqfile.SeqFile.open(f, decodeKey = false, decodeValue = false)
      try s.size.toLong finally s.close()
    }.sum
    InputSize(rows, seq.size, blocks, all.map(_.length).sum)
  }

  def seqFilesIn(dir: File): Seq[String] =
    Option(dir.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.isFile && f.getName.endsWith(".seq")).map(_.getPath).sorted.toSeq

  /** 32 bits of a value's hash, so sums over millions of rows cannot
    * overflow under ANSI arithmetic. */
  def h32(c: Column): Column = xxhash64(c).bitwiseAND(lit(0xFFFFFFFFL))
}

/** Lineitem rows as (long key, `|`-joined Text value) in two replicas with
  * seeded key offsets. Offsets are 2^32 apart, above every base key, so
  * replicas share no key and their key ranges ascend with the replica;
  * within a replica keys repeat where the source repeats (orderkey,
  * linenumber). */
final class LineitemRows(env: Env) {
  val offsets: Array[Long] = {
    val rnd = new Random(env.seed)
    Array.tabulate(2)(r => (r.toLong << 32) + rnd.nextInt(1 << 30))
  }

  /** One partition per replica, as the source parquet is a single file. */
  def frame: DataFrame = {
    val li = env.spark.read.parquet(s"${env.data}/lineitem.parquet")
    val base = li.select(
      (col("l_orderkey") * 8 + col("l_linenumber")).as("k0"),
      concat_ws("|", Seq("l_partkey", "l_suppkey", "l_quantity", "l_extendedprice",
        "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate")
        .map(c => col(c).cast("string")): _*).as("value"))
    offsets.map(o => base.select((col("k0") + lit(o)).as("key"), col("value")))
      .reduce(_ union _)
  }

  /** count, sum(key), sum(h32(value)): the lineitem workloads' checksum. */
  def digest(df: DataFrame): DataFrame =
    df.agg(count(lit(1)), sum(col("key")), sum(Workload.h32(col("value"))))
}

/** `scan`: a lake written once with default options, one file per replica,
  * as a single writer leaves it. Each operation runs a full key+value
  * aggregate, a key-only aggregate and `SequenceFiles.recordCount`: the codec
  * and the connector's read path do nearly all the work, with no pruning and
  * a tiny shuffle. */
final class Scan(env: Env) extends Workload(env) {
  private val rows = new LineitemRows(env)
  private var dir: File = _
  private var full: Row = _
  private var keys: Row = _
  private var size: InputSize = _

  def build(round: Int): Unit = {
    if (dir != null) Workload.rm(dir)
    dir = new File(env.work, s"scan-lake-$round")
    SequenceFiles.write(rows.frame, dir.getPath)
  }

  private val keyAggs = Seq(sum(col("key")), max(col("key")))

  private def keyAgg(df: DataFrame): DataFrame = df.agg(keyAggs.head, keyAggs.tail: _*)

  /** Both expected aggregates in one pass over the source. */
  def prepare(): Unit = {
    val both = rows.frame.agg(count(lit(1)), (sum(col("key")) +: sum(Workload.h32(col("value"))) +:
      keyAggs): _*).head()
    full = Row(both.getLong(0), both.getLong(1), both.getLong(2))
    keys = Row(both.getLong(3), both.getLong(4))
    size = Workload.sizeOf(dir, full.getLong(0))
  }

  def input: InputSize = size
  def seqFiles: Seq[String] = Workload.seqFilesIn(dir)
  override def decodesAll(query: String): Boolean = query == "full_aggregate"

  def next(): Op = {
    val p = dir.getPath
    val n = full.getLong(0) + env.poison
    Op(3 * size.rows, Seq(
      Query("full_aggregate",
        r => r.collect(rows.digest(SequenceFiles.read(spark, p))).head,
        res => { val x = res.asInstanceOf[Row]
          x.getLong(0) == n && x.getLong(1) == full.getLong(1) &&
            x.getLong(2) == full.getLong(2) }),
      Query("key_aggregate",
        r => r.collect(keyAgg(SequenceFiles.read(spark, p))).head,
        res => { val x = res.asInstanceOf[Row]
          x.getLong(0) == keys.getLong(0) + env.poison && x.getLong(1) == keys.getLong(1) }),
      Query("record_count",
        r => r.call(SequenceFiles.recordCount(spark, p)),
        res => res == n)))
  }
}

/** `lookup`: the same rows written key-sorted with 64 KB blocks and key
  * Bloom filters. The client alternates narrow key-range queries and key
  * IN-list probes, so planning, sidecar reads, block pruning and per-query
  * driver overhead dominate, and the codec decodes only a few blocks. */
final class Lookup(env: Env) extends Workload(env) {
  // Each replica is one partition and replica key ranges ascend, so sorting
  // within partitions sorts the lake: one sorted file per replica, no shuffle.
  private val rows = new LineitemRows(env)
  private var dir: File = _
  private var keys: Array[Long] = _
  private var hashes: Array[Long] = _
  private var size: InputSize = _
  private val rnd = new Random(env.seed * 31 + 7)
  private var n = 0L

  def build(round: Int): Unit = {
    if (dir != null) Workload.rm(dir)
    dir = new File(env.work, s"lookup-lake-$round")
    rows.frame.sortWithinPartitions(col("key")).write.format("seqfile")
      .option("blockSize", 65536).option("bloomKeys", "true")
      .mode(SaveMode.Overwrite).save(dir.getPath)
  }

  /** The source rows' keys and value hashes, sorted by key, on the driver:
    * each query's expected answer is a binary search away. Keys repeat, as
    * (orderkey, linenumber) does in the source. */
  def prepare(): Unit = {
    val parts = rows.frame.select(col("key"), Workload.h32(col("value")))
      .sortWithinPartitions(col("key")).rdd.mapPartitions { it =>
        val ks = Array.newBuilder[Long]
        val hs = Array.newBuilder[Long]
        it.foreach { r => ks += r.getLong(0); hs += r.getLong(1) }
        Iterator((ks.result(), hs.result()))
      }.collect()
    keys = parts.flatMap(_._1)
    hashes = parts.flatMap(_._2)
    require(keys.indices.drop(1).forall(i => keys(i - 1) <= keys(i)),
      "replica key ranges must ascend with the partition order")
    size = Workload.sizeOf(dir, keys.length.toLong)
  }

  def input: InputSize = size
  def seqFiles: Seq[String] = Workload.seqFilesIn(dir)

  /** Index of the first source key that is not below `k`. */
  private def lowerBound(k: Long): Int = {
    var lo = 0
    var hi = keys.length
    while (lo < hi) { val m = (lo + hi) >>> 1; if (keys(m) < k) lo = m + 1 else hi = m }
    lo
  }

  /** (rows, sum of keys, sum of value hashes) of the source rows whose key
    * lies in one of the closed ranges. */
  private def expect(ranges: Seq[(Long, Long)]): (Long, Long, Long) = {
    val idx = ranges.distinct.flatMap { case (lo, hi) =>
      lowerBound(lo) until lowerBound(hi + 1) }
    (idx.size.toLong + env.poison, idx.map(keys(_)).sum, idx.map(hashes(_)).sum)
  }

  private def answer(res: Any): (Long, Long, Long) = {
    val rs = res.asInstanceOf[Array[Row]]
    (rs.length.toLong, rs.map(_.getLong(0)).sum, rs.map(_.getLong(1)).sum)
  }

  def next(): Op = {
    n += 1
    val p = dir.getPath
    def project(df: DataFrame) = df.select(col("key"), Workload.h32(col("value")))
    val q =
      if (n % 2 == 1) {
        val i = rnd.nextInt(keys.length)
        val j = math.min(keys.length - 1, i + rnd.nextInt(64))
        val (lo, hi) = (keys(i), keys(j))
        val want = expect(Seq((lo, hi)))
        Query("key_range",
          r => r.collect(project(SequenceFiles.read(spark, p)
            .filter(col("key").between(lo, hi)))),
          res => answer(res) == want)
      } else {
        // existing keys and arbitrary in-range values, most of them absent
        val probe = (Seq.fill(12)(keys(rnd.nextInt(keys.length))) ++
          Seq.fill(4)(keys(0) + (rnd.nextDouble() * (keys.last - keys(0))).toLong)).distinct
        val want = expect(probe.map(k => (k, k)))
        Query("key_in_list",
          r => r.collect(project(SequenceFiles.read(spark, p)
            .filter(col("key").isin(probe: _*)))),
          res => answer(res) == want)
      }
    Op(size.rows, Seq(q))
  }
}

/** `dedup`: the documents in three replicas with seeded per-replica text
  * perturbation (a third of a replica's tokens get a replica tag, so
  * near-duplicate pairs stay within a replica), written once as a seqfile
  * lake. Each operation runs `Dedup.exactDedup` and `Dedup.minHashLshPairs`
  * over the lake read through the connector: operator shuffles and hashing
  * kernels do the work, and the connector scans a small lake. */
final class DedupWorkload(env: Env) extends Workload(env) {
  private var dir: File = _
  private var exact: Row = _
  private var pairs: Set[(Long, Long)] = _
  private var size: InputSize = _

  private lazy val base: Array[(Long, String)] =
    spark.read.parquet(s"${env.data}/documents.parquet").select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))

  /** Replica r > 0 tags a token when a seeded hash of it and the two tokens
    * before it falls in one third of the range: near-duplicates share most
    * of their rewrites, replicas of one document fall well below the 0.8
    * threshold, and with hundreds of distinct contexts the tagged share
    * barely varies with the seed. */
  private def perturb(text: String, r: Int): String = {
    val toks = text.split("\\s+")
    def at(i: Int) = if (i < 0) "" else toks(i)
    toks.indices.map { i =>
      val h = scala.util.hashing.MurmurHash3.stringHash(s"${at(i - 2)} ${at(i - 1)} ${toks(i)}",
        (env.seed * 1000003 + r).toInt)
      if (Math.floorMod(h, 3) == 0) s"${toks(i)}~$r" else toks(i)
    }.mkString(" ")
  }

  private def docs: DataFrame = spark.createDataFrame(
    for (r <- 0 until 3; (id, text) <- base.toSeq)
      yield (id + r * 1000000000L, if (r == 0) text else perturb(text, r))
  ).toDF("doc_id", "text")

  def build(round: Int): Unit = {
    if (dir != null) Workload.rm(dir)
    dir = new File(env.work, s"dedup-lake-$round")
    SequenceFiles.write(docs.select(col("doc_id").as("key"), col("text").as("value")),
      dir.getPath)
  }

  private def exactSummary(df: DataFrame): DataFrame =
    Dedup.exactDedup(df, "doc_id", "text")
      .agg(count(lit(1)), countDistinct(col("fp")),
        sum(when(col("is_rep"), 1L).otherwise(0L)))

  private def pairSet(rs: Array[Row]): Set[(Long, Long)] =
    rs.map(r => (r.getLong(0), r.getLong(1))).toSet

  /** Exact answers from the parquet original: exactDedup, and the exact
    * word-3-gram Jaccard pairs at the 0.8 threshold. */
  def prepare(): Unit = {
    val src = docs
    exact = exactSummary(src).head()
    pairs = Jaccard.pairs(src.collect().map(r => (r.getLong(0), r.getString(1))).toSeq, 3, 0.8)
    size = Workload.sizeOf(dir, exact.getLong(0))
  }

  def input: InputSize = size
  def seqFiles: Seq[String] = Workload.seqFilesIn(dir)

  def next(): Op = {
    val p = dir.getPath
    def lake = SequenceFiles.read(spark, p)
      .select(col("key").as("doc_id"), col("value").as("text"))
    Op(size.rows, Seq(
      Query("exact_dedup",
        r => r.collect(exactSummary(lake)).head,
        res => { val x = res.asInstanceOf[Row]
          x.getLong(0) == exact.getLong(0) + env.poison &&
            x.getLong(1) == exact.getLong(1) && x.getLong(2) == exact.getLong(2) }),
      Query("minhash",
        r => r.collect(Dedup.minHashLshPairs(lake, "doc_id", "text", 3, 0.8)
          .select(col("id_a"), col("id_b"))),
        res => pairSet(res.asInstanceOf[Array[Row]]) == pairs && env.poison == 0)))
  }
}
