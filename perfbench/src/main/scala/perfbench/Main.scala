package perfbench

import java.io.File

import scala.util.Try

import org.apache.spark.sql.SparkSession

/** One benchmark run: one workload, one seed, one process. A single client
  * thread runs operations in a closed loop against `local[nproc]` for the
  * given number of seconds, checks every answer, and prints one JSON object
  * as the last line of standard output: the end-to-end metrics, or with
  * `--trace 1` the per-layer metrics of a separate traced pass.
  *
  * Usage: Main --workload scan|lookup|dedup --seed N --seconds S
  *             --trace 0|1 --data DIR --work DIR [--poison]
  *
  * `--poison` shifts every expected answer, for the self-test.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        data: String, work: File, poison: Boolean)

  private def parse(a: Array[String]): Args = {
    val kv = a.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", need("--data"), new File(need("--work")),
      a.contains("--poison"))
  }

  def loadavg: String =
    Try(scala.io.Source.fromFile("/proc/loadavg").getLines().next().trim).getOrElse("")

  /** Heat sentinel: milliseconds of a fixed single-thread integer loop. The
    * machine's speed drifts with its neighbours' load, and this shows it
    * beside the figures. */
  def calibrationMs: Double = {
    val t = System.nanoTime()
    var x = 88172645463325252L
    var i = 0
    while (i < 100000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    require(x != 0)
    (System.nanoTime() - t) / 1e6
  }

  /** Heap still in use after a full collection: what the session, the
    * workload's inputs and whatever the program keeps cached retain. */
  def heapRetainedMb: Double = {
    // Spark's context cleaner drops shuffle and broadcast state once a
    // collection has cleared their references, so collect again after it ran
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Peak resident set of this JVM. */
  def rssPeakMb: Double =
    Try(scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).get.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)

  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = p * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  final case class Loop(latMs: Vector[Double], rows: Long, busyNs: Long,
                        attempted: Int, failed: Int) {
    def ops: Int = latMs.size
  }

  /** Runs operations until `seconds` have passed, then the one in flight
    * ends. Answers are checked after the operation's time is taken. */
  def loop(w: Workload, seconds: Double, tracer: Tracer, minOps: Int = 1): Loop = {
    val runner = new Runner(tracer)
    val lat = Vector.newBuilder[Double]
    var rows, busy = 0L
    var attempted, failed, ops = 0
    val t0 = System.nanoTime()
    while (ops < minOps || System.nanoTime() - t0 < seconds * 1e9) {
      val op = w.next()
      val start = System.nanoTime()
      val results = tracer.span("iteration") {
        op.queries.map(q => q -> tracer.span("query", q.name)(Try(q.run(runner))))
      }
      val dt = System.nanoTime() - start
      ops += 1
      lat += dt / 1e6
      busy += dt
      rows += op.rows
      results.foreach { case (q, res) =>
        attempted += 1
        val ok = res.toOption.exists(v => Try(q.check(v)).getOrElse(false))
        if (!ok) {
          failed += 1
          System.err.println(s"perfbench: ${q.name} failed: " +
            res.failed.map(_.toString).getOrElse("wrong answer"))
        }
      }
    }
    Loop(lat.result(), rows, busy, attempted, failed)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors()
    val master = s"local[$cores]"
    a.work.mkdirs()
    val loadBefore = loadavg
    val calibBefore = calibrationMs

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(master)
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.log.level", "WARN")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(a.work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(a.work, "warehouse").getPath)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // one read split per parquet file, so each lineitem replica is one
      // partition and the scan lake is one file per replica
      .config("spark.sql.files.minPartitionNum", "1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val env = Env(spark, a.data, a.seed, a.work, if (a.poison) 1L else 0L)
    val w = Workload(a.workload, env)
    // traced, the builds give the connector's write-path metrics
    val tracer = new Tracer(a.trace)
    tracer.attach(spark)
    val buildS = (1 to 3).map { i =>
      val t = System.nanoTime()
      tracer.span("build", a.workload)(w.build(i))
      (System.nanoTime() - t) / 1e9
    }
    tracer.detach(spark)
    val setupS = sessionS + percentile(buildS, 0.5)

    val te = System.nanoTime()
    w.prepare()
    val prepareS = (System.nanoTime() - te) / 1e9
    val interopRows = Codec.records(w.seqFiles, 100000)
    val interop = Codec.interop(new File(a.work, "interop"), interopRows, env.poison,
      timeReaders = a.trace)
    val expectedS = (System.nanoTime() - te) / 1e9

    // JIT and codegen warm-up, not measured
    val tw = System.nanoTime()
    loop(w, math.min(3.0, a.seconds / 3), new Tracer(false), minOps = 2)
    val warmS = (System.nanoTime() - tw) / 1e9

    val tl = System.nanoTime()
    val untraced = loop(w, a.seconds, new Tracer(false))
    val loopS = (System.nanoTime() - tl) / 1e9
    val traced =
      if (!a.trace) None
      else {
        tracer.attach(spark)
        val l = tracer.span("workload", a.workload)(loop(w, a.seconds, tracer))
        tracer.detach(spark)
        Some((l, tracer.finish(spark)))
      }
    val loadAfter = loadavg
    val calibAfter = calibrationMs
    val input = w.input

    val attempted = untraced.attempted + traced.map(_._1.attempted).getOrElse(0) + 1
    val failed = untraced.failed + traced.map(_._1.failed).getOrElse(0) +
      (if (interop.agree) 0 else 1)
    if (!interop.agree) System.err.println("perfbench: interop digests disagree")

    val metrics: Seq[(String, Double, String)] = traced match {
      case None => Seq(
        ("setup_s", setupS, "s"),
        ("rows_per_s", untraced.rows / (untraced.busyNs / 1e9), "1/s"),
        ("latency_p50_ms", percentile(untraced.latMs, 0.5), "ms"),
        ("latency_p90_ms", percentile(untraced.latMs, 0.9), "ms"),
        ("bytes_per_row", w.bytesPerRow, "B"),
        ("heap_retained_mb", heapRetainedMb, "MB"))
      case Some((l, trace)) =>
        val t = new java.io.PrintWriter(new File(a.work.getParentFile,
          s"trace-${a.workload}-seed${a.seed}.json"))
        try t.write(trace.toJson) finally t.close()
        Layers.metrics(w, trace, l, untraced, interop, cores)
    }

    val info = Json.obj(Seq(
      "workload" -> Json.str(a.workload), "seed" -> a.seed.toString,
      "nproc" -> cores.toString, "master" -> Json.str(master),
      "loadavg_before" -> Json.str(loadBefore), "loadavg_after" -> Json.str(loadAfter),
      "calibration_ms" -> Seq(calibBefore, calibAfter).map(Json.num).mkString("[", ",", "]"),
      "input" -> Json.obj(Seq("rows" -> input.rows.toString, "files" -> input.files.toString,
        "blocks" -> input.blocks.toString, "bytes" -> input.bytes.toString)),
      "session_s" -> Json.num(sessionS),
      "build_s" -> buildS.map(Json.num).mkString("[", ",", "]"),
      "expected_s" -> Json.num(expectedS),
      "prepare_s" -> Json.num(prepareS),
      "warmup_s" -> Json.num(warmS),
      "loop_s" -> Json.num(loopS),
      "ops" -> untraced.ops.toString,
      "latency_ms" -> untraced.latMs.map(Json.num).mkString("[", ",", "]"),
      "rss_peak_mb" -> Json.num(rssPeakMb),
      "failed_frac" -> Json.num(failed.toDouble / attempted)))
    println(Json.obj(Seq("perfbench" -> info)))

    spark.stop()
    val correct = failed == 0 && metrics.forall(m => !m._2.isNaN && !m._2.isInfinite)
    println(Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }))))
  }
}
