package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/**
 * The benchmark. One JVM runs one workload on `local[cores]`:
 *
 *   set-up   session start, seeded input generation + parquet write +
 *            reference, an untimed warm-up pass (two when traced);
 *   measure  back-to-back passes (a closed loop, one client) until
 *            `--seconds` have elapsed, at least two (four when traced);
 *            every pass is checked.
 *
 * With `--trace 0` it prints the end-to-end metrics; with `--trace 1`
 * it alternates untraced and traced passes and prints the per-layer
 * metrics of the traced ones plus the tracing overhead. The last line
 * of stdout is the result object; a stamp line before it records the
 * configuration the numbers belong to.
 *
 *   perfbench.Main --workload graph_loops --seed 1 --seconds 5 --trace 0
 *     [--work-dir DIR]
 *
 * Spark runs on `local[N]` with N the JVM's available processors,
 * which follow CPU affinity and cgroup limits.
 */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      cores: Int, workDir: Path, size: Size = Size.full)

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t   => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
    }
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, trace,
      Runtime.getRuntime.availableProcessors(),
      Paths.get(kv.getOrElse("work-dir", ".bench_build/perfbench-work")).toAbsolutePath)
  }

  /** The result of one run, before printing. */
  final case class Result(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(Metrics.M, Double)])

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    require(Workload.names.contains(args.workload),
      s"unknown workload '${args.workload}' (expected one of ${Workload.names.mkString(", ")})")
    val (result, stamp, trace) = run(args)
    println(Json.obj("stamp" -> stamp))
    trace.foreach(t => println(Json.obj("trace" -> t)))
    println(Json.result(result))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private def now(): Double = System.nanoTime() / 1e9

  /** Runs one workload; returns the result, the config stamp and, when
    * traced, the full span breakdown. */
  def run(args: Args): (Result, Map[String, Any], Option[Map[String, Any]]) = {
    val loadavg = Stamp.loadavg()
    val extra = Stamp.extraConf()
    val dir = args.workDir.resolve(s"${args.workload}-${args.seed}-${ProcessHandle.current().pid()}")
    val builder = SparkSession.builder()
      .appName(s"perfbench-${args.workload}")
      .master(s"local[${args.cores}]")
      .config(Stamp.baseConf(args.cores, dir))
    extra.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    try {
      spark.sparkContext.setLogLevel("WARN")
      val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
      val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
      val tracer = new Tracer(spark, args.trace)

      val wl = Workload(args.workload, Ctx(spark, dir.resolve("input"), args.seed, args.size, tracer))
      val prepT0 = now()
      wl.prepare()
      val prepareS = now() - prepT0
      var attempted = 0
      var failed = 0
      val leaks = ArrayBuffer.empty[(Double, Double)]

      def onePass(traced: Boolean): (Double, Option[PassTrace]) = {
        attempted += 1
        tracer.beginPass(traced)
        val t0 = now()
        val err =
          try wl.pass()
          catch { case e: Exception => Some(s"${e.getClass.getName}: ${e.getMessage}") }
        val wall = now() - t0
        val pt = tracer.endPass(wall)
        err.foreach { e => failed += 1; System.err.println(s"[perfbench] pass $attempted failed: $e") }
        // leak probe, after the pass released what it persisted and the
        // session cache was cleared
        spark.catalog.clearCache()
        val sc = spark.sparkContext
        leaks += ((sc.getPersistentRDDs.size.toDouble,
          sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0))
        // every pass starts from a collected heap, so neither its time
        // nor the peak resident set depends on when the previous pass's
        // garbage happened to be collected
        System.gc()
        (wall, pt)
      }

      // untimed warm-up: a fresh JVM's first pass pays for JIT and code
      // generation, which can double its time, and the next is still a
      // little slow. Traced runs compare pass times within the run, so
      // they skip that second pass too
      val warmup = (1 to (if (args.trace) 2 else 1)).map(_ => onePass(traced = false)._1)
      val setupS = sessionS + prepareS + warmup.sum
      leaks.clear()

      val untraced = ArrayBuffer.empty[Double]
      val traced = ArrayBuffer.empty[PassTrace]
      val tracedLeaks = ArrayBuffer.empty[(Double, Double)]
      val deadline = now() + args.seconds
      // closed loop: the next pass starts when the previous one ends,
      // and at least two are timed, so a run that is slower than the
      // window still reports a median of the same shape. Traced runs
      // interleave untraced (U) and traced (T) passes as U T T U U T T U
      // ..., at least one full cycle, so both kinds see the same drift
      val minPasses = if (args.trace) 4 else 2
      var i = 0
      while (i < minPasses || now() < deadline) {
        val tracedPass = args.trace && (i % 4 == 1 || i % 4 == 2)
        val (wall, pt) = onePass(tracedPass)
        if (tracedPass) { traced ++= pt; tracedLeaks += leaks.last } else untraced += wall
        i += 1
      }
      val peakRssMb = Stamp.peakRssMb()
      val wallS = median(untraced.toSeq)

      val scoreRows = wl match { case m: MlPipeline => m.scoreRows; case _ => 0L }
      val perPass = traced.map(Metrics.layerValues(_, args.cores, scoreRows))
      def layerMedian(m: Metrics.M) = median(perPass.map(_.getOrElse(m.name, 0.0)).toSeq)
      val metrics: Seq[(Metrics.M, Double)] =
        if (!args.trace) {
          val values = Map("wall_s" -> wallS, "rows_per_s" -> wl.inputRows / wallS,
            "peak_rss_mb" -> peakRssMb, "setup_s" -> setupS)
          Metrics.endToEnd.map(m => m -> values(m.name))
        } else {
          val leakValues = Map(
            "spark.persisted_rdds_after" -> tracedLeaks.map(_._1).max,
            "spark.storage_mb_after" -> tracedLeaks.map(_._2).max,
            "trace_overhead_share" -> (median(traced.map(_.wallS).toSeq) / wallS - 1.0))
          Metrics.perLayer.map(m => m -> leakValues.getOrElse(m.name, layerMedian(m)))
        }

      val inputBytes = Files.walk(dir.resolve("input")).iterator.asScala
        .filter(Files.isRegularFile(_)).map(Files.size(_)).sum
      val stamp = Stamp.stamp(spark, args, loadavg, extra) ++ Map(
        "input_rows" -> wl.inputRows, "input_bytes" -> inputBytes,
        "passes_timed" -> untraced.length, "passes_traced" -> traced.length,
        "pass_walls_s" -> untraced.toSeq, "session_s" -> sessionS,
        "prepare_s" -> prepareS, "warmup_passes_s" -> warmup)
      val traceOut = Option.when(args.trace) {
        val spans = tracer.spans.map(s => Map("name" -> s.name, "path" -> s.path, "parent" -> s.parent,
          "pass" -> s.pass, "start_ms" -> s.startMs, "end_ms" -> s.endMs, "plan_only" -> s.planOnly))
        Map[String, Any](
          "plan_only_spans" -> tracer.spans.filter(_.planOnly).map(_.name).distinct.toSeq,
          "plan_only_note" -> ("spans marked plan_only time a lazy call's plan building only; " +
            "the jobs that execute their output are counted in the span of the action that runs them"),
          "span_s_per_pass" -> perPass.map(_.filter(_._1.endsWith("_s")).toSeq.sortBy(_._1).toMap).toSeq,
          "spans_file" -> Stamp.writeSpans(args, spans.toSeq))
      }
      (Result(failed == 0, attempted, failed, metrics), stamp, traceOut)
    } finally {
      spark.stop()
      Stamp.deleteTree(dir)
    }
  }
}
