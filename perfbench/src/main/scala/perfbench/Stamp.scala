package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.SparkSession
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

/**
 * The configuration stamp printed with every result. A run is
 * `canonical` only when nothing outside the benchmark changed the
 * engine's behaviour: no `SPARK_GRAFT_EXTRA_CONF`, no engine-reading
 * `SPARK_GRAFT_*` override, no inherited Spark conf. A non-canonical
 * run still measures, but is never recorded as a baseline.
 */
object Stamp {

  /** Read only by the engine's own entry points (Bench, Verify,
    * ScaleUp, examples), none of which the benchmark calls. */
  private val MainOnlyEnv = Set("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_BENCH_HEAP_MB",
    "SPARK_GRAFT_BENCH_GC", "SPARK_GRAFT_IDLE_WAIT_SEC", "SPARK_GRAFT_MAX_LOADAVG")

  /** Conf keys Spark fills in itself (ids, ports, clocks, defaults). */
  private def sparkFilled(key: String) = Volatile(key) || key.startsWith("spark.hadoop.fs.s3a.vectored.")
  private val Volatile = Set("spark.app.id", "spark.app.name", "spark.master", "spark.driver.host",
    "spark.driver.port", "spark.executor.id", "spark.app.startTime", "spark.app.submitTime",
    "spark.submit.deployMode", "spark.submit.pyFiles", "spark.sql.catalogImplementation",
    "spark.driver.extraJavaOptions", "spark.executor.extraJavaOptions", "spark.app.initial.jar.urls")

  def baseConf(cores: Int, dir: Path): Map[String, Any] = Map(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.ui.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.local.dir" -> dir.resolve("spark-local").toString,
    "spark.sql.warehouse.dir" -> dir.resolve("warehouse").toString)

  /** `SPARK_GRAFT_EXTRA_CONF="k=v;k=v"`: the engine's A/B hook, honoured
    * here too so an A/B run is comparable, and stamped. */
  def extraConf(): Seq[(String, String)] =
    sys.env.getOrElse("SPARK_GRAFT_EXTRA_CONF", "").split(';').toSeq.map(_.trim).filter(_.nonEmpty)
      .map { kv =>
        val i = kv.indexOf('=')
        require(i > 0, s"SPARK_GRAFT_EXTRA_CONF entry '$kv' is not key=value")
        kv.take(i).trim -> kv.drop(i + 1).trim
      }

  def loadavg(): Seq[Double] =
    Try(new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim.split("\\s+").take(3)
      .map(_.toDouble).toSeq).getOrElse(Nil)

  /** Peak resident set of this process (VmHWM), in MiB. */
  def peakRssMb(): Double =
    Try(Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).get.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(throw new IllegalStateException("peak RSS is read from /proc/self/status (Linux only)"))

  def stamp(spark: SparkSession, args: Main.Args, loadavg: Seq[Double],
      extra: Seq[(String, String)]): Map[String, Any] = {
    val base = baseConf(args.cores, args.workDir)
    val conf = spark.sparkContext.getConf.getAll.toSeq.filterNot(kv => sparkFilled(kv._1)).sortBy(_._1)
    val inherited = conf.filterNot { case (k, _) => base.contains(k) || extra.exists(_._1 == k) }
    val env = sys.env.toSeq.filter(_._1.startsWith("SPARK_GRAFT_")).sortBy(_._1)
    val engineEnv = env.filterNot { case (k, _) => MainOnlyEnv(k) || k == "SPARK_GRAFT_EXTRA_CONF" }
    val rt = ManagementFactory.getRuntimeMXBean
    Map(
      "workload" -> args.workload,
      "seed" -> args.seed,
      "size" -> args.size.toString,
      "seconds" -> args.seconds,
      "cpus" -> args.cores,
      "heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "gc" -> ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getName).toSeq,
      "jvm_args" -> rt.getInputArguments.asScala.filterNot(_.startsWith("--add-opens")).toSeq,
      "spark_version" -> spark.version,
      "jdk" -> System.getProperty("java.runtime.version"),
      "loadavg_start" -> loadavg,
      "spark_conf" -> conf.toMap,
      "extra_conf" -> extra.toMap,
      "inherited_conf" -> inherited.toMap,
      "env" -> env.toMap,
      "canonical" -> (extra.isEmpty && engineEnv.isEmpty && inherited.isEmpty))
  }

  /** Writes the spans of a traced run next to the build output. */
  def writeSpans(args: Main.Args, spans: Seq[Map[String, Any]]): String = {
    val out = args.workDir.getParent.resolve("perfbench-trace")
      .resolve(s"${args.workload}-seed${args.seed}.json")
    Files.createDirectories(out.getParent)
    Files.write(out, Json.obj("spans" -> spans).getBytes("UTF-8"))
    out.toString
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator.asScala.toSeq.reverse.foreach(f => Files.deleteIfExists(f))
}

/** The benchmark's JSON output, written with the json4s that ships with Spark. */
object Json {
  private implicit val formats: Formats = DefaultFormats

  def obj(kv: (String, Any)*): String = Serialization.write(ListMap(kv: _*))

  /** The result line: every metric a finite number with all its digits. */
  def result(r: Main.Result): String = {
    r.metrics.foreach { case (m, v) => require(!v.isNaN && !v.isInfinite, s"${m.name} is $v") }
    obj("correct" -> r.correct, "attempted" -> r.attempted, "failed" -> r.failed,
      "metrics" -> ListMap(r.metrics.map { case (m, v) => m.name -> ListMap("value" -> v, "unit" -> m.unit) }: _*))
  }
}
