package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Settings of one benchmark process (see run.py, which launches it). */
final case class Env(
    workload: String, seed: Long, seconds: Int, trace: Boolean, cpus: Int,
    workDir: Path, tablesDir: Option[String], queries: Seq[String]) {

  def session(master: String = s"local[$cpus]"): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName(s"perfbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.local.dir", workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

/** What a workload reports: the checker's verdict and named metrics. */
final class Result {
  var attempted = 0L
  var failed = 0L
  val causes = mutable.LinkedHashMap.empty[String, Long]
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def fail(cause: String, n: Long = 1): Unit = if (n > 0) {
    failed += n
    causes(cause) = causes.getOrElse(cause, 0L) + n
  }

  def json: String = {
    def num(v: Double): String =
      if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)
    def str(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    } + "\""
    val ms = metrics.map { case (k, (v, u)) => s"""${str(k)}:{"value":${num(v)},"unit":${str(u)}}""" }
    val cs = causes.map { case (k, v) => s"${str(k)}:$v" }
    s"""{"correct":${failed == 0 && attempted > 0},"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":{${ms.mkString(",")}},"causes":{${cs.mkString(",")}}}"""
  }
}

object Jvm {
  def sinceStartS: Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(b.getCollectionTime, 0L)).sum

  /** Live heap in MiB after forced full collections; the pauses let
    * Spark's ContextCleaner drop blocks whose owners the previous GC freed. */
  def liveHeapMb: Double = {
    var i = 0
    while (i < 3) { System.gc(); Thread.sleep(200); i += 1 }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}

/** Entry point: `Main --workload W --seed N --seconds S --trace 0|1 --cpus C
  * --work DIR [--tables DIR --queries a,b,...]`. Prints one line
  * `PERFBENCH_RESULT {json}` on success. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val env = Env(
      workload = opts("workload"),
      seed = opts("seed").toLong,
      seconds = opts("seconds").toInt,
      trace = opts.get("trace").contains("1"),
      cpus = opts("cpus").toInt,
      workDir = Paths.get(opts("work")).toAbsolutePath,
      tablesDir = opts.get("tables"),
      queries = opts.get("queries").toSeq.flatMap(_.split(',')).filter(_.nonEmpty))
    Files.createDirectories(env.workDir)
    val trace = new Trace(env.trace, s"${env.workload}-${env.seed}-${ProcessHandle.current().pid()}")
    // a workload that throws must end the process at once: Spark's
    // non-daemon threads would otherwise keep it alive until run.py's deadline
    val result =
      try env.workload match {
        case "cdc-catchup" => new CdcWorkload(env, trace, new CatchupTraffic(env.seed)).run()
        case "cdc-paced" => new CdcWorkload(env, trace, new PacedTraffic(env.seed)).run()
        case "analytics-suite" => new AnalyticsWorkload(env, trace).run()
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          System.err.flush()
          Runtime.getRuntime.halt(1)
          throw e
      }
    if (env.trace) {
      trace.write(env.workDir.resolve("spans.jsonl"))
      val self = trace.selfTimeMs
      val counts = trace.spanCounts
      System.err.println("[perfbench] layer self time (ms) and span counts:")
      self.toSeq.sortBy(-_._2).foreach { case (layer, ms) =>
        System.err.println(f"[perfbench]   $layer%-10s $ms%12.1f ${counts.getOrElse(layer, 0)}%8d")
      }
      Seq("mysql", "streaming", "cdc", "kafka", "sources", "analytics", "setup").foreach { l =>
        result.put(s"$l.self_ms", self.getOrElse(l, 0.0), "ms")
        result.put(s"$l.spans", counts.getOrElse(l, 0).toDouble, "count")
      }
    }
    System.out.println("PERFBENCH_RESULT " + result.json)
    System.out.flush()
    // non-daemon Spark/Netty threads must not keep the process alive
    Runtime.getRuntime.halt(0)
  }
}
