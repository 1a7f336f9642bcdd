package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import graft.{SparkEntry, Tables}
import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** analytics-suite: the declared queries over the generated tables. Set-up
  * is session + table cache + one untimed warm pass that also writes each
  * result for the DuckDB oracle (checked by run.py after this process);
  * the timed phase then runs whole passes over the queries in a seed-permuted
  * order until the run length is reached (at least one pass). */
final class AnalyticsWorkload(env: Env, trace: Trace) {
  private val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  private def dir: String = env.tablesDir.getOrElse(sys.error("analytics-suite needs --tables"))
  private val queryFns = SparkEntry.queries
  private def names: Seq[String] = env.queries

  private def runOne(spark: SparkSession, name: String): Unit =
    queryFns(name)(spark, dir).write.format("noop").mode("overwrite").save()

  /** Whole passes over `order` until the run length is reached (at least
    * one): per-query samples (seconds) and the failures seen. */
  private def timed(spark: SparkSession, order: Seq[String], listener: Option[AnalyticsListener])
      : (mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]], Set[String]) = {
    val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val failed = mutable.Set.empty[String]
    val t0 = System.nanoTime()
    val deadline = t0 + env.seconds * 1000000000L
    var i = 0
    while (i % order.size != 0 || i == 0 || System.nanoTime() < deadline) {
      val name = order(i % order.size)
      val q0 = System.nanoTime()
      val id = trace.newId()
      listener.foreach(_.currentQuery = id)
      try {
        runOne(spark, name)
        val q1 = System.nanoTime()
        trace.record(s"analytics.query", q0, q1, id = id)
        samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += (q1 - q0) / 1e9
      } catch { case e: Throwable =>
        failed += name
        System.err.println(s"[perfbench] $name failed in the timed pass: ${e.getMessage}")
      }
      i += 1
    }
    (samples, failed.toSet)
  }

  def run(): Result = {
    val result = new Result
    val spark = trace.span("setup.session")(_ => env.session())
    spark.range(1000000).selectExpr("sum(id)").collect() // JIT / codegen warm-up
    val sessionS = Jvm.sinceStartS
    val cacheS = trace.span("setup.table_cache") { _ =>
      val t0 = System.nanoTime()
      tables.foreach(t => Tables.t(spark, dir, t).write.format("noop").mode("overwrite").save())
      (System.nanoTime() - t0) / 1e9
    }
    // warm pass: every query once, results kept for the oracle, as
    // graft.Verify dumps them (its main owns and stops its own session)
    val results = env.workDir.resolve("results")
    val failed = mutable.LinkedHashMap.empty[String, String]
    val warmS = trace.span("setup.warm_pass") { _ =>
      val t0 = System.nanoTime()
      names.foreach { name =>
        try queryFns(name)(spark, dir).coalesce(1).write.mode("overwrite").parquet(results.resolve(name).toString)
        catch { case e: Throwable => failed(name) = s"${e.getClass.getSimpleName}: ${e.getMessage}" }
      }
      if (failed.nonEmpty) System.err.println(s"[perfbench] warm pass failures: ${failed.keys.mkString(",")}")
      (System.nanoTime() - t0) / 1e9
    }
    Files.createDirectories(results)
    val sel = names.toSet
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => sel(k) }
    names.filterNot(oracle.contains).foreach(n => failed.getOrElseUpdate(n, "no oracle SQL"))
    // the layout of graft.Verify's dump, which tools/check.py reads (run.py
    // runs it after this process and counts these failures too)
    val json = new ObjectMapper
    json.writeValue(results.resolve("oracle_sql.json").toFile, oracle.asJava)
    json.writeValue(results.resolve("failed.json").toFile, failed.asJava)

    val order = new scala.util.Random(env.seed).shuffle(names.filterNot(failed.contains))
    val gc0 = Jvm.gcMs
    val listener = if (env.trace) Some(new AnalyticsListener(trace)) else None
    val plain = if (env.trace) Some(timed(spark, order, None)) else None
    listener.foreach { l => spark.sparkContext.addSparkListener(l); spark.listenerManager.register(l) }
    val (samples, timedFailed) = timed(spark, order, listener)
    listener.foreach(_ => org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext))
    val gcMs = Jvm.gcMs - gc0
    val heap = Jvm.liveHeapMb

    result.attempted = names.size
    timedFailed.filterNot(failed.contains).foreach(_ => result.fail("timed pass threw"))
    val all = samples.values.flatten.toSeq
    val perQuery = samples.map { case (k, v) => k -> Stats.median(v) }
    val suiteS = perQuery.values.sum
    if (!env.trace) {
      // over each query's median time: every query counts once
      val medians = perQuery.values.toSeq
      result.put("ops_per_s", medians.size / suiteS, "1/s")
      result.put("latency_p50_ms", Stats.quantile(medians, 0.5) * 1e3, "ms")
      result.put("latency_tail_ms", Stats.quantile(medians, 0.9) * 1e3, "ms")
      result.put("live_heap_mb", heap, "MB")
      result.put("setup_s", sessionS + cacheS + warmS, "s")
      System.err.println(s"[perfbench] queries=${order.size} samples=${all.size} suite_s=$suiteS")
    } else {
      val l = listener.get
      val plainSuite = plain.get._1.values.map(v => Stats.median(v)).sum
      result.put("trace.overhead_frac", suiteS / plainSuite - 1, "ratio")
      result.put("failed_frac", result.failed.toDouble / math.max(result.attempted, 1L), "ratio")
      result.put("analytics.suite_s", suiteS, "s")
      result.put("analytics.plan_s", l.get("plan_s"), "s")
      result.put("analytics.exec_s", math.max(all.sum - l.get("plan_s"), 0.0), "s")
      Seq("scheduler_delay_s" -> "s", "jobs" -> "count", "stages" -> "count", "tasks" -> "count",
        "shuffle_read_mb" -> "MB", "shuffle_write_mb" -> "MB", "spill_mb" -> "MB",
        "exchanges" -> "count", "broadcast_exchanges" -> "count", "sort_merge_joins" -> "count",
        "sorts" -> "count", "expands" -> "count").foreach { case (k, u) =>
        result.put(s"analytics.$k", l.get(k), u)
      }
      "qectdsmp".foreach { f =>
        result.put(s"analytics.${f}_s", perQuery.filter(_._1.head == f).values.sum, "s")
      }
      result.put("setup.session_s", sessionS, "s")
      result.put("setup.table_cache_s", cacheS, "s")
      result.put("setup.warm_pass_s", warmS, "s")
      result.put("jvm.gc_ms", gcMs.toDouble, "ms")
    }
    spark.stop()
    result
  }
}
