package perfbench

import graft.cdc._
import graft.kafka.{KafkaBroker, KafkaTopicClient}
import graft.streaming.Replay
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.locks.LockSupport
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.util.hashing.MurmurHash3

/** Canonical hashes of a transaction's content, shared by the expected
  * (generator) and delivered (topic) sides: one over the column lists, one
  * over kinds and row images. */
object CdcCheck {
  final case class RowView(kind: String, db: String, table: String, cols: Seq[String],
      before: Option[Seq[Option[String]]], after: Option[Seq[Option[String]]])

  private def h64(s: String): Long =
    (MurmurHash3.stringHash(s, 0x1234567).toLong << 32) | (MurmurHash3.stringHash(s, 0x7654321) & 0xffffffffL)

  def rowsHash(rows: Seq[RowView]): (Long, Long) = {
    val cols = new StringBuilder
    val vals = new StringBuilder
    def img(v: Option[Seq[Option[String]]]): Unit = v match {
      case None => vals.append("\u0002")
      case Some(xs) => xs.foreach { x => vals.append(x.getOrElse("\u0000N")).append('\u0001') }
    }
    rows.foreach { r =>
      cols.append(r.db).append('.').append(r.table).append(':').append(r.cols.mkString(",")).append('|')
      vals.append(r.kind).append(':'); img(r.before); vals.append('/'); img(r.after); vals.append('|')
    }
    (h64(cols.toString), h64(vals.toString))
  }

  def ddlHash(db: String, stmt: String): (Long, Long) = (0L, h64(s"ddl|$db|$stmt"))

  /** Expected content of a transaction after the wire sink's table filter:
    * None when the filter leaves nothing to deliver. */
  def expected(t: BinlogGen.Trx, filter: CanalTableFilter): Option[(Long, Long)] = t match {
    case BinlogGen.Ddl(_, db, stmt) => Some(ddlHash(db, stmt))
    case BinlogGen.Dml(_, rows) =>
      val kept = rows.filter(r => filter.matches(r.tbl.db, r.tbl.name))
      if (kept.isEmpty) None
      else Some(rowsHash(kept.map(r =>
        RowView(r.kind, r.tbl.db, r.tbl.name, r.tbl.cols.map(_.name), r.before, r.after))))
  }
}

/** The benchmark's consumer: polls the sink topic over the Kafka wire,
  * decodes it with the public `OperationDecoder` (seq dedup + fragment
  * reassembly) and records, per transaction index, when its commit became
  * visible and what it carried. */
final class TopicReader(broker: KafkaBroker, topic: String, master: FakeMaster) {
  private val client = new KafkaTopicClient("127.0.0.1", broker.port, topic, messageFormat = 2)
  @volatile private var stopped = false
  @volatile var error: Option[Throwable] = None
  private var decoder = new OperationDecoder(Wire)
  private var lastSeq = 0L
  private var next = 0L
  private val cur = mutable.ArrayBuffer.empty[Operation]

  val visibleNs = new Stats.Longs(1 << 16)
  val colsHash = new Stats.Longs(1 << 16)
  val valsHash = new Stats.Longs(1 << 16)
  val positional = new Stats.Longs(1 << 16)
  var msgs, dupMsgs, ops, trx, duplicates, reordered, unknown, seqGaps = 0L
  @volatile var maxIdx = -1
  @volatile var lastCommitNs = 0L
  @volatile var opsAtLastCommit = 0L

  private val thread = new Thread(() => loop(), "perfbench-topic-reader")
  thread.setDaemon(true)

  def start(): TopicReader = { thread.start(); this }

  def stop(): Unit = {
    stopped = true
    thread.join(30000)
    client.close()
  }

  /** (ops delivered, time of the last commit) as of now. */
  def snapshot: (Long, Long) = synchronized((opsAtLastCommit, lastCommitNs))

  private def loop(): Unit =
    try {
      while (!stopped) {
        if (broker.highWaterMark(topic, 0) > next) {
          val page = client.fetchPage(next, 1 << 16)
          if (page.nonEmpty) {
            val t = System.nanoTime()
            synchronized(page.foreach { case (off, b) => onMessage(off, b, t) })
            next = page.last._1 + 1
          }
        } else LockSupport.parkNanos(200000L)
      }
    } catch { case e: Throwable => error = Some(e) }

  private def onMessage(off: Long, bytes: Array[Byte], t: Long): Unit = {
    val m = Wire.decodeMessage(bytes)
    msgs += 1
    if (m.seq <= lastSeq) dupMsgs += 1 else lastSeq = m.seq
    val batch =
      try decoder.feed(bytes, off)
      catch {
        case _: IllegalStateException | _: IllegalArgumentException =>
          seqGaps += 1
          decoder = new OperationDecoder(Wire, lastCommitSeq = m.seq)
          cur.clear()
          None
      }
    batch.foreach(_.ops.foreach(op => onOp(op, t)))
  }

  private def onOp(op: Operation, t: Long): Unit = {
    ops += 1
    op.opType match {
      case OpType.Gtid => cur.clear()
      case OpType.Insert | OpType.Update | OpType.Delete => cur += op
      case OpType.Commit => finish(op, t, isDdl = false)
      case OpType.Ddl => finish(op, t, isDdl = true)
      case _ => ()
    }
  }

  private def finish(op: Operation, t: Long, isDdl: Boolean): Unit = {
    val idx = op.progress.map(p => master.indexOfEnd(p.pos.pos)).getOrElse(-1)
    trx += 1
    opsAtLastCommit = ops
    lastCommitNs = t
    if (idx < 0) unknown += 1
    else if (visibleNs.get(idx, -1L) >= 0) duplicates += 1
    else {
      if (idx < maxIdx) reordered += 1
      val (ch, vh) =
        if (isDdl) CdcCheck.ddlHash(op.database.getOrElse(""), op.statement.getOrElse(""))
        else CdcCheck.rowsHash(cur.toSeq.flatMap { o =>
          val td = o.table.get
          o.rows.map(r => CdcCheck.RowView(o.opType, td.database, td.name, td.columns.map(_.name),
            r.before, r.after))
        })
      colsHash.set(idx, ch, 0L)
      valsHash.set(idx, vh, 0L)
      positional.set(idx, if (cur.exists(_.table.exists(_.columns.headOption.exists(_.name == "col_0")))) 1L else 0L, 0L)
      visibleNs.set(idx, t, -1L)
      maxIdx = math.max(maxIdx, idx)
    }
    cur.clear()
  }
}

object CdcWorkload {
  /** cdc-catchup backlog, transactions per second of run length. */
  val BacklogPerSecond = 6000
  /** cdc-catchup serves its backlog in this many equal stretches, each once
    * the previous one is visible, and reports medians over them. */
  val Stretches = 8
  /** cdc-paced: schedule served before the timed window. A new streaming
    * query's latency falls for about its first 12–14 s of paced serving, then
    * stays level. */
  val WarmInSeconds = 14L
  val Topic = "cdc"

  final case class LegResult(opsPerS: Double, lat: Seq[(Long, Double)], restartS: Double,
      heapMb: Double, gcMs: Long, recoveryScanned: Long) {
    /** Quantile `q` of the latency (ms) in each window (a paced run's
      * second, a catch-up stretch), median over the windows: a contention
      * burst of the shared host that spans a minority of the windows does
      * not move it. */
    def latMs(q: Double): Double =
      Stats.median(lat.groupBy(_._1).values.map(w => Stats.quantile(w.map(_._2), q)).toSeq)
  }
}

/** cdc-catchup and cdc-paced: the benchmark's generator serves binlog bytes
  * from a localhost master to `Replay.runLive` (binlog-live source → fused
  * foreachBatch → magic-2 Kafka producer → in-process KafkaBroker), and the
  * benchmark's own topic reader checks and times every transaction. */
final class CdcWorkload(env: Env, trace: Trace, traffic: Traffic) {
  import CdcWorkload._

  // catch-up is a backlog with a restart; paced is an open-loop schedule
  private val paced = traffic.ratePerSec.isDefined
  private val (incl, excl) = traffic.wireFilter
  private val filter = CanalTableFilter(incl, excl)
  private var legNo = 0

  /** Everything one pipeline run owns; closed in reverse order. */
  final class Leg(spark: SparkSession, backlog: Int) {
    legNo += 1
    val dir: Path = env.workDir.resolve(s"leg$legNo")
    Files.createDirectories(dir)
    val broker: KafkaBroker = new KafkaBroker().start()
    val master: FakeMaster = new FakeMaster(traffic, backlog).start()
    val reader: TopicReader = new TopicReader(broker, Topic, master).start()
    private val tracker = new SchemaTracker
    traffic.seedDdl.foreach(tracker.execDdl(_, ""))
    private val gate = new DdlGate(tracker)
    private val seedSql = dir.resolve("seed.sql")
    Files.write(seedSql, traffic.seedDdl.mkString("", "\n", "\n").getBytes(UTF_8))
    val ckpDir: Path = dir.resolve("ckp")
    private val snapshots = new SchemaSnapshotStore(dir.resolve("schema"))
    private var live: Replay.LiveRun = _

    def startPipeline(): Unit =
      live = Replay.runLive(spark, "127.0.0.1", master.port, "perfbench", "", 1001L,
        dir.resolve("out"),
        gate = Some(gate),
        ckpStorage = Some(new FileCkpStorage(ckpDir)),
        sinkFilters = if (incl.isEmpty && excl.isEmpty) Map.empty else Map("wire" -> filter),
        schemaSql = Some(seedSql.toString),
        topicAddr = Some(s"kafka2://127.0.0.1:${broker.port}/$Topic"),
        snapshots = Some(snapshots),
        maxReconnects = 0)

    private def checkAlive(): Unit = {
      if (live != null) live.query.exception.foreach(e => throw new IllegalStateException("pipeline failed", e))
      reader.error.foreach(e => throw new IllegalStateException("topic reader failed", e))
    }

    /** Wait until `cond` holds, failing fast if the pipeline died. */
    def await(timeoutS: Double)(cond: => Boolean): Boolean = {
      val end = System.nanoTime() + (timeoutS * 1e9).toLong
      while (!cond && System.nanoTime() < end) { checkAlive(); Thread.sleep(1) }
      cond
    }

    def stopPipeline(): Unit = if (live != null) {
      live.stop()
      master.dropConnection() // the stopped source's feed thread ends on EOF
      live = null
    }

    def close(): Unit = {
      try stopPipeline() catch { case _: Exception => () }
      reader.stop()
      master.close()
      broker.close()
    }
  }

  /** Seconds from pipeline start to the first commit visible in the topic.
    * Each start then runs a short stretch of the workload (one second of the
    * paced schedule, or a small backlog) to warm the JIT for the measured
    * run. */
  private def probe(spark: SparkSession): Double = {
    val n = traffic.ratePerSec.map(_.toInt).getOrElse(2000)
    val leg = new Leg(spark, backlog = n)
    try {
      val t0 = System.nanoTime()
      leg.startPipeline()
      require(leg.await(120)(leg.reader.maxIdx >= 0), "no commit reached the topic")
      val first = (System.nanoTime() - t0) / 1e9
      drain(leg, n)
      first
    } finally leg.close()
  }

  /** Catch-up: the backlog is served in `Stretches` equal stretches, each
    * once the previous one is visible in the topic, and each is timed from
    * its release (the first byte served, for the first) to its last commit
    * visible. So a stall of the shared host spoils only the stretches it
    * overlaps, and the checkpoint and restart points land on fixed
    * transactions whatever the micro-batch sizes: the checkpoint is saved
    * once the first quarter is visible and persisted; once the first half
    * is visible the query stops, the saved copy is restored with
    * `FileCkpStorage`, and the query starts again for the rest — the
    * recovery scan and the position dedup redo real work, and the restart
    * counts in the time of the stretch after it. Returns (operations per
    * second of each stretch, restart seconds, messages the recovery scan
    * read). */
  private def catchUp(leg: Leg, backlog: Int): (Seq[Double], Double, Long) = {
    def wireCkp(bytes: Array[Byte]): Option[Checkpoint] = {
      val mem = new MemoryCkpStorage
      mem.save(bytes)
      new CkpManager(mem).get("wire")
    }
    val rates = mutable.ArrayBuffer.empty[Double]
    var old: Option[Array[Byte]] = None
    var restartS = 0.0
    var scanned = 0L
    var opsBefore = 0L
    for (k <- 0 until Stretches) {
      val end = stretchEnd(k, backlog)
      var t0 = System.nanoTime()
      if (k == Stretches / 2) {
        // the restart from the older checkpoint (a lost ack)
        leg.stopPipeline()
        new FileCkpStorage(leg.ckpDir).save(old.get)
        val acked = wireCkp(old.get).map(_.getIntCtx("acked_offset", -1L)).getOrElse(-1L)
        scanned = leg.broker.highWaterMark(Topic, 0) - (acked + 1)
        val before = leg.reader.maxIdx
        leg.master.serveUpTo(end)
        t0 = System.nanoTime()
        leg.startPipeline()
        require(leg.await(120)(leg.reader.maxIdx > before), "no commit after the restart")
        val t1 = System.nanoTime()
        trace.record("cdc.restart", t0, t1)
        restartS = (t1 - t0) / 1e9
      } else if (k > 0) leg.master.serveUpTo(end)
      require(leg.await(120)(leg.reader.maxIdx >= end - 1), s"stretch $k never became visible")
      if (k == 0) t0 = leg.master.firstByteNs
      val (ops, lastNs) = leg.reader.snapshot
      rates += (ops - opsBefore) / ((lastNs - t0) / 1e9)
      opsBefore = ops
      if (k == Stretches / 4 - 1) { // the first quarter
        leg.await(120)({
          old = new FileCkpStorage(leg.ckpDir).load()
          old.flatMap(wireCkp).exists(_.progress.pos.pos == leg.master.ends(end - 1))
        })
        require(old.isDefined, "no checkpoint persisted before the restart point")
      }
    }
    (rates.toSeq, restartS, scanned)
  }

  private def stretchEnd(k: Int, backlog: Int): Int = (backlog.toLong * (k + 1) / Stretches).toInt

  /** One measured pipeline run, checked into `result`. Catch-up serves a
    * backlog of `BacklogPerSecond * seconds` transactions and ends when the
    * last one is visible. Paced serves its schedule for `WarmInSeconds`
    * (checked, not timed: a new streaming query's first micro-batches run
    * slower) and then for `seconds`, and drains. */
  private def measure(spark: SparkSession, result: Result, listener: Option[BatchListener],
      after: Leg => Unit = _ => ()): LegResult = {
    val backlog = if (paced) Int.MaxValue else BacklogPerSecond * env.seconds
    val leg = new Leg(spark, if (paced) backlog else stretchEnd(0, backlog))
    listener.foreach { l =>
      l.eventsSent = () => leg.master.eventsSent
      spark.streams.addListener(l)
    }
    try {
      val gc0 = Jvm.gcMs
      leg.startPipeline()
      val (rates, restartS, scanned) = if (paced) (Nil, 0.0, 0L) else catchUp(leg, backlog)
      val warm = WarmInSeconds * 1000000000L
      if (paced) leg.await(120)(leg.master.t0Ns > 0 &&
        System.nanoTime() >= leg.master.t0Ns + warm + env.seconds * 1000000000L)
      val served = if (paced) leg.master.stopServing() else backlog
      drain(leg, served)
      val (ops, lastNs) = leg.reader.snapshot
      val gcMs = Jvm.gcMs - gc0
      // serving up to the next deliverable transaction makes the source
      // commit the last measured batch, so the feed buffer holds only what
      // is in flight when the heap is measured
      val extra = nextDeliverable(served)
      leg.master.serveUpTo(extra + 1)
      drain(leg, extra + 1)
      val heap = Jvm.liveHeapMb
      leg.stopPipeline()
      leg.reader.stop()
      verify(leg, extra + 1, result)
      val from = leg.master.t0Ns + warm
      val lat = (0 until served).flatMap { i =>
        val v = leg.reader.visibleNs.get(i, -1L)
        if (v < 0) None
        else if (!paced) Some((i.toLong * Stretches / backlog, (v - leg.master.sentNs(i)) / 1e6))
        else if (leg.master.scheduledNs(i) < from ||
          leg.master.scheduledNs(i) >= from + env.seconds * 1000000000L) None
        else Some(((leg.master.scheduledNs(i) - from) / 1000000000L, (v - leg.master.scheduledNs(i)) / 1e6))
      }
      after(leg)
      val wallS = (lastNs - leg.master.firstByteNs) / 1e9
      System.err.println(f"[perfbench] leg: $served%d transactions, $ops%d operations in $wallS%.2f s")
      LegResult(if (paced) ops / wallS else Stats.median(rates), lat, restartS, heap, gcMs, scanned)
    } finally {
      listener.foreach(spark.streams.removeListener)
      leg.close()
    }
  }

  private def deliverable(i: Int): Boolean = CdcCheck.expected(traffic.trx(i), filter).isDefined
  private def nextDeliverable(from: Int): Int = Iterator.from(from).find(deliverable).get

  /** Wait until every deliverable transaction below `served` is visible. */
  private def drain(leg: Leg, served: Int): Unit = {
    val last = (served - 1 to 0 by -1).find(deliverable).getOrElse(-1)
    if (!leg.await(120)(leg.reader.maxIdx >= last))
      System.err.println(s"[perfbench] drain timed out at ${leg.reader.maxIdx} of $last")
  }

  private def verify(leg: Leg, served: Int, result: Result): Unit = {
    val r = leg.reader
    result.attempted += served
    for (i <- 0 until served) {
      val vis = r.visibleNs.get(i, -1L)
      CdcCheck.expected(traffic.trx(i), filter) match {
        case None =>
          if (vis >= 0) result.fail("delivered a transaction the sink's table filter excludes")
        case Some((ch, vh)) =>
          if (vis < 0) result.fail("missing from the topic")
          else if (r.colsHash(i) != ch)
            result.fail(if (r.positional(i) == 1L)
              "positional column names: table created in-stream is unknown to the live feed's schema lookup"
            else "column list differs from the schema in effect at the transaction's position")
          else if (r.valsHash(i) != vh) result.fail("row values differ")
      }
    }
    result.fail("delivered twice", r.duplicates)
    result.fail("delivered out of order", r.reordered)
    result.fail("commit at a position the master never served", r.unknown)
    result.fail("sequence gap in the topic", r.seqGaps)
    if (result.failed > 0)
      System.err.println(s"[perfbench] ${traffic.getClass.getSimpleName}: ${result.failed} of ${result.attempted} " +
        s"transactions failed: ${result.causes.mkString("; ")}")
  }

  def run(): Result = {
    val result = new Result
    val spark = trace.span("setup.session")(_ => env.session())
    val sessionS = Jvm.sinceStartS
    // setup = session + the median of three pipeline starts (each to the
    // first commit visible in the topic); the starts also warm the JIT
    val probes = (1 to 3).map(_ => trace.span("setup.pipeline_start")(_ => probe(spark)))
    val setupS = sessionS + Stats.median(probes)

    if (!env.trace) {
      val leg = measure(spark, result, None)
      result.put("setup_s", setupS, "s")
      result.put("ops_per_s", leg.opsPerS, "1/s")
      result.put("latency_p50_ms", leg.latMs(0.5), "ms")
      result.put("latency_tail_ms", leg.latMs(0.9), "ms")
      result.put("live_heap_mb", leg.heapMb, "MB")
      System.err.println(s"[perfbench] restart_s=${leg.restartS} latency samples=${leg.lat.size} " +
        s"p99_ms=${Stats.quantile(leg.lat.map(_._2), 0.99)} window_p50_ms=" +
        leg.lat.groupBy(_._1).toSeq.sortBy(_._1).map(w => Stats.median(w._2.map(_._2)).round).mkString(","))
      spark.stop()
      return result
    }

    // traced run: two untraced legs (the first still warms the JIT, the
    // second is the overhead baseline), then the same leg with listeners and
    // spans, then each layer's public functions over the workload's own bytes
    measure(spark, result, None)
    val plain = measure(spark, result, None)
    val batches = new BatchListener(trace)
    var replay: LayerReplay.Out = null
    val traced = measure(spark, result, Some(batches), leg =>
      replay = LayerReplay.run(traffic, filter, leg, trace, env.workDir.resolve("replay")))
    val overhead =
      if (paced) traced.latMs(0.5) / plain.latMs(0.5) - 1
      else plain.opsPerS / traced.opsPerS - 1
    spark.stop()
    val local1 =
      if (paced) 0.0
      else {
        val one = env.session("local[1]")
        try measure(one, result, None).opsPerS finally one.stop()
      }

    result.put("trace.overhead_frac", overhead, "ratio")
    result.put("baseline.local1_ops_per_s", local1, "1/s")
    result.put("failed_frac", result.failed.toDouble / math.max(result.attempted, 1L), "ratio")
    result.put("cdc.restart_s", traced.restartS, "s")
    result.put("setup.session_s", sessionS, "s")
    result.put("setup.pipeline_start_s", Stats.median(probes), "s")
    result.put("jvm.gc_ms", traced.gcMs.toDouble, "ms")
    result.put("gen.late_p99_ms", replay.lateP99Ms, "ms")
    result.put("sources.batches", batches.rows.size.toDouble, "count")
    result.put("sources.rows_per_batch_p50", Stats.median(batches.rows), "count")
    result.put("sources.feed_backlog_max_events", batches.backlogMax.toDouble, "count")
    result.put("streaming.batch_add_ms_p50", batches.phaseQuantile("addBatch", 0.5), "ms")
    result.put("streaming.batch_add_ms_p99", batches.phaseQuantile("addBatch", 0.99), "ms")
    result.put("streaming.batch_latest_offset_ms_p50", batches.phaseQuantile("latestOffset", 0.5), "ms")
    result.put("streaming.batch_planning_ms_p50", batches.phaseQuantile("queryPlanning", 0.5), "ms")
    result.put("streaming.batch_wal_commit_ms_p50", batches.phaseQuantile("walCommit", 0.5), "ms")
    result.put("streaming.batch_commit_offsets_ms_p50", batches.phaseQuantile("commitOffsets", 0.5), "ms")
    result.put("cdc.ckp_persists", batches.nonEmpty.toDouble, "count")
    result.put("cdc.recovery_scanned", traced.recoveryScanned.toDouble, "count")
    replay.metrics.foreach { case (k, (v, u)) => result.put(k, v, u) }
    result
  }
}
