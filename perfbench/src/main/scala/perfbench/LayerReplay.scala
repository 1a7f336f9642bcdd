package perfbench

import graft.cdc._
import graft.kafka.KafkaTopicClient
import graft.mysql.{BinlogEvents, BinlogToOps, Packets}
import graft.streaming.OperationJson
import java.nio.file.{Files, Path}
import scala.collection.mutable

/** The traced run's isolated layer timings: the workload's own binlog bytes
  * and topic messages replayed through each layer's public function, one
  * span per layer call batch. */
object LayerReplay {
  final case class Out(metrics: Seq[(String, (Double, String))], lateP99Ms: Double)

  /** Transactions replayed per layer (the leg's first ones). */
  private def sampleSize(traffic: Traffic): Int = if (traffic.ratePerSec.isDefined) 1500 else 20000

  def run(traffic: Traffic, filter: CanalTableFilter, leg: CdcWorkload#Leg, trace: Trace,
      dir: Path): Out = {
    Files.createDirectories(dir)
    val m = mutable.ArrayBuffer.empty[(String, (Double, String))]
    def put(k: String, v: Double, u: String): Unit = m += (k -> (v, u))
    val root = trace.newId()
    val rootStart = System.nanoTime()
    val n = math.min(sampleSize(traffic), math.max(leg.master.servedCount, 1))

    // ---- bytes: the same events the master served (not timed)
    val trxs = (0 until n).map(traffic.trx)
    var pos = leg.master.firstTrxPos
    val events = trxs.flatMap { t =>
      val evs = BinlogGen.encode(t, pos, 1700000000L)
      pos += evs.map(_.length.toLong).sum
      evs
    }

    // ---- mysql: event decode + BinlogToOps, as the live feed does
    val tracker = new SchemaTracker
    traffic.seedDdl.foreach(tracker.execDdl(_, ""))
    val ops = mutable.ArrayBuffer.empty[Operation]
    trace.span("mysql.decode", root) { _ =>
      val t0 = System.nanoTime()
      val tables = mutable.Map.empty[Long, BinlogEvents.TableMap]
      val mapper = new BinlogToOps(tracker.getTableDef(_, _))
      events.foreach { ev =>
        val r = new Packets.Reader(java.util.Arrays.copyOfRange(ev, 0, ev.length - 4))
        val h = BinlogEvents.parseHeader(r)
        BinlogEvents.parseEvent(h, r, tables) match {
          case tm: BinlogEvents.TableMap => tables(tm.tableId) = tm
          case rows: BinlogEvents.Rows => ops += mapper.toRowsOperation(h, rows, tables(rows.tableId))
          case other => mapper.toOperation(h, other).foreach(ops += _)
        }
      }
      put("mysql.decode_ns_per_event", (System.nanoTime() - t0).toDouble / events.size, "ns")
      put("mysql.events", events.size.toDouble, "count")
    }

    // ---- streaming: the envelope rendered on the feed, parsed on executors
    val jsons = trace.span("streaming.json_render", root) { _ =>
      val t0 = System.nanoTime()
      val js = ops.map(OperationJson.render)
      put("streaming.json_render_ns_per_op", (System.nanoTime() - t0).toDouble / ops.size, "ns")
      js
    }
    trace.span("streaming.json_parse", root) { _ =>
      val t0 = System.nanoTime()
      jsons.foreach(OperationJson.parse)
      put("streaming.json_parse_ns_per_op", (System.nanoTime() - t0).toDouble / ops.size, "ns")
    }

    // ---- cdc: table filter, per-op wire encode, messages
    val passed = trace.span("cdc.filter", root) { _ =>
      val t0 = System.nanoTime()
      val p = ops.filter(op => op.table.forall(t => filter.matches(t.database, t.name)))
      val withTable = ops.count(_.table.isDefined)
      put("cdc.filter_ns_per_op", (System.nanoTime() - t0).toDouble / ops.size, "ns")
      put("cdc.filter_pass_ratio",
        if (withTable == 0) 1.0 else p.count(_.table.isDefined).toDouble / withTable, "ratio")
      p
    }
    val encoded = trace.span("cdc.wire_encode", root) { _ =>
      val t0 = System.nanoTime()
      val e = passed.map(op => (op.opType, Wire.encodeOp(op)))
      put("cdc.wire_encode_ns_per_op", (System.nanoTime() - t0).toDouble / passed.size, "ns")
      e
    }
    trace.span("cdc.wire_message", root) { _ =>
      // the live sink's settings: 1 MiB max payload, compression off
      val batcher = new TypedTrxBatcher[(String, Array[Byte])](_._1)
      val producer = new FragmentingProducer(producerId = 1L, maxPayloadSize = 1 << 20)
      var msgs, groups, bytes = 0L
      val t0 = System.nanoTime()
      encoded.foreach { e =>
        batcher.offer(e).foreach { trx =>
          groups += 1
          producer.produceEncoded(trx.map(_._2)).foreach { msg =>
            bytes += Wire.encodeMessage(msg).length
            msgs += 1
          }
        }
      }
      val dt = System.nanoTime() - t0
      put("cdc.wire_msg_encode_us", dt / 1e3 / math.max(msgs, 1L), "us")
      put("cdc.wire_fragments_per_msg", msgs.toDouble / math.max(groups, 1L), "ratio")
      put("cdc.wire_bytes_per_op", bytes.toDouble / math.max(passed.size, 1), "bytes")
    }

    // ---- cdc: DDL replay through the gate, schema snapshot records
    val ddls = trxs.collect { case d: BinlogGen.Ddl => d }
    val ddlTracker = new SchemaTracker
    traffic.seedDdl.foreach(ddlTracker.execDdl(_, ""))
    val gate = new DdlGate(ddlTracker)
    val store = new SchemaSnapshotStore(dir.resolve("schema"))
    var applyNs, recordNs = 0L
    ddls.foreach { d =>
      val t0 = System.nanoTime()
      trace.span("cdc.schema_ddl", root)(_ => require(gate.apply(d.stmt, d.db), s"DDL parked: ${d.stmt}"))
      val t1 = System.nanoTime()
      trace.span("cdc.snapshot_record", root) { _ =>
        store.record(Position(BinlogGen.LogName, d.idx.toLong + 4, BinlogGen.ServerId), d.db, d.stmt,
          ddlTracker.getDatabases, ddlTracker.snapshotCatalog)
      }
      applyNs += t1 - t0
      recordNs += System.nanoTime() - t1
    }
    put("cdc.schema_ddls", ddls.size.toDouble, "count")
    put("cdc.schema_ddl_apply_us", if (ddls.isEmpty) 0.0 else applyNs / 1e3 / ddls.size, "us")
    put("cdc.snapshot_record_us", if (ddls.isEmpty) 0.0 else recordNs / 1e3 / ddls.size, "us")

    // ---- cdc: checkpoint persists (dual-file store, synced writes)
    trace.span("cdc.ckp_persist", root) { _ =>
      val mgr = new CkpManager(new FileCkpStorage(dir.resolve("ckp")))
      val k = 200
      val t0 = System.nanoTime()
      for (i <- 1 to k) {
        val p = Checkpoint(Progress(BinlogGen.LogName, 4L + i, BinlogGen.ServerId))
        mgr.update("stdout", p)
        mgr.update("wire", p.withIntCtx("acked_seq", i).withIntCtx("acked_offset", i))
        mgr.persist()
      }
      put("cdc.ckp_persist_us", (System.nanoTime() - t0) / 1e3 / k, "us")
    }

    // ---- cdc: recovery scan of the leg's whole topic
    val topic = CdcWorkload.Topic
    trace.span("cdc.recovery_scan", root) { _ =>
      val client = new KafkaTopicClient("127.0.0.1", leg.broker.port, topic, messageFormat = 2)
      try {
        val t0 = System.nanoTime()
        val rec = KafkaRecovery.recover(client,
          Checkpoint(Progress.zero).withIntCtx("acked_offset", -1L).withIntCtx("acked_seq", 0L))
        put("cdc.recovery_scan_msgs_per_s", rec.scanned / ((System.nanoTime() - t0) / 1e9), "1/s")
      } finally client.close()
    }
    val r = leg.reader
    put("cdc.recovery_dup_dropped_ratio", r.dupMsgs.toDouble / math.max(r.msgs, 1L), "ratio")

    // ---- kafka: synchronous acks=-1 produces of the leg's own messages
    val lat = mutable.ArrayBuffer.empty[Double]
    val src = new KafkaTopicClient("127.0.0.1", leg.broker.port, topic, messageFormat = 2)
    val dst = new KafkaTopicClient("127.0.0.1", leg.broker.port, "replay", messageFormat = 2)
    try {
      val msgs = mutable.ArrayBuffer.empty[Array[Byte]]
      val hwm = leg.broker.highWaterMark(topic, 0)
      var off = 0L
      while (msgs.size < 3000 && off < hwm) {
        val page = src.fetchPage(off, 3000 - msgs.size)
        msgs ++= page.map(_._2)
        off = if (page.isEmpty) hwm else page.last._1 + 1
      }
      msgs.foreach { b =>
        val t0 = System.nanoTime()
        trace.span("kafka.produce", root)(_ => dst.produce(b))
        lat += (System.nanoTime() - t0) / 1e3
      }
    } finally { src.close(); dst.close() }
    put("kafka.produce_p50_us", Stats.quantile(lat, 0.5), "us")
    put("kafka.produce_p99_us", Stats.quantile(lat, 0.99), "us")
    put("kafka.produces_per_trx", r.msgs.toDouble / math.max(r.trx, 1L), "ratio")

    trace.record("replay", rootStart, System.nanoTime(), id = root)
    val late = leg.master.lateNs.toArray.map(_ / 1e6)
    Out(m.toSeq, Stats.quantile(late, 0.99))
  }
}
