package perfbench

import graft.mysql.{BinlogEvents, Packets}
import java.io.{BufferedOutputStream, OutputStream}
import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8

/** A localhost MySQL master serving a [[Traffic]] as one binlog file.
  *
  * It answers the handshake, the ROW-format / row-image / heartbeat /
  * checksum queries and COM_REGISTER_SLAVE, then serves COM_BINLOG_DUMP from
  * the requested position with CRC32 events. Backlog traffic is written as
  * fast as the client reads; paced traffic sends transaction i at its
  * scheduled time `t0 + i / rate` and records how late each send was.
  *
  * Threads: one acceptor plus one thread per open connection; the client
  * keeps a single replication connection, and [[dropConnection]] closes it. */
final class FakeMaster(traffic: Traffic, backlog: Int) {
  import BinlogGen._

  private val server = new ServerSocket(0, 4, InetAddress.getByName("127.0.0.1"))
  def port: Int = server.getLocalPort

  @volatile private var closed = false
  @volatile private var current: Option[Socket] = None
  /** Serve transactions with index < limit: the backlog size, or the stop
    * point when a timed run ends. */
  @volatile private var limit: Int = backlog
  @volatile private var heartbeatNs: Long = 30L * 1000000000L

  private val fde = fdePayload
  val firstTrxPos: Long = 4L + eventSize(fde.length)
  /** ends(i) = end position of transaction i (its commit event's log_pos). */
  val ends = new Stats.Longs(1 << 16)
  /** First time transaction i's commit event was handed to the socket. */
  val sentNs = new Stats.Longs(1 << 16)
  /** Paced: schedule origin (System.nanoTime) and per-trx lateness. */
  @volatile var t0Ns: Long = 0L
  val lateNs = new Stats.Longs(1 << 12)
  @volatile var firstByteNs: Long = 0L
  @volatile var eventsSent: Long = 0L
  @volatile private var served = 0 // transactions fully written at least once

  def servedCount: Int = served
  def scheduledNs(i: Int): Long =
    t0Ns + (i.toDouble * 1e9 / traffic.ratePerSec.getOrElse(1.0)).toLong

  /** Index of the transaction whose commit ends at `pos`, or -1. */
  def indexOfEnd(pos: Long): Int = ends.indexOf(pos)

  def start(): FakeMaster = {
    val t = new Thread(() => {
      while (!closed) {
        try {
          val s = server.accept()
          s.setTcpNoDelay(true)
          current = Some(s)
          val h = new Thread(() => handle(s), "fake-master-conn")
          h.setDaemon(true)
          h.start()
        } catch { case _: Exception => () }
      }
    }, "fake-master-accept")
    t.setDaemon(true)
    t.start()
    this
  }

  /** Stop at the next transaction boundary; returns the served count. */
  def stopServing(): Int = { limit = served; served }

  /** Serve up to transaction `n` (exclusive). */
  def serveUpTo(n: Int): Unit = limit = n

  def dropConnection(): Unit = current.foreach(s => try s.close() catch { case _: Exception => () })

  def close(): Unit = {
    closed = true
    try server.close() catch { case _: Exception => () }
    dropConnection()
  }

  // ---------------------------------------------------------------- protocol

  private def ok: Array[Byte] = new Packets.Writer().u8(0).u8(0).u8(0).u16(2).u16(0).result
  private def eof: Array[Byte] = new Packets.Writer().u8(0xfe).u16(0).u16(2).result

  private def greeting: Array[Byte] = {
    val w = new Packets.Writer
    w.u8(10); w.nulStr("8.0.36-perfbench"); w.u32(7)
    w.raw((1 to 8).map(_.toByte).toArray); w.u8(0)
    w.u16(0x8200 | 0x0002); w.u8(33); w.u16(2); w.u16(0x0008)
    w.u8(21); w.zeros(10)
    w.raw((9 to 20).map(_.toByte).toArray); w.u8(0)
    w.nulStr("mysql_native_password")
    w.result
  }

  private def colDef(name: String): Array[Byte] = {
    val w = new Packets.Writer
    def ls(s: String): Unit = w.lenencBytes(s.getBytes(UTF_8))
    ls("def"); ls(""); ls(""); ls(""); ls(name); ls(name)
    w.u8(0x0c); w.u16(33); w.u32(255); w.u8(253); w.u16(0); w.u8(0); w.u16(0)
    w.result
  }

  private def resultSet(out: OutputStream, cols: Seq[String], row: Seq[String]): Unit = {
    var seq = 1
    def send(p: Array[Byte]): Unit = { Packets.writePacket(out, seq, p); seq += 1 }
    send(new Packets.Writer().lenenc(cols.size.toLong).result)
    cols.foreach(c => send(colDef(c)))
    send(eof)
    val w = new Packets.Writer
    row.foreach(v => w.lenencBytes(v.getBytes(UTF_8)))
    send(w.result)
    send(eof)
  }

  private def handle(sock: Socket): Unit =
    try {
      val in = sock.getInputStream
      val out = sock.getOutputStream
      Packets.writePacket(out, 0, greeting)
      Packets.readPacket(in) // HandshakeResponse41: any credentials accepted
      Packets.writePacket(out, 2, ok)
      var open = true
      while (open && !closed) {
        val (seq, p) = Packets.readPacket(in)
        (p(0) & 0xff) match {
          case Packets.COM_QUERY =>
            val q = new String(p, 1, p.length - 1, UTF_8)
            if (q.contains("binlog_format"))
              resultSet(out, Seq("Variable_name", "Value"), Seq("binlog_format", "ROW"))
            else if (q.contains("binlog_row_image"))
              resultSet(out, Seq("Variable_name", "Value"), Seq("binlog_row_image", "FULL"))
            else if (q.startsWith("SELECT @@global.binlog_checksum"))
              resultSet(out, Seq("@@global.binlog_checksum"), Seq("CRC32"))
            else {
              if (q.startsWith("SET @master_heartbeat_period"))
                heartbeatNs = math.max(q.split('=')(1).trim.stripSuffix(";").toLong, 1000000L)
              Packets.writePacket(out, seq + 1, ok)
            }
          case Packets.COM_REGISTER_SLAVE | Packets.COM_PING =>
            Packets.writePacket(out, seq + 1, ok)
          case Packets.COM_BINLOG_DUMP =>
            val r = new Packets.Reader(p); r.skip(1)
            val pos = r.u32(); r.u16(); r.u32()
            dump(out, pos)
            open = false
          case Packets.COM_QUIT => open = false
          case other =>
            throw new IllegalStateException(s"fake master: unexpected command $other")
        }
      }
    } catch {
      case _: java.io.IOException => () // client went away
    } finally try sock.close() catch { case _: Exception => () }

  /** Stream events from `startPos` until the connection closes. */
  private def dump(raw: OutputStream, startPos: Long): Unit = {
    val out = new BufferedOutputStream(raw, 1 << 16)
    var seq = 1
    def packet(ev: Array[Byte]): Unit = {
      val n = ev.length + 1
      out.write(n & 0xff); out.write((n >> 8) & 0xff); out.write((n >> 16) & 0xff)
      out.write(seq & 0xff); seq += 1
      out.write(0); out.write(ev)
    }
    val from = math.max(startPos, 4L)
    packet(event(BinlogEvents.ROTATE_EVENT, 0L, rotatePayload(from, LogName), 0L))
    packet(event(BinlogEvents.FORMAT_DESCRIPTION_EVENT, if (from == 4L) firstTrxPos else 0L, fde, 0L))
    var i =
      if (from <= firstTrxPos) 0
      else {
        val k = indexOfEnd(from)
        require(k >= 0, s"fake master: dump from $from is not a transaction boundary")
        k + 1
      }
    var pos = if (i == 0) firstTrxPos else from
    if (firstByteNs == 0L) firstByteNs = System.nanoTime()
    if (t0Ns == 0L) t0Ns = System.nanoTime() + 50000000L
    val paced = traffic.ratePerSec.isDefined
    var lastSend = System.nanoTime()
    while (!closed) {
      if (i >= limit) {
        out.flush()
        if (System.nanoTime() - lastSend > heartbeatNs) {
          packet(event(BinlogEvents.HEARTBEAT_EVENT, pos, heartbeatPayload(LogName), 0L))
          out.flush(); lastSend = System.nanoTime()
        }
        Thread.sleep(2)
      } else {
        if (paced) {
          val due = scheduledNs(i)
          var now = System.nanoTime()
          if (due > now) {
            out.flush()
            while (due > now) {
              java.util.concurrent.locks.LockSupport.parkNanos(math.min(due - now, 1000000L))
              now = System.nanoTime()
            }
          }
        }
        val evs = encode(traffic.trx(i), pos, 1700000000L + i / 1000)
        evs.foreach(packet)
        eventsSent += evs.size
        pos += evs.map(_.length.toLong).sum
        if (paced) out.flush()
        val now = System.nanoTime()
        lastSend = now
        if (i == ends.size) {
          ends += pos
          sentNs += now
          if (paced) lateNs += now - scheduledNs(i)
          served = i + 1
        }
        i += 1
      }
    }
  }
}
