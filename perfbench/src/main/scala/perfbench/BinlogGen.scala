package perfbench

import graft.mysql.Packets
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

/** Seeded binlog traffic: transaction models and their ROW-format event
  * bytes (public replication protocol layouts, CRC32-checksummed). Every
  * transaction is a pure function of (seed, index), so the fake master can
  * serve any position again after a restart and the checker can rebuild the
  * expected content without keeping it in memory. */
object BinlogGen {

  final case class Col(name: String, sqlType: String, code: Int, meta: Int)
  final case class Tbl(db: String, name: String, id: Long, cols: Vector[Col])
  /** kind: insert | update | delete; images are the decoder's string forms. */
  final case class Row(kind: String, tbl: Tbl,
      before: Option[Vector[Option[String]]], after: Option[Vector[Option[String]]])

  sealed trait Trx { def idx: Int }
  final case class Dml(idx: Int, rows: Vector[Row]) extends Trx
  final case class Ddl(idx: Int, db: String, stmt: String) extends Trx

  val ServerId = 77L
  val LogName = "mysql-bin.000001"
  private val Uuid = Array.tabulate[Byte](16)(i => (0x30 + i).toByte)

  // column type codes (public protocol)
  val LONG = 3
  val VARCHAR = 15
  val JSON = 245
  val BLOB = 252

  def intCol(n: String): Col = Col(n, "int(11)", LONG, 0)
  /** utf8mb4 VARCHAR(chars): the table map carries the byte width. */
  def varcharCol(n: String, chars: Int): Col = Col(n, s"varchar($chars)", VARCHAR, chars * 4)
  def blobCol(n: String, lenBytes: Int): Col =
    Col(n, if (lenBytes >= 3) "mediumblob" else "blob", BLOB, lenBytes)
  def jsonCol(n: String): Col = Col(n, "json", JSON, 4)

  def createSql(t: Tbl): String = {
    val cols = t.cols.map { c =>
      val nn = if (c.name == "id") " NOT NULL" else ""
      s"`${c.name}` ${c.sqlType}$nn"
    }
    s"CREATE TABLE `${t.db}`.`${t.name}` (${cols.mkString(", ")}, PRIMARY KEY (`id`))"
  }

  /** Random printable text that needs no JSON escaping. */
  private val Alphabet = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789 .,:-_"
  def text(rng: SplittableRandom, n: Int): String = {
    val cs = new Array[Char](n)
    var i = 0
    while (i < n) {
      var bits = rng.nextLong()
      var k = 0
      while (k < 9 && i < n) {
        cs(i) = Alphabet.charAt(((bits & 0x7f) % Alphabet.length).toInt)
        bits >>>= 7; k += 1; i += 1
      }
    }
    new String(cs)
  }

  def rngFor(seed: Long, idx: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + idx * 0xBF58476D1CE4E5B9L + 1)

  // ---------------------------------------------------------------- events

  /** One event: common header + payload + CRC32, `endPos` = its log_pos. */
  def event(tpe: Int, endPos: Long, payload: Array[Byte], timestamp: Long): Array[Byte] = {
    val size = 19 + payload.length + 4
    val w = new Packets.Writer
    w.u32(timestamp); w.u8(tpe); w.u32(ServerId); w.u32(size.toLong); w.u32(endPos); w.u16(0)
    w.raw(payload)
    val body = w.result
    val crc = new java.util.zip.CRC32
    crc.update(body)
    val out = java.util.Arrays.copyOf(body, body.length + 4)
    val c = crc.getValue
    out(body.length) = (c & 0xff).toByte
    out(body.length + 1) = ((c >> 8) & 0xff).toByte
    out(body.length + 2) = ((c >> 16) & 0xff).toByte
    out(body.length + 3) = ((c >> 24) & 0xff).toByte
    out
  }

  def eventSize(payloadLen: Int): Int = 19 + payloadLen + 4

  def rotatePayload(pos: Long, name: String): Array[Byte] =
    new Packets.Writer().u64(pos).eofStr(name).result

  /** FORMAT_DESCRIPTION v4 announcing CRC32 (the alg byte precedes the CRC). */
  def fdePayload: Array[Byte] = {
    val w = new Packets.Writer
    w.u16(4)
    val sv = "8.0.36-perfbench".getBytes(UTF_8)
    w.raw(sv); w.zeros(50 - sv.length)
    w.u32(0); w.u8(19)
    w.zeros(41) // post-header length table
    w.u8(1) // binlog_checksum = CRC32
    w.result
  }

  def heartbeatPayload(name: String): Array[Byte] = new Packets.Writer().eofStr(name).result

  private def gtidPayload(gno: Long): Array[Byte] =
    new Packets.Writer().u8(1).raw(Uuid).u64(gno).result

  private def queryPayload(db: String, sql: String): Array[Byte] = {
    val w = new Packets.Writer
    val dbb = db.getBytes(UTF_8)
    w.u32(11); w.u32(0); w.u8(dbb.length); w.u16(0); w.u16(0)
    w.raw(dbb); w.u8(0); w.eofStr(sql)
    w.result
  }

  private def tableMapPayload(t: Tbl): Array[Byte] = {
    val w = new Packets.Writer
    w.u32(t.id); w.u16(0) // 6-byte table id
    w.u16(1)
    val db = t.db.getBytes(UTF_8); val nm = t.name.getBytes(UTF_8)
    w.u8(db.length); w.raw(db); w.u8(0)
    w.u8(nm.length); w.raw(nm); w.u8(0)
    w.lenenc(t.cols.size.toLong)
    t.cols.foreach(c => w.u8(c.code))
    val meta = new Packets.Writer
    t.cols.foreach { c =>
      c.code match {
        case VARCHAR => meta.u16(c.meta)
        case BLOB | JSON => meta.u8(c.meta)
        case _ => ()
      }
    }
    w.lenencBytes(meta.result)
    w.raw(new Array[Byte]((t.cols.size + 7) / 8).map(_ => 0xff.toByte)) // nullable
    w.result
  }

  /** MySQL binary JSON for `{"s": <string>}` (small object, one key). */
  def jsonb(s: String): Array[Byte] = {
    val data = s.getBytes(UTF_8)
    val varlen = new Packets.Writer
    var n = data.length
    do {
      val b = n & 0x7f; n >>>= 7
      varlen.u8(if (n != 0) b | 0x80 else b)
    } while (n != 0)
    val vl = varlen.result
    val large = 32 + vl.length + data.length > 0xffff
    val wd = if (large) 4 else 2
    // offsets are relative to the count field: count, size, one key entry
    // (offset + u16 length), one value entry (type + offset), key, value
    val keyOff = 2 * wd + (wd + 2) + (1 + wd)
    val valOff = keyOff + 1
    val total = valOff + vl.length + data.length
    val w = new Packets.Writer
    def word(v: Long): Unit = if (large) w.u32(v) else w.u16(v.toInt)
    w.u8(if (large) 0x01 else 0x00)
    word(1); word(total.toLong)
    word(keyOff.toLong); w.u16(1)
    w.u8(0x0c); word(valOff.toLong)
    w.eofStr("s")
    w.raw(vl); w.raw(data)
    w.result
  }
  def jsonText(s: String): String = "{\"s\":\"" + s + "\"}"

  private def writeValue(w: Packets.Writer, c: Col, v: String): Unit = c.code match {
    case LONG => w.u32(v.toLong & 0xffffffffL)
    case VARCHAR =>
      val b = v.getBytes(UTF_8)
      if (c.meta > 255) w.u16(b.length) else w.u8(b.length)
      w.raw(b)
    case BLOB =>
      val b = v.getBytes(UTF_8)
      c.meta match {
        case 1 => w.u8(b.length)
        case 2 => w.u16(b.length)
        case 3 => w.u24(b.length)
        case _ => w.u32(b.length.toLong)
      }
      w.raw(b)
    case JSON =>
      // the expected value is the decoder's compact rendering; store the
      // inner string as binary JSON
      val inner = v.stripPrefix("{\"s\":\"").stripSuffix("\"}")
      val b = jsonb(inner)
      w.u32(b.length.toLong); w.raw(b)
  }

  private def rowsPayload(r: Row): (Int, Array[Byte]) = {
    val t = r.tbl
    val n = t.cols.size
    val w = new Packets.Writer
    w.u32(t.id); w.u16(0)
    w.u16(0) // flags
    w.u16(2) // v2 extra-data length (none)
    w.lenenc(n.toLong)
    val present = new Array[Byte]((n + 7) / 8).map(_ => 0xff.toByte)
    w.raw(present)
    if (r.kind == "update") w.raw(present)
    def image(vs: Vector[Option[String]]): Unit = {
      val nulls = new Array[Byte]((n + 7) / 8)
      vs.zipWithIndex.foreach { case (v, i) => if (v.isEmpty) nulls(i / 8) = (nulls(i / 8) | (1 << (i % 8))).toByte }
      w.raw(nulls)
      vs.zip(t.cols).foreach { case (v, c) => v.foreach(writeValue(w, c, _)) }
    }
    r.before.foreach(image)
    r.after.foreach(image)
    val tpe = r.kind match {
      case "insert" => 30
      case "update" => 31
      case _ => 32
    }
    (tpe, w.result)
  }

  /** All events of one transaction starting at `startPos`: (event bytes,
    * end position) pairs; the last one carries the commit (XID or DDL). */
  def encode(trx: Trx, startPos: Long, timestamp: Long): Vector[Array[Byte]] = {
    var pos = startPos
    val out = Vector.newBuilder[Array[Byte]]
    def emit(tpe: Int, payload: Array[Byte]): Unit = {
      pos += eventSize(payload.length)
      out += event(tpe, pos, payload, timestamp)
    }
    emit(33, gtidPayload(trx.idx + 1L))
    trx match {
      case Ddl(_, db, stmt) => emit(2, queryPayload(db, stmt))
      case Dml(idx, rows) =>
        emit(2, queryPayload(rows.head.tbl.db, "BEGIN"))
        rows.foreach { r =>
          emit(19, tableMapPayload(r.tbl))
          val (tpe, p) = rowsPayload(r)
          emit(tpe, p)
        }
        emit(16, new Packets.Writer().u64(idx + 1L).result)
    }
    out.result()
  }
}

/** A seeded traffic source: transaction `i` as a pure function of the seed. */
trait Traffic {
  def trx(i: Int): BinlogGen.Trx
  /** Schema at the start of the stream, as DDL (the live feed's seed). */
  def seedDdl: Seq[String]
  /** Wire-sink table filter (include regexes, exclude regexes). */
  def wireFilter: (Seq[String], Seq[String]) = (Nil, Nil)
  /** Transactions per second for an open loop; None = serve as fast as read. */
  def ratePerSec: Option[Double]
}

/** cdc-catchup: small GTID transactions (1–3 narrow-row insert/update/delete)
  * over four tables, served as a backlog. */
final class CatchupTraffic(seed: Long) extends Traffic {
  import BinlogGen._
  private val tables: Vector[Tbl] = Vector.tabulate(4)(k => Tbl("shop", s"orders_$k", 100L + k,
    Vector(intCol("id"), intCol("qty"), varcharCol("name", 32), varcharCol("note", 120))))

  private def image(id: Long, version: Long): Vector[Option[String]] = {
    val r = rngFor(seed ^ 0x5bd1e995L, id * 31 + version)
    Vector(Some(id.toString), Some(r.nextInt(1000).toString),
      Some("name-" + text(r, 6 + r.nextInt(10))),
      if (r.nextInt(8) == 0) None else Some(text(r, 20 + r.nextInt(80))))
  }

  def trx(i: Int): Trx = {
    val r = rngFor(seed, i)
    val n = 1 + r.nextInt(3)
    Dml(i, Vector.tabulate(n) { k =>
      val t = tables(r.nextInt(tables.size))
      val p = r.nextInt(100)
      if (p < 60 || i == 0) {
        val id = i.toLong * 3 + k
        Row("insert", t, None, Some(image(id, 0)))
      } else {
        val id = r.nextLong(i.toLong * 3)
        if (p < 85) Row("update", t, Some(image(id, i - 1L)), Some(image(id, i)))
        else Row("delete", t, Some(image(id, i - 1L)), None)
      }
    })
  }

  def seedDdl: Seq[String] = "CREATE DATABASE `shop`" +: tables.map(createSql)
  def ratePerSec: Option[Double] = None
}

/** cdc-paced: wide rows (varchar/blob/JSON up to tens of KB), one
  * transaction in `BigEvery` carrying a >1 MiB blob (fragmented on the
  * wire), a DDL every `DdlEvery` transactions (ALTER … ADD INDEX and the
  * matching DROP INDEX, alternating over the tables), and a third of the
  * tables excluded from the wire sink by its table filter, offered at
  * `Rate` transactions per second.
  *
  * The DDL leaves every column list as it was: the live feed names row
  * columns from a schema built once from `seedDdl`, so rows after an
  * in-stream CREATE TABLE or ADD COLUMN would carry stale column lists. */
final class PacedTraffic(seed: Long) extends Traffic {
  import BinlogGen._
  private val Rate = 200.0
  private val DdlEvery = 100
  private val BigEvery = 100

  private def wideTbl(name: String, id: Long): Tbl = Tbl("app", name, id,
    Vector(intCol("id"), varcharCol("title", 255), blobCol("body", 2), jsonCol("doc")))
  private val tables: Vector[Tbl] =
    Vector("t0", "t1", "t2", "t3", "t4_x", "t5_x").zipWithIndex.map { case (n, k) => wideTbl(n, 200L + k) }
  private val media = Tbl("app", "media", 300L, Vector(intCol("id"), blobCol("payload", 3)))

  /** The k-th DDL (1-based): odd k adds index `ix_p` on a table, the next
    * even k drops it again. */
  private def ddl(k: Int): String = {
    val p = (k - 1) / 2
    val t = tables(p % tables.size).name
    if (k % 2 == 1) s"ALTER TABLE `$t` ADD INDEX `ix_$p` (`title`)"
    else s"ALTER TABLE `$t` DROP INDEX `ix_$p`"
  }

  def trx(i: Int): Trx =
    if ((i + 1) % DdlEvery == 0) Ddl(i, "app", ddl((i + 1) / DdlEvery))
    else {
      // sizes and tables follow a fixed low-discrepancy schedule in the
      // transaction index, so every seed offers the same load; the seed
      // picks the bytes
      val r = rngFor(seed, i)
      if (i % BigEvery == BigEvery / 2) {
        val size = (1 << 20) + 65536 + (frac(i * Phi2) * (1 << 18)).toInt
        Dml(i, Vector(Row("insert", media, None, Some(Vector(Some(i.toString), Some(text(r, size)))))))
      } else {
        val n = 1 + i % 2
        Dml(i, Vector.tabulate(n) { k =>
          val j = i * 2L + k
          val t = tables(((j * 5) % tables.size).toInt)
          // log-uniform body size: 100 B .. 40 KB
          val body = math.exp(math.log(100) + frac(j * Phi1) * (math.log(40000) - math.log(100))).toInt
          Row("insert", t, None, Some(Vector(
            Some(j.toString),
            Some(text(r, 20 + (frac(j * Phi2) * 230).toInt)),
            Some(text(r, body)),
            Some(jsonText(text(r, 10 + (frac(j * Phi3) * 2000).toInt))))))
        })
      }
    }

  private def frac(x: Double): Double = x - math.floor(x)
  private val Phi1 = 0.6180339887498949 // golden ratio conjugate
  private val Phi2 = 0.7548776662466927 // plastic-number conjugate
  private val Phi3 = 0.5698402909980532

  def seedDdl: Seq[String] = "CREATE DATABASE `app`" +: (tables :+ media).map(createSql)
  override def wireFilter: (Seq[String], Seq[String]) = (Seq("^app\\."), Seq("_x$"))
  def ratePerSec: Option[Double] = Some(Rate)
}
