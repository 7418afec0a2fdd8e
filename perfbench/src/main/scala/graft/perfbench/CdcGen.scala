package graft.perfbench

import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.SplittableRandom
import scala.collection.mutable

/** Seeded CDC input for the replication workloads, plus the exact end
  * state those inputs must produce.
  *
  * A workload is a list of [[Segment]]s: the bytes of one WAL segment
  * file, the time it is due (0 = backlog, written before the run), and
  * the transactions it commits. Every transaction that commits is
  * folded into the [[Model]]; aborted ones are not. Values are text, as
  * on the wire. */
object CdcGen {

  /** One row image: column name → text value (null = SQL NULL). */
  type Row = Seq[(String, String)]

  final case class Table(name: String, relId: Int, cols: Seq[String], key: String)

  /** One committed (or aborted) source transaction. */
  final case class Txn(txid: Long, dueMs: Long, commitLsn: Long, dml: Int)

  final case class Segment(name: String, bytes: Array[Byte], dueMs: Long,
                           txns: Seq[Txn])

  /** The generator's view of the destination: table → key → (row, the
    * txid that last wrote it; 0 = preloaded). */
  final class Model {
    val tables = mutable.LinkedHashMap.empty[String, mutable.HashMap[String, (Row, Long)]]
    /** (table, key) → txid of the delete that removed it. */
    val deletedBy = mutable.HashMap.empty[(String, String), Long]
    def table(t: String): mutable.HashMap[String, (Row, Long)] =
      tables.getOrElseUpdate(t, mutable.HashMap.empty)
    def upsert(t: String, key: String, row: Row, txid: Long): Unit = {
      table(t)(key) = (row, txid); deletedBy.remove((t, key))
    }
    def delete(t: String, key: String, txid: Long): Unit = {
      table(t).remove(key); deletedBy((t, key)) = txid
    }
    def get(t: String, key: String): Option[Row] = table(t).get(key).map(_._1)
  }

  /** Publish bytes as `dir/name` so a reader never sees a torn file:
    * write a dot-file (which the WAL source ignores), then rename. */
  def publish(dir: Path, name: String, bytes: Array[Byte]): Unit = {
    val tmp = dir.resolve(s".tmp-$name")
    Files.write(tmp, bytes)
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  def segName(i: Int, ext: String): String = f"segment-$i%08d.$ext"

  // ------------------------------------------------------------ JSONL

  private def jstr(s: String): String =
    if (s == null) "null" else "\"" + Json.escape(s) + "\""

  private def jimage(row: Row): String =
    if (row == null) "null"
    else row.map { case (n, v) => s"""{"name":${jstr(n)},"value":${jstr(v)}}""" }
      .mkString("[", ",", "]")

  /** One JSON-line event in the cdcwal envelope. */
  def jsonEvent(op: String, lsn: Long, txid: Long, commitTsMs: Long, schema: String,
                t: Table, before: Row, after: Row, commit: Boolean): String =
    s"""{"op":"$op","lsn":$lsn,"txid":$txid,"commitTsMs":$commitTsMs,""" +
      s""""schema":${jstr(schema)},"table":${jstr(t.name)},"before":${jimage(before)},""" +
      s""""after":${jimage(after)},"replicaIdentity":"DEFAULT",""" +
      s""""keyColumns":[${jstr(t.key)}],"commit":$commit}"""

  // ------------------------------------------------------- pgoutput (.pgo)

  /** Microseconds between the Unix and PostgreSQL (2000-01-01) epochs. */
  private val PgEpochMicros = 946684800000000L

  /** Frames of one `.pgo` segment: [lsn:Int64][len:Int32][payload]. Each
    * segment starts with the Relation frames of every table, so it
    * decodes on its own. */
  final class PgoSegment(tables: Seq[Table], lsn0: Long) {
    private val out = new ByteArrayOutputStream()
    private var lsn = lsn0
    def lastLsn: Long = lsn
    tables.foreach(t => frame(relation(t)))

    private def frame(payload: Array[Byte]): Long = {
      lsn += 1
      val b = ByteBuffer.allocate(12 + payload.length)
      b.putLong(lsn).putInt(payload.length).put(payload)
      out.write(b.array())
      lsn
    }
    private def msg(size: Int)(build: ByteBuffer => Unit): Array[Byte] = {
      val b = ByteBuffer.allocate(size); build(b)
      java.util.Arrays.copyOf(b.array(), b.position())
    }
    private def cstr(b: ByteBuffer, s: String): Unit = { b.put(s.getBytes(UTF_8)); b.put(0.toByte) }
    private def tuple(b: ByteBuffer, t: Table, row: Row): Unit = {
      val m = row.toMap
      b.putShort(t.cols.length.toShort)
      t.cols.foreach { c =>
        m.get(c) match {
          case Some(v) if v != null =>
            val bs = v.getBytes(UTF_8); b.put('t'.toByte).putInt(bs.length).put(bs)
          case Some(_) => b.put('n'.toByte)
          case None => b.put('u'.toByte) // unchanged TOAST: not sent
        }
      }
    }
    private def cap(row: Row): Int = 16 + row.map(c => 9 + Option(c._2).map(_.length * 4).getOrElse(0)).sum
    private def xid(b: ByteBuffer, x: Option[Long]): Unit = x.foreach(v => b.putInt(v.toInt))

    private def relation(t: Table): Array[Byte] = msg(256) { b =>
      b.put('R'.toByte).putInt(t.relId); cstr(b, "public"); cstr(b, t.name)
      b.put('d'.toByte).putShort(t.cols.length.toShort)
      t.cols.foreach { c =>
        b.put((if (c == t.key) 1 else 0).toByte); cstr(b, c); b.putInt(25).putInt(-1)
      }
    }
    def begin(txid: Long): Long = frame(msg(32)(_.put('B'.toByte).putLong(0L).putLong(0L).putInt(txid.toInt)))
    def insert(t: Table, row: Row, inStream: Option[Long] = None): Long =
      frame(msg(cap(row)) { b => b.put('I'.toByte); xid(b, inStream); b.putInt(t.relId).put('N'.toByte); tuple(b, t, row) })
    /** Key unchanged under REPLICA IDENTITY DEFAULT: no old tuple. */
    def update(t: Table, row: Row, inStream: Option[Long] = None): Long =
      frame(msg(cap(row)) { b =>
        b.put('U'.toByte); xid(b, inStream); b.putInt(t.relId).put('N'.toByte); tuple(b, t, row)
      })
    def delete(t: Table, key: String): Long =
      frame(msg(64 + key.length * 4 + t.cols.length * 9) { b =>
        b.put('D'.toByte).putInt(t.relId).put('K'.toByte)
        tuple(b, t, Seq(t.key -> key) ++ t.cols.filter(_ != t.key).map(_ -> null))
      })
    def commit(tsMs: Long): Long = {
      val at = lsn + 1
      frame(msg(32)(_.put('C'.toByte).put(0.toByte).putLong(at).putLong(at + 1)
        .putLong(tsMs * 1000L - PgEpochMicros)))
    }
    def streamStart(txid: Long, first: Boolean): Long =
      frame(msg(16)(_.put('S'.toByte).putInt(txid.toInt).put((if (first) 1 else 0).toByte)))
    def streamStop(): Long = frame(Array('E'.toByte))
    def streamCommit(txid: Long, tsMs: Long): Long = {
      val at = lsn + 1
      frame(msg(40)(_.put('c'.toByte).putInt(txid.toInt).put(0.toByte).putLong(at)
        .putLong(at + 1).putLong(tsMs * 1000L - PgEpochMicros)))
    }
    def streamAbort(txid: Long): Long =
      frame(msg(16)(_.put('A'.toByte).putInt(txid.toInt).putInt(txid.toInt)))
    def bytes: Array[Byte] = out.toByteArray
  }

  /** Zipf(s) sampler over ranks 1..n (rank 1 hottest) by CDF search. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val tot = w.sum
      var acc = 0.0
      w.map { x => acc += x / tot; acc }
    }
    def next(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      var lo = 0; var hi = n - 1
      while (lo < hi) { val mid = (lo + hi) >>> 1; if (cdf(mid) < u) lo = mid + 1 else hi = mid }
      lo + 1
    }
  }
}
