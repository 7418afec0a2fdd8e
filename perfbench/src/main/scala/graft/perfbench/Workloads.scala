package graft.perfbench

import graft.perfbench.CdcGen._
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom
import scala.collection.mutable

/** A seeded source of WAL segments for one replication workload: a
  * pre-written backlog, then an open-loop live schedule. Both draw from
  * one random stream, so (seed, live start) fixes every byte. */
sealed trait CdcSource {
  def ext: String
  def tables: Seq[Table]
  val model = new Model
  def backlog(): Seq[Segment]
  /** Segments due every `slotMs` from `t0Ms` for `seconds`, carrying
    * `rate` transactions per second; each commit is stamped with its
    * segment's due time. */
  def live(t0Ms: Long, seconds: Double, rate: Double, slotMs: Int): Seq[Segment]

  protected var segNo = 0
  protected def nextName(): String = { segNo += 1; segName(segNo, ext) }

  /** Transactions of the schedule, grouped by the slot that carries them. */
  protected def slots(t0Ms: Long, seconds: Double, rate: Double, slotMs: Int): Seq[(Long, Int)] = {
    val n = math.round(seconds * rate).toInt
    (0 until n).groupBy(k => (k * 1000.0 / rate / slotMs).toLong).toSeq.sortBy(_._1)
      .map { case (slot, ks) => (t0Ms + slot * slotMs, ks.size) }
  }
}

/** A key set that supports O(1) uniform picks and removals. */
final class KeyPool {
  private val keys = mutable.ArrayBuffer.empty[String]
  private val at = mutable.HashMap.empty[String, Int]
  def add(k: String): Unit = if (!at.contains(k)) { at(k) = keys.size; keys += k }
  def remove(k: String): Unit = at.remove(k).foreach { i =>
    val last = keys.remove(keys.size - 1)
    if (i < keys.size) { keys(i) = last; at(last) = i }
  }
  def pick(r: SplittableRandom): String = keys(r.nextInt(keys.size))
  def size: Int = keys.size
  def contains(k: String): Boolean = at.contains(k)
}

/** TPC-B-shaped small transactions as JSON-line segments: per
  * transaction, updates of one account (Zipf-skewed), one teller and its
  * branch (hot keys), one history insert, and on 5% of transactions a
  * delete of an earlier history row. */
final class OltpSource(seed: Long, backlogTxns: Int, val accounts: Int = 10000,
                       val tellers: Int = 100, val branches: Int = 10,
                       val schema: String = "public")
    extends CdcSource {
  val ext = "jsonl"
  val branchT = Table("branches", 1, Seq("bid", "bbalance", "filler"), "bid")
  val tellerT = Table("tellers", 2, Seq("tid", "bid", "tbalance"), "tid")
  val accountT = Table("accounts", 3, Seq("aid", "bid", "abalance"), "aid")
  val historyT = Table("history", 4, Seq("hid", "tid", "bid", "aid", "delta", "mtime"), "hid")
  val tables = Seq(branchT, tellerT, accountT, historyT)

  private val rnd = new SplittableRandom(seed)
  private val zipf = new Zipf(accounts, 1.1)
  private var lsn = 0L
  private var txid = 1000L
  private var hid = 0L
  private val liveHistory = new KeyPool

  (1 to branches).foreach(b => model.upsert("branches", b.toString,
    Seq("bid" -> b.toString, "bbalance" -> "0", "filler" -> "branch"), 0L))
  (1 to tellers).foreach(t => model.upsert("tellers", t.toString,
    Seq("tid" -> t.toString, "bid" -> (1 + (t - 1) % branches).toString, "tbalance" -> "0"), 0L))
  (1 to accounts).foreach(a => model.upsert("accounts", a.toString,
    Seq("aid" -> a.toString, "bid" -> (1 + (a - 1) % branches).toString, "abalance" -> "0"), 0L))

  /** Rows the destination holds before the run, per table. */
  def preload: Seq[(Table, Seq[Row])] =
    Seq(branchT, tellerT, accountT).map(t => t -> model.table(t.name).values.map(_._1).toSeq)

  private def bump(t: Table, key: String, col: String, delta: Int, x: Long): Row = {
    val row = model.get(t.name, key).get
    val next = row.map { case (c, v) => if (c == col) c -> (v.toLong + delta).toString else c -> v }
    model.upsert(t.name, key, next, x)
    next
  }

  private def txn(dueMs: Long): (Seq[String], Txn) = {
    txid += 1
    val x = txid
    val aid = zipf.next(rnd).toString
    val tid = (1 + rnd.nextInt(tellers)).toString
    val bid = model.get("tellers", tid).get.toMap.apply("bid")
    val delta = rnd.nextInt(10001) - 5000
    val changes = mutable.ArrayBuffer.empty[(String, Table, Row, Row)]
    changes += (("u", accountT, Seq("aid" -> aid), bump(accountT, aid, "abalance", delta, x)))
    changes += (("u", tellerT, Seq("tid" -> tid), bump(tellerT, tid, "tbalance", delta, x)))
    changes += (("u", branchT, Seq("bid" -> bid), bump(branchT, bid, "bbalance", delta, x)))
    hid += 1
    val h = hid.toString
    val hrow = Seq("hid" -> h, "tid" -> tid, "bid" -> bid, "aid" -> aid,
      "delta" -> delta.toString, "mtime" -> dueMs.toString)
    model.upsert("history", h, hrow, x)
    changes += (("c", historyT, null, hrow))
    if (rnd.nextInt(20) == 0 && liveHistory.size > 0) {
      val victim = liveHistory.pick(rnd)
      liveHistory.remove(victim)
      model.delete("history", victim, x)
      changes += (("d", historyT, Seq("hid" -> victim), null))
    }
    liveHistory.add(h)
    val lines = changes.zipWithIndex.map { case ((op, t, before, after), i) =>
      lsn += 1
      jsonEvent(op, lsn, x, dueMs, schema, t, before, after, commit = i == changes.size - 1)
    }
    (lines.toSeq, Txn(x, dueMs, lsn, changes.size))
  }

  private def segment(dueMs: Long, txDues: Seq[Long]): Segment = {
    val made = txDues.map(txn)
    Segment(nextName(), made.flatMap(_._1).mkString("", "\n", "\n").getBytes(UTF_8),
      dueMs, made.map(_._2))
  }

  /** `backlogTxns` transactions, 250 per segment, stamped at a fixed base. */
  def backlog(): Seq[Segment] =
    (0 until backlogTxns).grouped(250).map(g => segment(0L, g.map(i => BacklogBaseMs + i))).toSeq

  def live(t0Ms: Long, seconds: Double, rate: Double, slotMs: Int): Seq[Segment] =
    slots(t0Ms, seconds, rate, slotMs).map { case (due, n) => segment(due, Seq.fill(n)(due)) }

  private val BacklogBaseMs = 1700000000000L
}

/** The reference's bulk scenario shapes over two tables, as binary
  * pgoutput segments: 3000-row INSERT transactions, a protocol-v2
  * streamed transaction interleaved with small commits, a streamed
  * transaction that aborts, a full-table UPDATE and a range DELETE.
  * The live schedule is single-row inserts, updates and deletes. */
final class BulkSource(seed: Long, val bulkTxns: Int = 8, val bulkRows: Int = 3000,
                       val streamChunks: Int = 3, val chunkRows: Int = 400)
    extends CdcSource {
  val ext = "pgo"
  val t1 = Table("t1", 16384, Seq("id", "val", "col1", "col2"), "id")
  val t2 = Table("t2", 16385, Seq("id", "val", "note"), "id")
  val tables = Seq(t1, t2)

  private val rnd = new SplittableRandom(seed)
  private var lsn = 0L
  private var txid = 5000L
  private var nextT1 = 0L
  private var nextT2 = 0L
  private val liveT1 = new KeyPool
  private val liveT2 = new KeyPool
  /** Payload bytes of every row image generated (write amplification's
    * denominator). */
  var payloadBytes = 0L

  private def uuid(): String = {
    val a = rnd.nextLong(); val b = rnd.nextLong()
    f"${a >>> 32}%08x-${(a >>> 16) & 0xffff}%04x-${a & 0xffff}%04x-${b >>> 48}%04x-${b & 0xffffffffffffL}%012x"
  }
  private def t1Row(id: Long, v: Long): Row =
    Seq("id" -> id.toString, "val" -> v.toString, "col1" -> uuid(), "col2" -> uuid())
  private def t2Row(id: Long, v: Long): Row =
    Seq("id" -> id.toString, "val" -> v.toString, "note" -> s"note-${rnd.nextInt(1000000)}")
  private def count(r: Row): Row = { payloadBytes += r.map(c => c._1.length + c._2.length).sum; r }

  private def seg(): PgoSegment = new PgoSegment(tables, lsn)
  private def close(s: PgoSegment, dueMs: Long, txns: Seq[Txn]): Segment = {
    lsn = s.lastLsn
    Segment(nextName(), s.bytes, dueMs, txns)
  }
  private def newTxid(): Long = { txid += 1; txid }

  /** One normal transaction of `n` fresh t1 rows. */
  private def bulkInsert(s: PgoSegment, n: Int, dueMs: Long): Txn = {
    val x = newTxid()
    s.begin(x)
    (1 to n).foreach { _ =>
      nextT1 += 1
      val row = count(t1Row(nextT1, rnd.nextInt(1000)))
      s.insert(t1, row)
      model.upsert("t1", nextT1.toString, row, x); liveT1.add(nextT1.toString)
    }
    Txn(x, dueMs, s.commit(dueMs), n)
  }

  /** One single-row transaction: insert (50%), update (35%) or delete (15%). */
  private def small(s: PgoSegment, dueMs: Long): Txn = {
    val x = newTxid()
    s.begin(x)
    val dice = rnd.nextInt(100)
    if (dice < 50 || liveT1.size == 0) {
      nextT1 += 1
      val row = count(t1Row(nextT1, rnd.nextInt(1000)))
      s.insert(t1, row); model.upsert("t1", nextT1.toString, row, x); liveT1.add(nextT1.toString)
    } else if (dice < 85) {
      val (t, pool) = if (dice < 70 || liveT2.size == 0) (t1, liveT1) else (t2, liveT2)
      val k = pool.pick(rnd)
      val row = count(if (t == t1) t1Row(k.toLong, rnd.nextInt(1000)) else t2Row(k.toLong, rnd.nextInt(1000)))
      s.update(t, row); model.upsert(t.name, k, row, x)
    } else {
      val k = liveT1.pick(rnd)
      s.delete(t1, k); model.delete("t1", k, x); liveT1.remove(k)
    }
    Txn(x, dueMs, s.commit(dueMs), 1)
  }

  def backlog(): Seq[Segment] = {
    val base = 1700000000000L
    val out = mutable.ArrayBuffer.empty[Segment]
    (0 until bulkTxns).foreach { i =>
      val s = seg(); val t = bulkInsert(s, bulkRows, base + i); out += close(s, 0L, Seq(t))
    }
    // a streamed (v2) transaction into t2, one chunk per segment, with
    // small commits between the chunks; it commits in the last segment
    val sx = newTxid()
    val streamed = mutable.ArrayBuffer.empty[(String, Row)]
    (0 until streamChunks).foreach { c =>
      val s = seg()
      s.streamStart(sx, first = c == 0)
      (1 to chunkRows).foreach { _ =>
        nextT2 += 1
        val row = count(t2Row(nextT2, rnd.nextInt(1000)))
        s.insert(t2, row, inStream = Some(sx)); streamed += ((nextT2.toString, row))
      }
      s.streamStop()
      val smalls = (1 to 10).map(j => small(s, base + 100 + c * 10 + j))
      val commit =
        if (c == streamChunks - 1) {
          val at = s.streamCommit(sx, base + 200)
          streamed.foreach { case (k, row) => model.upsert("t2", k, row, sx); liveT2.add(k) }
          Seq(Txn(sx, base + 200, at, streamed.size))
        } else Nil
      out += close(s, 0L, smalls ++ commit)
    }
    // a streamed transaction that aborts: none of its rows may appear
    val ax = newTxid()
    val s = seg()
    s.streamStart(ax, first = true)
    (1 to chunkRows).foreach { i =>
      s.insert(t1, t1Row(10000000L + i, 0), inStream = Some(ax))
    }
    s.streamStop()
    s.streamAbort(ax)
    out += close(s, 0L, Nil)
    // scenario2: UPDATE t2 SET val = val + 10000 (every row)
    val ux = newTxid()
    val us = seg()
    us.begin(ux)
    model.table("t2").toSeq.sortBy(_._1.toLong).foreach { case (k, (row, _)) =>
      val next = count(row.map { case (c, v) => if (c == "val") c -> (v.toLong + 10000).toString else c -> v })
      us.update(t2, next); model.upsert("t2", k, next, ux)
    }
    out += close(us, 0L, Seq(Txn(ux, base + 300, us.commit(base + 300), liveT2.size)))
    // scenario3: DELETE FROM t1 WHERE id <= a third of the rows
    val dx = newTxid()
    val ds = seg()
    ds.begin(dx)
    val cut = nextT1 / 3
    val doomed = (1L to cut).map(_.toString).filter(liveT1.contains)
    doomed.foreach { k => ds.delete(t1, k); model.delete("t1", k, dx); liveT1.remove(k) }
    out += close(ds, 0L, Seq(Txn(dx, base + 400, ds.commit(base + 400), doomed.size)))
    out.toSeq
  }

  def live(t0Ms: Long, seconds: Double, rate: Double, slotMs: Int): Seq[Segment] =
    slots(t0Ms, seconds, rate, slotMs).map { case (due, n) =>
      val s = seg()
      val txns = (1 to n).map(_ => small(s, due))
      close(s, due, txns)
    }

  /** Keys to probe after the drain: live, deleted and never-written ids. */
  def lookupKey(r: SplittableRandom): String = (1 + r.nextLong(nextT1 + 50)).toString
}
