package graft.perfbench

import graft.perfbench.CdcGen._
import graft.sources.cdcwal.WalSegmentIO
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.collection.mutable

class GenSpec extends AnyFunSuite {

  private def oltp(seed: Long) = {
    val s = new OltpSource(seed, backlogTxns = 300, accounts = 500)
    s.backlog() ++ s.live(1800000000000L, 2.0, 50, 50)
  }
  private def bulk(seed: Long) = {
    val s = new BulkSource(seed, bulkTxns = 2, bulkRows = 300, streamChunks = 3, chunkRows = 40)
    s.backlog() ++ s.live(1800000000000L, 2.0, 50, 50)
  }

  test("the same seed gives byte-identical segments; another seed does not") {
    for (gen <- Seq(oltp _, bulk _)) {
      val a = gen(7); val b = gen(7); val c = gen(8)
      assert(a.map(_.name) == b.map(_.name))
      assert(a.zip(b).forall { case (x, y) => java.util.Arrays.equals(x.bytes, y.bytes) })
      assert(a.zip(c).exists { case (x, y) => !java.util.Arrays.equals(x.bytes, y.bytes) })
    }
  }

  test("segments are published whole: only the renamed file is visible to the source") {
    val dir = Files.createTempDirectory("perfbench-pub")
    val seg = oltp(1).head
    publish(dir, seg.name, seg.bytes)
    assert(WalSegmentIO.segmentFiles(dir.toString).map(_.getName) == Seq(seg.name))
    assert(Files.list(dir).toArray.length == 1) // no temp file left behind
  }

  /** Decode every record of `dir` through the WAL reader and fold the
    * DML of committed transactions into table → key → row. A streamed
    * transaction's DML applies at its stream commit, an aborted one's
    * never. */
  private def replay(dir: String): Map[String, Map[String, Map[String, String]]] = {
    val state = mutable.Map.empty[String, mutable.Map[String, Map[String, String]]]
    val pending = mutable.Map.empty[Long, mutable.ArrayBuffer[(String, String, String, Map[String, String])]]
    def image(r: org.apache.spark.sql.catalyst.InternalRow, i: Int): Map[String, String] =
      if (r.isNullAt(i)) Map.empty
      else {
        val a = r.getArray(i)
        (0 until a.numElements()).map { j =>
          val c = a.getStruct(j, 3)
          c.getUTF8String(0).toString -> Option(c.getUTF8String(1)).map(_.toString).orNull
        }.toMap
      }
    def apply(ops: Seq[(String, String, String, Map[String, String])]): Unit = ops.foreach {
      case ("d", t, k, _) => state.getOrElseUpdate(t, mutable.Map.empty).remove(k)
      case (_, t, k, row) => state.getOrElseUpdate(t, mutable.Map.empty)(k) = row
    }
    WalSegmentIO.readLinesInRange(dir, Long.MinValue, Long.MaxValue).foreach { rec =>
      val r = rec.make()
      val op = r.getUTF8String(0).toString
      val txid = r.getLong(2)
      op match {
        case "c" | "u" | "d" =>
          val table = r.getUTF8String(5).toString
          val keyCol = r.getArray(9).getUTF8String(0).toString
          val row = if (op == "d") image(r, 6) else image(r, 7)
          pending.getOrElseUpdate(txid, mutable.ArrayBuffer.empty) += ((op, table, row(keyCol), row))
          if (!r.isNullAt(11) && r.getBoolean(11)) apply(pending.remove(txid).get.toSeq) // JSON commit marker
        case "commit" | "stream_commit" => pending.remove(txid).foreach(b => apply(b.toSeq))
        case "stream_abort" => pending.remove(txid)
        case _ =>
      }
    }
    state.map { case (t, m) => t -> m.toMap }.toMap
  }

  private def modelState(m: Model): Map[String, Map[String, Map[String, String]]] =
    m.tables.map { case (t, rows) => t -> rows.map { case (k, (row, _)) => k -> row.toMap }.toMap }
      .toMap.filter(_._2.nonEmpty)

  test("decoding .pgo segments through WalSegmentIO gives back the generator's transactions") {
    val dir = Files.createTempDirectory("perfbench-pgo")
    val src = new BulkSource(3, bulkTxns = 2, bulkRows = 300, streamChunks = 3, chunkRows = 40)
    (src.backlog() ++ src.live(1800000000000L, 2.0, 50, 50)).foreach(s => publish(dir, s.name, s.bytes))
    val got = replay(dir.toString)
    assert(got == modelState(src.model))
    assert(got("t2").size == 3 * 40) // the streamed transaction's rows
    assert(!got("t1").contains("10000001"), "rows of the aborted stream must not decode as committed")
  }

  test("decoding JSON-line segments gives back the generator's transactions on top of the preload") {
    val dir = Files.createTempDirectory("perfbench-jsonl")
    val src = new OltpSource(4, backlogTxns = 250, accounts = 200)
    val preload = modelState(src.model)
    (src.backlog() ++ src.live(1800000000000L, 2.0, 50, 50)).foreach(s => publish(dir, s.name, s.bytes))
    val changed = replay(dir.toString)
    val merged = (preload.keySet ++ changed.keySet).map { t =>
      t -> (preload.getOrElse(t, Map.empty) ++ changed.getOrElse(t, Map.empty))
    }.toMap
    assert(merged == modelState(src.model))
  }
}
