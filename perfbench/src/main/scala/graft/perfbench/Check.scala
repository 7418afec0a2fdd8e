package graft.perfbench

import graft.perfbench.CdcGen.Model

/** End-state check: the destination against the generator's model. */
object Check {

  /** `wrong` holds (table, key) pairs that differ; `failedOps` charges
    * each wrong key to the transaction that last wrote (or deleted) it,
    * and each wrong key with no such transaction to itself. */
  final case class Verdict(keys: Int, wrong: Seq[(String, String)], failedOps: Int)

  /** `dest`: table → key → column → value, as read back from the
    * destination. Only the model's columns are compared. */
  def compare(model: Model, dest: Map[String, Map[String, Map[String, String]]]): Verdict = {
    val charged = scala.collection.mutable.Set.empty[Long]
    var orphans = 0
    var keys = 0
    val wrong = Seq.newBuilder[(String, String)]
    model.tables.foreach { case (t, rows) =>
      val got = dest.getOrElse(t, Map.empty)
      (rows.keySet ++ got.keySet).foreach { k =>
        keys += 1
        val want = rows.get(k).map(_._1.toMap)
        val ok = (want, got.get(k)) match {
          case (Some(w), Some(g)) => w.forall { case (c, v) => g.get(c).contains(v) }
          case (None, None) => true
          case _ => false
        }
        if (!ok) {
          wrong += ((t, k))
          val writer = rows.get(k).map(_._2).orElse(model.deletedBy.get((t, k))).getOrElse(0L)
          if (writer > 0) charged += writer else orphans += 1
        }
      }
    }
    Verdict(keys, wrong.result(), charged.size + orphans)
  }
}
