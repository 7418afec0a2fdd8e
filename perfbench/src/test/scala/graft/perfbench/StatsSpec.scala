package graft.perfbench

import graft.perfbench.CdcGen.Model
import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("the reported tail is the highest percentile with at least 10 samples beyond it") {
    assert(Stats.tailPercentile(1000).contains(99.0))
    assert(Stats.tailPercentile(999).contains(95.0))
    assert(Stats.tailPercentile(200).contains(95.0))
    assert(Stats.tailPercentile(199).contains(90.0))
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(99).contains(75.0))
    assert(Stats.tailPercentile(20).contains(50.0))
    assert(Stats.tailPercentile(19).isEmpty)
    assert(Stats.tailPercentile(100000).contains(99.0))
    assert(Stats.label(99.0) == "p99")
  }

  test("percentiles are nearest-rank and report their sample count") {
    val xs = (1 to 200).map(_.toDouble).reverse
    assert(Stats.percentile(xs, 50) == 100.0)
    assert(Stats.percentile(xs, 95) == 190.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    val ps = CdcBench.percentiles("lag", xs).toMap
    assert(ps.keySet == Set("lag_p50_ms", "lag_p95_ms"))
    assert(ps("lag_p95_ms").asInstanceOf[scala.collection.Map[String, Any]]("samples") == 200)
  }

  test("report lines stay one parseable JSON object whatever an error message holds") {
    val nasty = "bad \"quote\" \\ back\nslash\ttab\u0001 and   end"
    val line = Json.render(Json.obj("errors" -> Json.obj("q" -> nasty), "x" -> 1.5, "n" -> 3L))
    assert(!line.contains("\n") && !line.contains(" "))
    val parsed = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(parsed.get("errors").get("q").asText() == nasty)
    assert(parsed.get("x").asDouble() == 1.5 && parsed.get("n").asLong() == 3L)
    assertThrows[IllegalArgumentException](Json.render(Double.NaN))
  }

  test("a perturbed destination fails the check and charges the last writer") {
    val src = new OltpSource(11, backlogTxns = 200, accounts = 300)
    src.backlog()
    val m = src.model
    def dest(): Map[String, Map[String, Map[String, String]]] =
      m.tables.map { case (t, rows) => t -> rows.map { case (k, (r, _)) => k -> r.toMap }.toMap }.toMap
    val clean = Check.compare(m, dest())
    assert(clean.wrong.isEmpty && clean.failedOps == 0 && clean.keys > 0)

    // one wrong balance: charged to the transaction that last wrote it
    val (hotKey, (hotRow, writer)) = m.table("accounts").find(_._2._2 > 0).get
    val d1 = dest().updated("accounts", dest()("accounts").updated(hotKey,
      hotRow.toMap.updated("abalance", "-1")))
    val v1 = Check.compare(m, d1)
    assert(v1.wrong == Seq(("accounts", hotKey)) && v1.failedOps == 1)
    assert(writer > 0)

    // a deleted row that came back is charged to its delete
    val (gone, deleter) = m.deletedBy.head
    val d2 = dest().updated(gone._1, dest()(gone._1).updated(gone._2, Map("hid" -> gone._2)))
    val v2 = Check.compare(m, d2)
    assert(v2.wrong == Seq(gone) && v2.failedOps == 1 && deleter > 0)

    // a missing row counts too; the run's fail ratio is then above zero
    val d3 = dest().updated("branches", dest()("branches") - "1")
    val v3 = Check.compare(m, d3)
    assert(v3.failedOps >= 1 && v3.failedOps.toDouble / 200 > 0)
    assert(new Model().tables.isEmpty)
  }
}
