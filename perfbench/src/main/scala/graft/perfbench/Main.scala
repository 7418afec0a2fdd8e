package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** What one run measured and checked. */
final case class Outcome(correct: Boolean, attempted: Long, failed: Long,
                         endToEnd: Seq[(String, Double)], perLayer: Seq[(String, Double)],
                         report: scala.collection.mutable.LinkedHashMap[String, Any])

/** Entry point: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --bench-dir <dir> [--archive-run 1]`. Prints a report line, then (last) the result:
  * `{"correct", "attempted", "failed", "metrics"}`, where metrics are the
  * end-to-end set untraced and the per-layer set traced. */
object Main {

  val Workloads = Seq("oltp_jdbc", "bulk_warehouse", "llm_batch")

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "work_s" -> "s", "op_ms" -> "ms", "peak_rss_mb" -> "MB")

  /** Every per-layer metric, on every workload; a layer a workload does
    * not run reports 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "sources.latest_offset_ms" -> "ms", "sources.get_batch_ms" -> "ms",
    "sources.files_opened_per_trigger" -> "count", "sources.bytes_read_per_event" -> "B",
    "sources.decode_eps" -> "events/s", "sources.backlog_events_max" -> "events",
    "streaming.triggers" -> "count", "streaming.events_per_trigger" -> "events",
    "streaming.trigger_ms" -> "ms", "streaming.fixed_ms" -> "ms",
    "streaming.state_rows_max" -> "rows", "streaming.state_bytes_max" -> "B",
    "streaming.state_commit_ms" -> "ms", "streaming.state_update_ms" -> "ms",
    "render.us_per_event" -> "us", "coalesce.stmts_per_event" -> "ratio",
    "sinks.jdbc_apply_ms" -> "ms", "sinks.jdbc_gate_ms" -> "ms",
    "sinks.warehouse_apply_ms" -> "ms", "sinks.jobs_per_trigger" -> "count",
    "sinks.shuffle_bytes_per_trigger" -> "B", "sinks.write_amp" -> "ratio",
    "sinks.replica_files" -> "count", "sinks.replica_bytes_per_row" -> "B",
    "sinks.lookup_files_scanned" -> "count",
    "queries.build_s" -> "s", "queries.plan_s" -> "s", "queries.exec_s" -> "s",
    "llmops.jobs" -> "count", "llmops.tasks" -> "count",
    "llmops.shuffle_write_bytes" -> "B", "llmops.shuffle_read_bytes" -> "B",
    "llmops.spill_bytes" -> "B", "llmops.skew_max_over_median" -> "ratio",
    "gen.late_ms_max" -> "ms")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts.getOrElse("workload", usage("--workload is required"))
    if (!Workloads.contains(workload)) usage(s"unknown workload '$workload' (one of ${Workloads.mkString(", ")})")
    val seed = opts.get("seed").map(_.toLong).getOrElse(usage("--seed is required"))
    val seconds = opts.get("seconds").map(_.toInt).getOrElse(10)
    val traced = opts.get("trace").contains("1")
    val benchDir = Paths.get(opts.getOrElse("bench-dir", "perfbench")).toAbsolutePath
    val work = Harness.fresh(benchDir.resolve(".work").resolve(workload))
    // one-off characterisation knobs; the registered runs never set them
    opts.get("spark-threads").foreach(n => sys.props("perfbench.sparkThreads") = n)
    def tuned(s: CdcBench.Spec) = s.copy(rate = opts.get("rate").map(_.toDouble).getOrElse(s.rate),
      cap = opts.get("cap").map(_.toInt).getOrElse(s.cap))

    val archiveRun = opts.get("archive-run").contains("1")
    val out = workload match {
      case "oltp_jdbc" => CdcBench.run(tuned(CdcBench.OltpJdbc), seed, seconds, traced, work, archiveRun)
      case "bulk_warehouse" => CdcBench.run(tuned(CdcBench.BulkWarehouse), seed, seconds, traced, work, archiveRun)
      case "llm_batch" => LlmBench.run(seed, traced, work, benchDir,
        record = opts.get("record-fingerprints").contains("1"), archiveRun = archiveRun)
    }

    // traced minus untraced, against the last untraced run of this workload
    val last = benchDir.resolve(".work").resolve(s"last-untraced-$workload.tsv")
    // the build's class-archive runs and the knobbed runs are no base
    val knobbed = Seq("rate", "cap", "spark-threads", "archive-run").exists(opts.contains)
    if (!traced && !knobbed)
      Files.write(last, out.endToEnd.map { case (k, v) => s"$k\t$v" }.asJava)
    else if (Files.exists(last)) {
      val before = Files.readAllLines(last, UTF_8).asScala.map(_.split("\t")).map(a => a(0) -> a(1).toDouble).toMap
      out.report("tracing_overhead") = Json.obj(out.endToEnd.flatMap { case (k, v) =>
        before.get(k).map(b => k -> (v - b)) }: _*)
    }
    out.report("end_to_end") = Json.obj(out.endToEnd: _*)
    println(Json.render(Json.obj("report" -> out.report)))

    val values = (out.endToEnd ++ out.perLayer).toMap
    val metrics = (if (traced) PerLayer else EndToEnd).map { case (name, unit) =>
      name -> Json.obj("value" -> values.getOrElse(name, 0.0), "unit" -> unit)
    }
    println(Json.render(Json.obj("correct" -> out.correct, "attempted" -> out.attempted,
      "failed" -> out.failed, "metrics" -> Json.obj(metrics: _*))))
    System.out.flush()
    // non-daemon threads left by Spark or Derby must not hold the JVM
    sys.exit(0)
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    sys.exit(2)
  }
}
