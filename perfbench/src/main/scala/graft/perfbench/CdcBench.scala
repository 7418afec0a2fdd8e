package graft.perfbench

import graft.coalesce.CoalesceConfig
import graft.operators.EventToStmt
import graft.perfbench.CdcGen._
import graft.render.RenderContext
import graft.sinks.{JdbcApplier, ParquetReplicaSink}
import graft.sources.cdcwal.WalSegmentIO
import graft.streaming.{CdcMetricsListener, CdcPipeline, GraftApp, GraftConfig}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import java.nio.file.{Files, Path}
import java.sql.DriverManager
import java.util.SplittableRandom
import scala.collection.mutable

/** The replication workloads: seeded WAL segments through the
  * deployable wiring (`GraftApp.build`) into a JDBC destination or the
  * parquet replica. A pre-written backlog is drained first (catch-up),
  * then an open-loop generator publishes segments at a fixed rate (live
  * phase); the end state is compared key by key with the model.
  *
  * Traced runs wire the same chain through the program's own
  * assembled-apply scaffold (`CdcPipeline.startAssembled`) with the
  * sink's apply timed from here. */
object CdcBench {

  /** `rate`: offered transactions/s in the live phase; `cap`:
    * CDC_MAX_EVENTS_PER_TRIGGER; `slotMs`: one live segment per slot;
    * `backlog`: transactions (oltp) or 3000-row inserts (bulk) written
    * before the run; `buckets`: replica buckets; `lookups`: point
    * lookups after the drain; `liveS`: a fixed live-phase length that
    * replaces `--seconds`, for a workload whose gated figures do not
    * come from the live phase. */
  final case class Spec(name: String, rate: Double, cap: Int, slotMs: Int,
                        backlog: Int, buckets: Int, lookups: Int, liveS: Option[Double] = None) {
    def jdbc: Boolean = name == "oltp_jdbc"
  }

  val OltpJdbc = Spec("oltp_jdbc", rate = 20, cap = 500, slotMs = 50,
    backlog = 300, buckets = 0, lookups = 0)
  val BulkWarehouse = Spec("bulk_warehouse", rate = 40, cap = 4000, slotMs = 50,
    backlog = 1, buckets = 4, lookups = 30, liveS = Some(3.0))

  private val SetupRounds = 5

  private def await[A](what: String, timeoutS: Double, q: Option[StreamingQuery] = None,
                       spin: Boolean = false)(f: => Option[A]): A = {
    val end = System.nanoTime() + (timeoutS * 1e9).toLong
    var out: Option[A] = None
    while (out.isEmpty) {
      q.flatMap(_.exception).foreach(e => throw new RuntimeException(s"query failed while waiting for $what", e))
      out = f
      if (out.isEmpty) {
        if (System.nanoTime() > end) throw new RuntimeException(s"timed out waiting for $what")
        if (spin) Thread.onSpinWait() else Thread.sleep(5)
      }
    }
    out.get
  }

  /** Everything a traced run measures around the sink. */
  private final class Trace {
    val spans = new Spans
    @volatile var renderNs = 0L
    @volatile var rendered = 0L
    @volatile var stmts = 0L
  }

  /** `archiveRun`: the build's class-archive run, which skips the
    * priming set-up rounds; its figures are not reported. */
  def run(spec: Spec, seed: Long, seconds: Int, traced: Boolean, work: Path,
          archiveRun: Boolean = false): Outcome = {
    val rounds = if (archiveRun) 1 else SetupRounds
    System.setProperty("derby.stream.error.file", work.resolve("derby.log").toString)
    val source: CdcSource =
      if (spec.jdbc) new OltpSource(seed, backlogTxns = spec.backlog)
      else new BulkSource(seed, bulkTxns = spec.backlog)
    val wal = Harness.fresh(work.resolve("wal"))
    val backlog = source.backlog()
    backlog.foreach(s => publish(wal, s.name, s.bytes))
    val backlogTxns = backlog.flatMap(_.txns)
    val backlogEvents = backlogTxns.map(_.dml).sum
    val backlogLast = backlogTxns.map(_.commitLsn).max
    val warehouse = work.resolve("warehouse")
    val dbUrl = s"jdbc:derby:${work.resolve("db")}"
    if (spec.jdbc) preloadDerby(dbUrl, source.asInstanceOf[OltpSource])
    Phases.mark("inputs")

    def env(round: Int, walDir: Path): Map[String, String] = Map(
      "GRAFT_WAL_DIR" -> walDir.toString,
      "GRAFT_CHECKPOINT" -> work.resolve(s"ckpt-$round").toString,
      "GRAFT_METRICS_PORT" -> "-1",
      "GRAFT_DIALECT" -> "ansi",
      "CDC_REPLICATION_SLOT" -> s"bench_$round",
      "CDC_MAX_EVENTS_PER_TRIGGER" -> spec.cap.toString) ++
      (if (spec.jdbc) Map("GRAFT_DEST_URL" -> dbUrl)
       else Map("GRAFT_WAREHOUSE_DIR" -> (if (round == rounds - 1) warehouse
                                          else work.resolve(s"prime-wh-$round")).toString,
         "GRAFT_WAREHOUSE_BUCKETS" -> spec.buckets.toString,
         "CDC_PROTOCOL_VERSION" -> "2", "CDC_STREAMING" -> "true"))

    // Set-up: session + wiring until the first trigger starts, several
    // times. The earlier rounds wire a WAL of their own: the first one
    // holds a small workload of the same shape, drained into its own
    // destination after the measured start, so the catch-up below does
    // not pay the JVM's first-use costs; the last round is the measured
    // pipeline over the real backlog.
    val trace = new Trace
    var spark: SparkSession = null
    var query: StreamingQuery = null
    var log: ProgressLog = null
    var probe: JobProbe = null
    var opened0, read0 = 0L
    var cpu0 = 0.0
    val setups = (0 until rounds).map { round =>
      val real = round == rounds - 1
      val walDir = if (real) wal else Harness.fresh(work.resolve(s"prime-wal-$round"))
      val primeLast =
        if (real || round != 0) 0L
        else {
          val segs = primer(spec, seed, dbUrl)
          segs.foreach(s => publish(walDir, s.name, s.bytes))
          segs.flatMap(_.txns).map(_.commitLsn).max
        }
      val t0 = Harness.nowMs()
      spark = Harness.session(work)
      log = new ProgressLog
      spark.streams.addListener(log)
      probe = new JobProbe
      spark.sparkContext.addSparkListener(probe)
      val e = env(round, walDir)
      opened0 = WalSegmentIO.filesOpened.get()
      read0 = WalSegmentIO.bytesRead.get()
      query =
        if (!traced) GraftApp.build(spark, GraftConfig.fromEnv(e), e).query
        else wireTraced(spark, spec, e, if (real) trace else new Trace) // spans of the measured round only
      val q = query
      // the status flag flips when a trigger starts, data or not
      val started = await("the first trigger", 120, Some(q), spin = true)(
        if (q.status.isTriggerActive || q.lastProgress != null) Some(Harness.nowMs()) else None)
      cpu0 = Harness.cpuS()
      if (!real) {
        await("the priming workload", 120, Some(q))(
          if (primeLast == 0 || log.of(q.id).exists(_.endLsn >= primeLast)) Some(()) else None)
        q.stop(); spark.stop()
        Phases.mark(s"setup_round_$round")
      }
      (started - t0) / 1000.0
    }
    val q = query
    Phases.mark("setup")

    // catch-up: the batch whose end offset covers the backlog's last commit
    val start = await("the first batch", 150, Some(q))(log.of(q.id).headOption)
    val caught = await("catch-up", 150, Some(q))(log.of(q.id).find(_.endLsn >= backlogLast))
    val catchupS = (caught.endMs - start.startMs) / 1000.0
    val catchupCpuS = Harness.cpuS() - cpu0
    Phases.mark("catchup")

    // live phase: open loop, one segment per slot, published on schedule
    val t0Live = Harness.nowMs() + 300
    val live = source.live(t0Live, spec.liveS.getOrElse(seconds.toDouble), spec.rate, spec.slotMs)
    val published = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]() // due, at, last lsn
    val gen = new Thread(() => live.foreach { s =>
      val wait = s.dueMs - Harness.nowMs()
      if (wait > 0) Thread.sleep(wait)
      publish(wal, s.name, s.bytes)
      published.add((s.dueMs, Harness.nowMs(), s.txns.map(_.commitLsn).max))
    }, "perfbench-generator")
    gen.start()
    gen.join()
    Phases.mark("live")
    val liveTxns = live.flatMap(_.txns)
    val liveLast = liveTxns.map(_.commitLsn).max
    await("the live drain", 120, Some(q))(log.of(q.id).find(_.endLsn >= liveLast))
    q.stop()
    Phases.mark("drain")
    val batches = log.of(q.id)
    val jobs = probe.snap(spark)
    val opened = WalSegmentIO.filesOpened.get() - opened0
    val readBytes = WalSegmentIO.bytesRead.get() - read0

    // lag: due time → end of the batch whose end offset covers the commit
    val lags = liveTxns.map { t =>
      val b = batches.find(_.endLsn >= t.commitLsn).get
      (b.endMs - t.dueMs).toDouble
    }
    val lateMs = published.toArray(Array.empty[(Long, Long, Long)]).map(p => (p._2 - p._1).toDouble)

    // the end state, key by key
    val dest: Map[String, Map[String, Map[String, String]]] =
      if (spec.jdbc) readDerby(dbUrl, source.tables)
      else source.tables.map(t => t.name ->
        rowsOf(new ParquetReplicaSink(s"$warehouse/public.${t.name}", Seq(t.key), spec.buckets)
          .snapshot(spark).collect().toSeq.map(r => r.getValuesMap[Any](r.schema.fieldNames.toSeq)), t.key)).toMap
    val verdict = Check.compare(source.model, dest)
    Phases.mark("check")

    // point lookups on the drained replica, closed loop, one client
    val lookupMs = mutable.ArrayBuffer.empty[Double]
    val lookupFiles = mutable.ArrayBuffer.empty[Double]
    var lookupFails = 0
    if (!spec.jdbc) {
      val bulk = source.asInstanceOf[BulkSource]
      val sink = new ParquetReplicaSink(s"$warehouse/public.t1", Seq("id"), spec.buckets)
      val r = new SplittableRandom(seed ^ 0x5eedL)
      (0 until spec.lookups).foreach { _ =>
        val k = bulk.lookupKey(r)
        val t0 = System.nanoTime()
        val ok = try {
          val df = sink.lookup(spark, Seq(k))
          val got = df.collect().toSeq.map(r => r.getValuesMap[Any](r.schema.fieldNames.toSeq))
          if (traced) lookupFiles += scannedFiles(df)
          val want = source.model.get("t1", k).map(_.toMap)
          (got, want) match {
            case (Seq(g), Some(w)) => w.forall { case (c, v) => String.valueOf(g.getOrElse(c, null)) == v }
            case (Seq(), None) => true
            case _ => false
          }
        } catch { case _: Exception => false }
        val dt = (System.nanoTime() - t0) / 1e6
        if (traced) trace.spans.add("lookup", t0, (dt * 1e6).toLong)
        lookupMs += dt
        if (!ok) lookupFails += 1
      }
    }

    Phases.mark("lookups")
    // traced extras: a standalone decode of the run's WAL, and the layout
    val decodeEps = if (!traced) 0.0 else {
      val t0 = System.nanoTime()
      var n = 0L
      WalSegmentIO.readLinesInRange(wal.toString, Long.MinValue, Long.MaxValue).foreach { r => r.make(); n += 1 }
      n / Harness.secs(t0)
    }
    val files = if (spec.jdbc) Nil else Harness.parquetFiles(warehouse.toFile)
    val replicaRows = dest.values.map(_.size.toLong).sum
    spark.stop()
    Phases.mark("stop")

    val txCount = backlogTxns.size + liveTxns.size
    val attempted = txCount + lookupMs.size
    val failed = verdict.failedOps + lookupFails
    val rss = Harness.peakRssMb()
    val setupS = Stats.median(setups)
    val opMs = if (spec.jdbc) Stats.median(lags) else Stats.median(lookupMs.toSeq)

    val report = Json.obj(
      "workload" -> spec.name, "seed" -> seed, "traced" -> traced,
      "setup_s" -> setupS, "setup_rounds_s" -> setups,
      "catchup_eps" -> backlogEvents / catchupS, "backlog_events" -> backlogEvents,
      "catchup_s" -> catchupS, "catchup_cpu_s" -> catchupCpuS, "live_txns" -> liveTxns.size,
      "offered_tps" -> spec.rate, "max_events_per_trigger" -> spec.cap,
      "spark_threads" -> Harness.sparkThreads,
      "trigger_ms" -> batches.map(_.ms("triggerExecution")))
    report ++= percentiles("lag", lags)
    if (lookupMs.nonEmpty) report ++= percentiles("lookup", lookupMs.toSeq)
    report ++= Json.obj("fail_ratio" -> failed.toDouble / attempted,
        "wrong_keys" -> verdict.wrong.take(20).map { case (t, k) => s"$t/$k" },
        "keys_checked" -> verdict.keys, "lookup_failures" -> lookupFails,
        "peak_rss_mb" -> rss, "gen_late_ms_max" -> lateMs.max, "phases_s" -> Phases.all)

    val perLayer = mutable.LinkedHashMap.empty[String, Double]
    if (traced) {
      val nb = batches.size.toDouble
      val events = batches.map(_.inputRows).sum.toDouble
      def med(f: BatchProgress => Double) = Stats.median(batches.map(f))
      perLayer ++= Seq(
        "sources.latest_offset_ms" -> med(_.ms("latestOffset").toDouble),
        "sources.get_batch_ms" -> med(_.ms("getBatch").toDouble),
        "sources.files_opened_per_trigger" -> opened / nb,
        "sources.bytes_read_per_event" -> readBytes / math.max(1.0, events),
        "sources.decode_eps" -> decodeEps,
        "sources.backlog_events_max" -> backlogMax(batches, published, backlogLast),
        "streaming.triggers" -> nb,
        "streaming.events_per_trigger" -> events / nb,
        "streaming.trigger_ms" -> med(_.ms("triggerExecution").toDouble),
        "streaming.fixed_ms" -> med(b => (b.ms("queryPlanning") + b.ms("walCommit") + b.ms("commitOffsets")).toDouble),
        "streaming.state_rows_max" -> batches.map(_.stateRows).max.toDouble,
        "streaming.state_bytes_max" -> batches.map(_.stateBytes).max.toDouble,
        "streaming.state_commit_ms" -> med(_.stateCommitMs.toDouble),
        "streaming.state_update_ms" -> med(_.stateUpdateMs.toDouble),
        "render.us_per_event" -> (if (trace.rendered > 0) trace.renderNs / 1e3 / trace.rendered else 0.0),
        "coalesce.stmts_per_event" -> (if (trace.rendered > 0) trace.stmts.toDouble / trace.rendered else 0.0),
        "sinks.jdbc_apply_ms" -> medianOr0(trace.spans.durationsMs("sinks.jdbc_apply")),
        "sinks.jdbc_gate_ms" -> medianOr0(trace.spans.durationsMs("sinks.jdbc_gate")),
        "sinks.warehouse_apply_ms" -> medianOr0(trace.spans.durationsMs("sinks.warehouse_apply")),
        "sinks.jobs_per_trigger" -> jobs.jobs / nb,
        "sinks.shuffle_bytes_per_trigger" -> jobs.shuffleWrite / nb,
        "sinks.write_amp" -> (source match {
          case b: BulkSource => jobs.outputBytes.toDouble / b.payloadBytes
          case _ => 0.0
        }),
        "sinks.replica_files" -> files.size.toDouble,
        "sinks.replica_bytes_per_row" -> (if (files.isEmpty) 0.0 else files.map(_.length).sum.toDouble / replicaRows),
        "sinks.lookup_files_scanned" -> (if (lookupFiles.isEmpty) 0.0 else lookupFiles.sum / lookupFiles.size),
        "gen.late_ms_max" -> lateMs.max)
      // trigger spans with their progress phases as children; the sink
      // and render spans of a batch ran inside its addBatch phase
      batches.foreach { b =>
        val id = trace.spans.reserve()
        val add = b.durations.filter(_._1 != "triggerExecution").map { case (ph, ms) =>
          ph -> trace.spans.add(s"phase.$ph", b.startMs * 1000000L, ms * 1000000L, parent = id, batchId = b.batchId)
        }
        add.get("addBatch").foreach(trace.spans.adopt(b.batchId, _))
        trace.spans.add("trigger", b.startMs * 1000000L, b.ms("triggerExecution") * 1000000L,
          batchId = b.batchId, id = id)
      }
      trace.spans.write(work.resolve("spans.jsonl"))
      report("self_ms") = trace.spans.summary().map { case (n, (c, tot, self)) =>
        n -> Json.obj("count" -> c, "total_ms" -> tot, "self_ms" -> self)
      }
    }

    Outcome(
      correct = failed == 0,
      attempted = attempted, failed = failed,
      endToEnd = Seq("setup_s" -> setupS, "work_s" -> catchupS, "op_ms" -> opMs, "peak_rss_mb" -> rss),
      perLayer = perLayer.toSeq, report = report)
  }

  /** Files the executed scan actually listed for reading (after bucket
    * pruning). */
  private def scannedFiles(df: org.apache.spark.sql.DataFrame): Double =
    df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum.toDouble

  private def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** `<name>_p50_ms` plus the highest percentile the samples support,
    * each with its sample count. */
  def percentiles(name: String, xs: Seq[Double]): Seq[(String, Any)] = {
    val ps = (Seq(50.0) ++ Stats.tailPercentile(xs.size).filter(_ > 50.0)).distinct
    ps.map(p => s"${name}_${Stats.label(p)}_ms" ->
      Json.obj("value" -> Stats.percentile(xs, p), "unit" -> "ms", "samples" -> xs.size))
  }

  /** Largest gap, at a trigger's end, between the LSN generated so far
    * and the trigger's end offset. */
  private def backlogMax(batches: Seq[BatchProgress],
                         published: java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)],
                         backlogLast: Long): Double = {
    val pubs = published.toArray(Array.empty[(Long, Long, Long)]).toSeq
    batches.map { b =>
      val generated = (backlogLast +: pubs.filter(_._2 <= b.endMs).map(_._3)).max
      math.max(0L, generated - b.endLsn).toDouble
    }.max
  }

  private def rowsOf(rows: Seq[Map[String, Any]], key: String): Map[String, Map[String, String]] =
    rows.map { r =>
      val m = r.collect { case (c, v) if v != null => c -> v.toString }
      m(key) -> m
    }.toMap

  // ------------------------------------------------------------- wiring

  /** The JDBC / warehouse chains of `GraftApp.build`: the same source,
    * metrics listener and assembled-apply scaffold
    * (`CdcPipeline.startAssembled`), with timing around the sink calls.
    * The JDBC batch is persisted so the render timing reads what the
    * apply computed instead of running the assembler a second time. */
  private def wireTraced(spark: SparkSession, spec: Spec, env: Map[String, String],
                         trace: Trace): StreamingQuery = {
    val cfg = GraftConfig.fromEnv(env)
    val listener = new CdcMetricsListener
    spark.streams.addListener(listener)
    val envelope = spark.readStream.format("graft.sources.cdcwal.CdcWalSource")
      .option("path", env("GRAFT_WAL_DIR"))
      .option("maxEventsPerTrigger", env("CDC_MAX_EVENTS_PER_TRIGGER"))
      .load()
    val ckpt = env("GRAFT_CHECKPOINT")
    if (spec.jdbc) {
      val ctx = RenderContext(graft.dialect.Dialect.forName(env("GRAFT_DIALECT")), cfg.schemaMappings)
      val cc = CoalesceConfig(maxRowsPerInsert = cfg.maxRowsPerInsert,
        bulkInsertThreshold = cfg.bulkInsertThreshold)
      val applier = new JdbcApplier(env("GRAFT_DEST_URL"), ctx, cfg.slotName, cc, cfg.batchSize)
      applier.init()
      listener.setDestinationConnected(ctx.dialect.name, connected = true)
      CdcPipeline.startAssembled(envelope, cfg.originFilter, s"graft-app-${cfg.slotName}", ckpt,
        Trigger.ProcessingTime(0)) { (events, batchId) =>
        events.persist()
        try {
          trace.spans.time("sinks.jdbc_gate", batchId = batchId)(applier.lastCommitted())
          trace.spans.time("sinks.jdbc_apply", batchId = batchId)(applier.applyBatch(events, batchId))
          val evs = events.orderBy(col("lsn")).collect().toSeq
          val t0 = System.nanoTime()
          val n = evs.grouped(cfg.batchSize).map(g => EventToStmt.renderBatch(ctx, g, cc).size).sum
          val dt = System.nanoTime() - t0
          trace.spans.add("render", t0, dt, batchId = batchId)
          trace.renderNs += dt; trace.rendered += evs.size; trace.stmts += n
        } finally events.unpersist()
      }
    } else {
      val root = env("GRAFT_WAREHOUSE_DIR")
      val buckets = env("GRAFT_WAREHOUSE_BUCKETS").toInt
      listener.setDestinationConnected("warehouse", connected = true)
      CdcPipeline.startAssembled(envelope, cfg.originFilter, "graft-warehouse", ckpt,
        Trigger.ProcessingTime(0)) { (events, batchId) =>
        trace.spans.time("sinks.warehouse_apply", batchId = batchId)(
          CdcPipeline.applyWarehouseBatch(events, root, buckets, batchId))
      }
    }
  }

  // ----------------------------------------------------------- inputs

  /** A small workload of the spec's shape for the first set-up round;
    * the JDBC one writes into a schema of its own. */
  private def primer(spec: Spec, seed: Long, dbUrl: String): Seq[Segment] =
    if (spec.jdbc) {
      val src = new OltpSource(seed + 1000, backlogTxns = 100, accounts = 100, schema = "prime")
      createTables(dbUrl, src.schema, src.tables)
      src.backlog()
    } else new BulkSource(seed + 1000, bulkTxns = 1, bulkRows = 200,
      streamChunks = 2, chunkRows = 50).backlog()

  private def quoted(t: Table, schema: String = "public"): String = "\"" + schema + "\".\"" + t.name + "\""

  private def createTables(url: String, schema: String, tables: Seq[Table]): Unit = {
    val c = DriverManager.getConnection(url + ";create=true")
    try {
      val st = c.createStatement()
      st.execute("CREATE SCHEMA \"" + schema + "\"")
      tables.foreach { t =>
        st.execute(s"CREATE TABLE ${quoted(t, schema)} (" + t.cols.map { cn =>
          "\"" + cn + "\" VARCHAR(32)" + (if (cn == t.key) " PRIMARY KEY" else "")
        }.mkString(", ") + ")")
      }
    } finally c.close()
  }

  private def preloadDerby(url: String, src: OltpSource): Unit = {
    createTables(url, "public", src.tables)
    val c = DriverManager.getConnection(url)
    try {
      c.setAutoCommit(false)
      src.preload.foreach { case (t, rows) =>
        val ps = c.prepareStatement(s"INSERT INTO ${quoted(t)} VALUES (" + t.cols.map(_ => "?").mkString(",") + ")")
        rows.foreach { r =>
          val m = r.toMap
          t.cols.zipWithIndex.foreach { case (cn, i) => ps.setString(i + 1, m(cn)) }
          ps.addBatch()
        }
        ps.executeBatch(); ps.close()
      }
      c.commit()
    } finally c.close()
  }

  def readDerby(url: String, tables: Seq[Table]): Map[String, Map[String, Map[String, String]]] = {
    val c = DriverManager.getConnection(url)
    try tables.map { t =>
      val rs = c.createStatement().executeQuery(s"SELECT * FROM ${quoted(t)}")
      val md = rs.getMetaData
      val rows = mutable.ArrayBuffer.empty[Map[String, Any]]
      while (rs.next()) rows += (1 to md.getColumnCount).map(i => md.getColumnName(i) -> rs.getString(i)).toMap
      t.name -> rowsOf(rows.toSeq, t.key)
    }.toMap
    finally c.close()
  }
}
