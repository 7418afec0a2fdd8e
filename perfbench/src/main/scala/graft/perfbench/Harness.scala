package graft.perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import java.io.File
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** Session, clock, memory and file helpers shared by the workloads. */
object Harness {

  /** Spark threads: every core but one, which the generator (or the
    * lookup client) keeps; `--spark-threads` overrides it for the
    * one-off characterisation runs. */
  def sparkThreads: Int = sys.props.get("perfbench.sparkThreads").map(_.toInt)
    .getOrElse(math.max(1, Runtime.getRuntime.availableProcessors() - 1))

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$sparkThreads]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", sparkThreads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", 64L * 1024 * 1024)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def nowMs(): Long = System.currentTimeMillis()

  /** CPU time of every thread of this process so far, in seconds. */
  def cpuS(): Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9
  def secs(fromNs: Long): Double = (System.nanoTime() - fromNs) / 1e9

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(throw new IllegalStateException("VmHWM not in /proc/self/status"))

  def wipe(p: Path): Unit = {
    def rm(f: File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(p.toFile)
  }

  def fresh(p: Path): Path = { wipe(p); Files.createDirectories(p) }

  /** Parquet data files under `root`. */
  def parquetFiles(root: File): Seq[File] =
    if (root.isFile) Seq(root).filter(_.getName.endsWith(".parquet"))
    else Option(root.listFiles()).toSeq.flatten.flatMap(parquetFiles)
}

/** Wall-clock marks since JVM start, for the report: where a run's time went. */
object Phases {
  private val marks = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  private val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  def mark(name: String): Unit = marks(name) = (System.currentTimeMillis() - jvmStart) / 1000.0
  def all: scala.collection.Map[String, Double] = marks
}

/** Everything Spark ran, from its listener bus: jobs, tasks, shuffle,
  * spill and output bytes, and per-stage task record counts (for skew). */
final class JobProbe extends SparkListener {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val shuffleWrite = new AtomicLong
  val shuffleRead = new AtomicLong
  val spill = new AtomicLong
  val outputBytes = new AtomicLong
  private val stageRecords =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), ConcurrentLinkedQueue[Long]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      outputBytes.addAndGet(m.outputMetrics.bytesWritten)
      stageRecords.computeIfAbsent((e.stageId, e.stageAttemptId), _ => new ConcurrentLinkedQueue[Long]())
        .add(m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead)
    }
  }

  def snap(spark: SparkSession): JobProbe.Snap = {
    org.apache.spark.perfbench.ListenerBusBridge.drain(spark.sparkContext)
    JobProbe.Snap(jobs.get, tasks.get, shuffleWrite.get, shuffleRead.get, spill.get, outputBytes.get)
  }

  /** Worst stage's max task records over its median task records, among
    * stages with at least two tasks that read records. */
  def skewMaxOverMedian(): Double =
    stageRecords.values().asScala.map(_.asScala.toSeq).filter(_.size >= 2).flatMap { rs =>
      val med = Stats.median(rs.map(_.toDouble))
      if (med > 0) Some(rs.max / med) else None
    }.maxOption.getOrElse(1.0)
}

object JobProbe {
  final case class Snap(jobs: Long, tasks: Long, shuffleWrite: Long, shuffleRead: Long,
                        spill: Long, outputBytes: Long) {
    def -(o: Snap): Snap = Snap(jobs - o.jobs, tasks - o.tasks, shuffleWrite - o.shuffleWrite,
      shuffleRead - o.shuffleRead, spill - o.spill, outputBytes - o.outputBytes)
  }
}

/** One micro-batch as its progress event reports it. */
final case class BatchProgress(batchId: Long, startMs: Long, durations: Map[String, Long],
                         endLsn: Long, inputRows: Long, stateRows: Long,
                         stateBytes: Long, stateCommitMs: Long, stateUpdateMs: Long) {
  def ms(phase: String): Long = durations.getOrElse(phase, 0L)
  def endMs: Long = startMs + ms("triggerExecution")
}

/** Collects the progress events of streaming queries. */
final class ProgressLog extends StreamingQueryListener {
  private val q = new ConcurrentLinkedQueue[(java.util.UUID, BatchProgress)]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    q.add(e.progress.id -> ProgressLog.batch(e.progress))
  def of(id: java.util.UUID): Seq[BatchProgress] =
    q.asScala.filter(_._1 == id).map(_._2).toSeq.sortBy(_.batchId)
}

object ProgressLog {
  private val lsnRe = """\{"lsn":(\d+)\}""".r
  def batch(p: StreamingQueryProgress): BatchProgress = {
    val src = p.sources.headOption
    val end = src.map(_.endOffset).collect { case lsnRe(l) => l.toLong }.getOrElse(-1L)
    val st = p.stateOperators.headOption
    BatchProgress(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      end, p.numInputRows,
      st.map(_.numRowsTotal).getOrElse(0L), st.map(_.memoryUsedBytes).getOrElse(0L),
      st.map(_.commitTimeMs).getOrElse(0L), st.map(_.allUpdatesTimeMs).getOrElse(0L))
  }
}

/** In-memory trace spans, written out at the end of a traced run. A
  * span's self time is its duration minus its children's. */
final class Spans {
  import Spans.Span
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicInteger(0)

  /** An id for a span whose children are recorded before it ends. */
  def reserve(): Int = ids.incrementAndGet()

  def add(name: String, startNs: Long, durNs: Long, parent: Int = 0,
          batchId: Long = -1L, query: String = null, id: Int = 0): Int = {
    val sid = if (id > 0) id else reserve()
    spans.add(Span(sid, parent, name, batchId, query, startNs, durNs))
    sid
  }

  def time[A](name: String, parent: Int = 0, batchId: Long = -1L, query: String = null)(f: => A): A = {
    val t0 = System.nanoTime()
    try f finally add(name, t0, System.nanoTime() - t0, parent, batchId, query)
  }

  /** Make the top-level spans of micro-batch `batchId` children of `parent`. */
  def adopt(batchId: Long, parent: Int): Unit = {
    val orphans = spans.asScala.filter(s => s.batchId == batchId && s.parent == 0 && s.id != parent).toSeq
    orphans.foreach { s => spans.remove(s); spans.add(s.copy(parent = parent)) }
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)
  def durationsMs(name: String): Seq[Double] = all.filter(_.name == name).map(_.durNs / 1e6)

  /** name → (count, total ms, self ms). */
  def summary(): Map[String, (Int, Double, Double)] = {
    val s = all
    val childNs = s.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.durNs).sum }
    s.groupBy(_.name).map { case (n, xs) =>
      n -> (xs.size, xs.map(_.durNs).sum / 1e6,
        xs.map(x => math.max(0L, x.durNs - childNs.getOrElse(x.id, 0L))).sum / 1e6)
    }
  }

  def write(to: Path): Unit = {
    val lines = all.map(s => Json.render(Json.obj("id" -> s.id, "parent" -> s.parent,
      "name" -> s.name, "batch_id" -> s.batchId, "query" -> s.query,
      "start_ns" -> s.startNs, "dur_ms" -> s.durNs / 1e6)))
    Files.write(to, lines.asJava)
  }
}

object Spans {
  final case class Span(id: Int, parent: Int, name: String, batchId: Long, query: String,
                        startNs: Long, durNs: Long)
}
