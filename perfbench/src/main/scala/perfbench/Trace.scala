package perfbench

import graft.etl.Loader
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanLike, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One traced interval, in milliseconds since the run's clock origin.
  * `parent` is -1 for an operation's root span. */
final case class Span(id: Int, name: String, start: Double, end: Double, parent: Int, op: Int) {
  def ms: Double = end - start
}

/** In-memory span recorder, driven from the one client thread. Spans
  * are opened around calls into the engine's public functions; spans
  * derived from listener events (Catalyst phases, Spark jobs) are added
  * after the operation with [[addDerived]] and hang under the deepest
  * benchmark span that contains them. Disabled, it records nothing and
  * `span` is a plain call. */
final class Tracer(val enabled: Boolean) {
  private val origin = System.nanoTime()
  private val originEpochMs = System.currentTimeMillis().toDouble
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[(Int, String, Double)]
  private var nextId = 0
  private var op = -1
  private val derived = mutable.Set.empty[Int]

  def now: Double = (System.nanoTime() - origin) / 1e6
  def fromEpochMs(t: Long): Double = t - originEpochMs

  def beginOp(i: Int): Unit = op = i

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      open = (id, name, now) :: open
      try body
      finally {
        val (_, n, s) = open.head
        open = open.tail
        done += Span(id, n, s, now, open.headOption.map(_._1).getOrElse(-1), op)
      }
    }

  /** Add a listener-derived span to operation `opId`. */
  def addDerived(name: String, start: Double, end: Double, opId: Int): Unit =
    if (enabled) {
      val candidates = done.filter(s =>
        s.op == opId && !derived(s.id) && s.start <= start && start <= s.end)
      val parent = if (candidates.isEmpty) -1 else candidates.maxBy(_.start).id
      done += Span(nextId, name, start, end, parent, opId)
      derived += nextId
      nextId += 1
    }

  def spans: Seq[Span] = done.toSeq.sortBy(s => (s.op, s.start, s.id))
  def opSpans(opId: Int): Seq[Span] = spans.filter(_.op == opId)
}

object Tracer {
  /** Length of the union of intervals. */
  def covered(iv: Seq[(Double, Double)]): Double = {
    var total, curS, curE = 0.0
    var started = false
    for ((s, e) <- iv.sortBy(_._1)) {
      if (!started) { curS = s; curE = e; started = true }
      else if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (started) total + (curE - curS) else 0.0
  }

  def selfMs(s: Span, all: Seq[Span]): Double = {
    val kids = all.filter(_.parent == s.id).map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
    s.ms - covered(kids.filter { case (a, b) => b > a })
  }
}

/** Loader hook: delegates every call and records one span per load,
  * named by the kind of target table. */
final class TracingLoader(inner: Loader, tracer: Tracer) extends Loader {
  private def kind(table: String): String =
    if (table.startsWith("raw_")) "raw"
    else if (table.endsWith("_normalized")) "normalized"
    else if (table == graft.etl.SyncLog.tableName) "sync_log"
    else "other"

  override def ensureNamespace(): Unit = inner.ensureNamespace()
  override def load(df: DataFrame, table: String, ifExists: String, partitionBy: Seq[String]): Long =
    tracer.span(s"etl.Loader.load:${kind(table)}")(inner.load(df, table, ifExists, partitionBy))
  override def loadClustered(df: DataFrame, table: String, ifExists: String,
      partitionBy: Seq[String], clusterSalt: Int): Long =
    tracer.span(s"etl.Loader.load:${kind(table)}")(
      inner.loadClustered(df, table, ifExists, partitionBy, clusterSalt))
  override def table(spark: SparkSession, name: String): DataFrame = inner.table(spark, name)
  override def readBack(spark: SparkSession, table: String): Option[DataFrame] =
    inner.readBack(spark, table)
  override def sqlRef(table: String): Option[String] = inner.sqlRef(table)
  override def runSqlScript(spark: SparkSession, path: String): Unit = inner.runSqlScript(spark, path)
  override def close(): Unit = inner.close()
}

/** Everything the Spark listeners saw since the last [[Hooks.take]]. */
final case class Observed(
    jobs: Seq[(Int, Double, Double, Option[String])],
    stages: Seq[(Int, Int, Double, Seq[Long])],
    task: Map[String, Double],
    phases: Seq[(String, Double, Double, Double)],
    scannedFiles: Set[String],
    progress: Seq[StreamingQueryListener.QueryProgressEvent])

/** The listeners a traced run registers: a SparkListener for jobs,
  * stages and task metrics, a QueryExecutionListener for Catalyst phase
  * times and the files each scan read, and a StreamingQueryListener for
  * micro-batch progress. All state is guarded by this object's lock:
  * events arrive on Spark's listener thread. */
final class Hooks(tracer: Tracer) extends SparkListener with QueryExecutionListener {
  private val jobs = mutable.ArrayBuffer.empty[(Int, Double, Double, Option[String])]
  private val jobStart = mutable.Map.empty[Int, (Double, Option[String])]
  private val stages = mutable.ArrayBuffer.empty[(Int, Int, Double, Seq[Long])]
  private val taskTimes = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val task = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val phases = mutable.ArrayBuffer.empty[(String, Double, Double, Double)]
  private val files = mutable.Set.empty[String]
  private val progress = mutable.ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Hooks.this.synchronized { progress += e }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val batch = Option(e.properties).flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
    jobStart(e.jobId) = (tracer.fromEpochMs(e.time), batch)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (s, b) =>
      jobs += ((e.jobId, s, tracer.fromEpochMs(e.time), b))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val wall = (for (s <- i.submissionTime; c <- i.completionTime) yield (c - s).toDouble).getOrElse(0.0)
    stages += ((i.stageId, i.numTasks, wall,
      taskTimes.remove(i.stageId).map(_.toSeq).getOrElse(Nil)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      taskTimes.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
      task("tasks") += 1
      task("run_ms") += m.executorRunTime
      task("cpu_ms") += m.executorCpuTime / 1e6
      task("gc_ms") += m.jvmGCTime
      task("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
      task("shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
      task("spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
      task("input_bytes") += m.inputMetrics.bytesRead
      task("input_rows") += m.inputMetrics.recordsRead
      task("output_bytes") += m.outputMetrics.bytesWritten
      task("output_rows") += m.outputMetrics.recordsWritten
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    val scanned = Hooks.scans(qe.executedPlan).flatMap(s =>
      s.selectedPartitions.filePartitionIterator.flatMap(_.files.map(_.getPath.toString)))
    synchronized {
      for (name <- Seq("analysis", "optimization", "planning"); p <- ph.get(name))
        phases += ((name, tracer.fromEpochMs(p.startTimeMs), tracer.fromEpochMs(p.endTimeMs),
          p.durationMs.toDouble))
      files ++= scanned
    }
  }

  /** Everything seen since the previous call. Call after draining the
    * listener bus. */
  def take(): Observed = synchronized {
    val o = Observed(jobs.toSeq, stages.toSeq, task.toMap, phases.toSeq, files.toSet,
      progress.toSeq)
    jobs.clear(); stages.clear(); task.clear(); phases.clear(); files.clear(); progress.clear()
    o
  }
}

object Hooks {
  def scans(p: SparkPlan): Seq[FileSourceScanLike] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case f: FileSourceScanLike => Seq(f)
    case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }

  def install(spark: SparkSession, tracer: Tracer): Hooks = {
    val h = new Hooks(tracer)
    spark.sparkContext.addSparkListener(h)
    spark.listenerManager.register(h)
    spark.streams.addListener(h.streaming)
    h
  }
}
