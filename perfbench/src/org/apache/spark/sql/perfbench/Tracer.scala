package org.apache.spark.sql.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Minimal JSON writer for the benchmark's records: plain values, maps
  * and sequences only. */
object Json {
  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(fields: (String, Any)*): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}

/** Records everything the benchmark observes as JSON lines, in memory,
  * and writes them out once at the end. Times are epoch milliseconds
  * with sub-millisecond precision for the client's own spans.
  *
  * The untraced run attaches only [[progress]] (trigger durations and
  * input rows, which `stream_ingest`'s end-to-end metrics need). The
  * traced run adds a SparkListener (jobs, stages, task metrics, SQL
  * execution bounds), a QueryExecutionListener (planning vs execution,
  * plan facts) and the full streaming progress (state operators). */
final class Tracer(spark: SparkSession, traced: Boolean) {
  private val records = new ConcurrentLinkedQueue[String]()
  def add(fields: (String, Any)*): Unit = { records.add(Json.obj(fields: _*)); () }

  private val epochBase = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()
  def nowMs(): Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  private val nextReq = new java.util.concurrent.atomic.AtomicLong()

  /** Time one client call into graft. The caller records the span
    * with [[span]] once it knows the call's result attributes. */
  def timed[T](body: => T): (T, Double, Double) = {
    val t0 = nowMs()
    val r = body
    (r, t0, nowMs())
  }

  /** One client call: a span with its own request id. */
  def span(name: String, layer: String, start: Double, end: Double,
      attrs: (String, Any)*): Unit =
    add((Seq("t" -> "call", "name" -> name, "layer" -> layer,
      "req" -> nextReq.incrementAndGet(), "start" -> start, "end" -> end) ++ attrs): _*)

  /** A set-up or measurement phase of the run. */
  def phase[T](name: String)(body: => T): T = {
    val (r, t0, t1) = timed(body)
    add("t" -> "phase", "name" -> name, "start" -> t0, "end" -> t1)
    r
  }

  private def iso(ts: String): Double = java.time.Instant.parse(ts).toEpochMilli.toDouble

  object progress extends StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val base = Seq("t" -> "trigger", "run" -> p.runId.toString, "batch" -> p.batchId,
        "start" -> iso(p.timestamp), "rows" -> p.numInputRows,
        "ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
      val state =
        if (!traced) Nil
        else Seq("state" -> p.stateOperators.toSeq.map(o => Map(
          "op" -> o.operatorName, "rows_total" -> o.numRowsTotal,
          "rows_updated" -> o.numRowsUpdated, "mem_bytes" -> o.memoryUsedBytes,
          "commit_ms" -> o.commitTimeMs, "instances" -> o.numStateStoreInstances)))
      add((base ++ state): _*)
    }
  }

  // ---- traced run only ----

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  /** Plan facts of one finished SQL execution. */
  private def describe(qe: QueryExecution): Seq[(String, Any)] = {
    val phases = qe.tracker.phases
    val planning = phases.values.map(s => s.durationMs).sum
    val plan = scala.util.Try(nodes(qe.executedPlan)).getOrElse(Nil)
    val scans = plan.collect { case s: FileSourceScanExec => s }
    val writes = plan.collect { case w: DataWritingCommandExec => w }
    Seq(
      "plan_start" -> (if (phases.isEmpty) None else Some(phases.values.map(_.startTimeMs).min)),
      "plan_end" -> (if (phases.isEmpty) None else Some(phases.values.map(_.endTimeMs).max)),
      "planning_ms" -> planning,
      "topk" -> plan.exists(_.nodeName.contains("TopKPerKey")),
      "files_read" -> scans.map(metric(_, "numFiles")).sum,
      "bytes_read" -> scans.map(metric(_, "filesSize")).sum,
      "write_path" -> writes.map(_.cmd).collectFirst {
        case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString
      },
      "write_files" -> writes.map(metric(_, "numFiles")).sum,
      "write_bytes" -> writes.map(metric(_, "numOutputBytes")).sum)
  }

  private val sqlStart = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  // both listeners see the same QueryExecution object; they are joined
  // by its identity, and only plain values are kept
  private val qeEnd = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, Long)]()
  private val qeDone = new java.util.concurrent.ConcurrentHashMap[Int, Seq[(String, Any)]]()

  private final class StageAgg(val job: Int) {
    var submit = 0L; var done = 0L; var tasks = 0
    val durations = scala.collection.mutable.ArrayBuffer.empty[Long]
    val sums = new Array[Long](8)
  }
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageAgg]()

  object sparkListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      val sql = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      add("t" -> "job_start", "job" -> e.jobId, "start" -> e.time.toDouble,
        "sql" -> sql.map(_.toLong), "stages" -> e.stageIds.size)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      add("t" -> "job_end", "job" -> e.jobId, "end" -> e.time.toDouble)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val a = stages.computeIfAbsent(i.stageId, id => new StageAgg(stageJob.getOrDefault(id, -1)))
      a.synchronized {
        a.submit = i.submissionTime.getOrElse(0L); a.done = i.completionTime.getOrElse(0L)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = stages.computeIfAbsent(e.stageId, id => new StageAgg(stageJob.getOrDefault(id, -1)))
      val m = e.taskMetrics
      a.synchronized {
        a.tasks += 1
        a.durations += e.taskInfo.duration
        if (m != null) {
          a.sums(0) += m.executorRunTime
          a.sums(1) += m.executorCpuTime / 1000000L
          a.sums(2) += m.jvmGCTime
          a.sums(3) += m.inputMetrics.bytesRead
          a.sums(4) += m.shuffleReadMetrics.totalBytesRead
          a.sums(5) += m.shuffleWriteMetrics.bytesWritten
          a.sums(6) += m.memoryBytesSpilled + m.diskBytesSpilled
          a.sums(7) += m.outputMetrics.bytesWritten
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => sqlStart.put(s.executionId, s.time)
      case s: SparkListenerSQLExecutionEnd if s.qe != null =>
        qeEnd.put(System.identityHashCode(s.qe),
          (s.executionId, sqlStart.getOrDefault(s.executionId, s.time), s.time))
      case _ =>
    }
  }

  object executionListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qeDone.put(System.identityHashCode(qe),
        Seq("func" -> funcName, "exec_ms" -> durationNs / 1e6) ++ describe(qe))
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def attach(): Unit = {
    spark.streams.addListener(progress)
    if (traced) {
      spark.sparkContext.addSparkListener(sparkListener)
      spark.listenerManager.register(executionListener)
    }
  }

  /** Wait until every event posted so far has reached the listeners. */
  def drain(): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Turn the traced run's aggregates into records, then write all. */
  def write(path: String): Unit = {
    drain()
    if (traced) {
      qeDone.asScala.foreach { case (key, attrs) =>
        Option(qeEnd.get(key)).foreach { case (id, start, end) =>
          add((Seq("t" -> "sql", "sql" -> id, "start" -> start.toDouble,
            "end" -> end.toDouble) ++ attrs): _*)
        }
      }
      stages.asScala.foreach { case (id, a) => a.synchronized {
        val d = a.durations.sorted
        val skew = if (d.size < 2) None
          else Some(d.last.toDouble / math.max(1L, d(d.size / 2)).toDouble)
        add("t" -> "stage", "stage" -> id, "job" -> a.job, "start" -> a.submit.toDouble,
          "end" -> a.done.toDouble, "tasks" -> a.tasks, "skew" -> skew,
          "run_ms" -> a.sums(0), "cpu_ms" -> a.sums(1), "gc_ms" -> a.sums(2),
          "input_bytes" -> a.sums(3), "shuffle_read_bytes" -> a.sums(4),
          "shuffle_write_bytes" -> a.sums(5), "spill_bytes" -> a.sums(6),
          "output_bytes" -> a.sums(7))
      }}
    }
    val w = java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(path))
    try records.asScala.foreach { r => w.write(r); w.write('\n') } finally w.close()
  }
}
