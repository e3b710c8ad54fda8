package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory trace of a traced run: spans at each boundary the
  * harness crosses (run → workload → PipelineMain invocation or query
  * → micro-batch → phase, plus direct layer calls), and the raw
  * per-batch, per-task and per-execution records the listeners below
  * collect. Nothing is written until the run ends.
  */
object Trace {

  final case class Span(id: Long, parent: Long, name: String, startNs: Long,
      endNs: Long, attrs: Map[String, Any])

  final case class StateOp(rows: Long, memoryBytes: Long, commitMs: Long,
      updateMs: Long, dropped: Long, custom: Map[String, Long])

  final case class Progress(query: String, batchId: Long, startNs: Long,
      durations: Map[String, Long], inputRows: Long, stateOps: Seq[StateOp],
      tag: String)

  final case class TaskRec(stageId: Int, durationMs: Long, shuffleWrite: Long,
      shuffleRead: Long, fetchWaitMs: Long, tag: String)

  final case class ExecRec(funcName: String, planMs: Double, tag: String)

  private val nextId = new AtomicLong(1)
  val spans = new ConcurrentLinkedQueue[Span]()
  val progress = new ConcurrentLinkedQueue[Progress]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val execs = new ConcurrentLinkedQueue[ExecRec]()
  val jobs = new ConcurrentLinkedQueue[String]()

  /** Span the listener-built spans hang under, and the tag records are
    * attributed to (set by the harness around each traced section).
    */
  @volatile var parent: Long = 0L
  @volatile var tag: String = ""

  /** Spans are recorded only in traced runs. */
  @volatile var enabled: Boolean = false

  private val querySpans = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  def newId(): Long = nextId.getAndIncrement()

  def add(s: Span): Unit = spans.add(s)

  /** Runs `f` inside a span whose id becomes the parent of everything
    * recorded meanwhile.
    */
  def span[T](name: String, attrs: Map[String, Any] = Map.empty)(f: => T): T =
    if (!enabled) f
    else {
      val id = newId()
      val outer = parent
      parent = id
      val t0 = Clock.wallNs()
      try f
      finally {
        parent = outer
        add(Span(id, outer, name, t0, Clock.wallNs(), attrs))
      }
    }

  /** The span of one streaming query run, created on its first batch. */
  def querySpan(runId: String, name: String, startNs: Long): Long =
    querySpans.computeIfAbsent(runId, _ => {
      val id = newId()
      add(Span(id, parent, s"query:$name", startNs, startNs, Map("run_id" -> runId)))
      id
    })

  /** Streaming progress → micro-batch span plus one child span per
    * phase, laid out in execution order from the batch start.
    */
  def onProgress(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Unit = {
    val name = Option(p.name).getOrElse(p.id.toString)
    val start = {
      val i = java.time.Instant.parse(p.timestamp)
      i.getEpochSecond * 1000000000L + i.getNano
    }
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val ops = p.stateOperators.toSeq.map { o =>
      StateOp(o.numRowsTotal, o.memoryUsedBytes, o.commitTimeMs, o.allUpdatesTimeMs,
        o.numRowsDroppedByWatermark,
        Option(o.customMetrics).map(_.asScala.map { case (k, v) => k -> v.longValue }.toMap)
          .getOrElse(Map.empty))
    }
    progress.add(Progress(name, p.batchId, start, d, p.numInputRows, ops, tag))
    val q = querySpan(p.runId.toString, name, start)
    val total = d.getOrElse("triggerExecution", 0L)
    val batch = newId()
    add(Span(batch, q, "micro-batch", start, start + total * 1000000L,
      Map("query" -> name, "batch_id" -> p.batchId, "input_rows" -> p.numInputRows)))
    var t = start
    Seq("latestOffset", "getBatch", "walCommit", "queryPlanning", "addBatch", "commitOffsets")
      .foreach { ph =>
        d.get(ph).foreach { ms =>
          add(Span(newId(), batch, s"phase:$ph", t, t + ms * 1000000L, Map.empty))
          t += ms * 1000000L
        }
      }
  }

  def reset(): Unit = {
    spans.clear(); progress.clear(); tasks.clear(); execs.clear(); jobs.clear()
    querySpans.clear()
  }
}

/** Streaming progress listener (`spark.streams.addListener`, or the
  * `spark.sql.streaming.streamingQueryListeners` conf for sessions the
  * harness does not build itself).
  */
class TraceStreamListener extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    Trace.onProgress(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** Task and job listener (`sparkContext.addSparkListener`, or the
  * `spark.extraListeners` conf): shuffle bytes, fetch wait and task
  * durations per stage, jobs per traced section.
  */
class TraceSparkListener extends SparkListener {
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null)
      Trace.tasks.add(Trace.TaskRec(e.stageId, e.taskInfo.duration,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleReadMetrics.fetchWaitTime, Trace.tag))
  }
  override def onJobStart(e: SparkListenerJobStart): Unit = Trace.jobs.add(Trace.tag)
}

/** Batch execution listener (`spark.listenerManager.register`, or the
  * `spark.sql.queryExecutionListeners` conf): planning time per
  * executed action (analysis + optimization + physical planning).
  */
class TraceExecListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    val planMs = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs.toDouble).sum
    Trace.execs.add(Trace.ExecRec(funcName, planMs, Trace.tag))
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object TraceListeners {
  private val Confs = Seq(
    "spark.extraListeners" -> classOf[TraceSparkListener].getName,
    "spark.sql.streaming.streamingQueryListeners" -> classOf[TraceStreamListener].getName,
    "spark.sql.queryExecutionListeners" -> classOf[TraceExecListener].getName)

  /** Attaches the listeners to every session built from now on
    * (SparkConf reads `spark.*` system properties), so `PipelineMain`'s
    * own session is traced from its first batch.
    */
  def attachToNewSessions(): Unit = Confs.foreach { case (k, v) => System.setProperty(k, v) }

  def detachFromNewSessions(): Unit = Confs.foreach { case (k, _) => System.clearProperty(k) }

  final case class Registered(stream: TraceStreamListener, spark: TraceSparkListener,
      exec: TraceExecListener)

  /** Registers the listeners on a session the harness built itself. */
  def register(spark: org.apache.spark.sql.SparkSession): Registered = {
    val r = Registered(new TraceStreamListener, new TraceSparkListener, new TraceExecListener)
    spark.streams.addListener(r.stream)
    spark.sparkContext.addSparkListener(r.spark)
    spark.listenerManager.register(r.exec)
    r
  }

  def unregister(spark: org.apache.spark.sql.SparkSession, r: Registered): Unit = {
    spark.streams.removeListener(r.stream)
    spark.sparkContext.removeSparkListener(r.spark)
    spark.listenerManager.unregister(r.exec)
  }
}

/** Per-layer metrics from the trace records whose tag starts with `tag`. */
object Layers {

  private def p50(xs: Iterable[Double]): Double = Stats.median(xs.toSeq)

  def streaming(tag: String, queries: String => Boolean): Map[String, Double] = {
    val ps = Trace.progress.asScala.filter(p => p.tag.startsWith(tag) && queries(p.query)).toSeq
    def dur(k: String) = p50(ps.flatMap(_.durations.get(k)).map(_.toDouble))
    val ops = ps.flatMap(_.stateOps)
    val lastOps = ps.groupBy(_.query).values.map(_.maxBy(_.batchId)).toSeq.flatMap(_.stateOps)
    val firstPlanning = ps.groupBy(_.query).values
      .flatMap(_.minBy(_.batchId).durations.get("queryPlanning")).map(_.toDouble)
    Map(
      "streaming.batches" -> ps.size.toDouble,
      "streaming.trigger_ms_p50" -> dur("triggerExecution"),
      "streaming.latest_offset_ms_p50" -> dur("latestOffset"),
      "streaming.planning_ms_p50" -> dur("queryPlanning"),
      "streaming.add_batch_ms_p50" -> dur("addBatch"),
      "streaming.first_batch_planning_ms_max" -> firstPlanning.maxOption.getOrElse(Double.NaN),
      "streaming.input_rows" -> ps.map(_.inputRows).sum.toDouble,
      "streaming.late_dropped_rows" -> ops.map(_.dropped).sum.toDouble,
      "hadoop.wal_commit_ms_p50" -> dur("walCommit"),
      "hadoop.commit_offsets_ms_p50" -> dur("commitOffsets"),
      "state.commit_ms_p50" -> p50(ops.map(_.commitMs.toDouble)),
      "state.update_ms_p50" -> p50(ops.map(_.updateMs.toDouble)),
      "state.rows" -> lastOps.map(_.rows).sum.toDouble,
      "state.memory_bytes" -> lastOps.map(_.memoryBytes).sum.toDouble)
  }

  /** Per query name, for the artifact (not the metric line). */
  def streamingByQuery(tag: String): Map[String, Map[String, Double]] =
    Trace.progress.asScala.filter(_.tag.startsWith(tag)).map(_.query).toSeq.distinct.map { q =>
      val ps = Trace.progress.asScala.filter(p => p.tag.startsWith(tag) && p.query == q).toSeq
      def dur(k: String) = p50(ps.flatMap(_.durations.get(k)).map(_.toDouble))
      val ops = ps.flatMap(_.stateOps)
      val rocks = ops.map(_.custom.collect {
        case (k, v) if k.startsWith("rocksdbCommit") && k.endsWith("Latency") => v
      }.sum.toDouble)
      q -> Map(
        "batches" -> ps.size.toDouble, "trigger_ms_p50" -> dur("triggerExecution"),
        "latest_offset_ms_p50" -> dur("latestOffset"), "planning_ms_p50" -> dur("queryPlanning"),
        "add_batch_ms_p50" -> dur("addBatch"), "wal_commit_ms_p50" -> dur("walCommit"),
        "commit_offsets_ms_p50" -> dur("commitOffsets"),
        "input_rows" -> ps.map(_.inputRows).sum.toDouble,
        "input_rows_per_batch_p50" -> p50(ps.filter(_.inputRows > 0).map(_.inputRows.toDouble)),
        "late_dropped_rows" -> ops.map(_.dropped).sum.toDouble,
        "state_commit_ms_p50" -> p50(ops.map(_.commitMs.toDouble)),
        "state_update_ms_p50" -> p50(ops.map(_.updateMs.toDouble)),
        "rocksdb_commit_ms_p50" -> (if (ops.exists(_.custom.nonEmpty)) p50(rocks) else Double.NaN))
    }.toMap

  def shuffle(tag: String): Map[String, Double] = {
    val ts = Trace.tasks.asScala.filter(_.tag.startsWith(tag)).toSeq
    val skew = ts.groupBy(_.stageId).values.filter(_.size >= 4).map { st =>
      val d = st.map(_.durationMs.toDouble)
      d.max / math.max(1.0, Stats.median(d))
    }
    Map(
      "shuffle.write_bytes" -> ts.map(_.shuffleWrite).sum.toDouble,
      "shuffle.read_bytes" -> ts.map(_.shuffleRead).sum.toDouble,
      "shuffle.task_ms_max_over_median" -> p50(skew))
  }

  def fetchWaitMs(tag: String): Double =
    Trace.tasks.asScala.filter(_.tag.startsWith(tag)).map(_.fetchWaitMs).sum.toDouble
}
