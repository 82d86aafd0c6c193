package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval on the epoch-millisecond clock. `parent` is 0 for a
  * root span. `group` is the Spark job group the interval ran under, which
  * is how stages find their parent. */
final case class Span(id: Long, parent: Long, layer: String, name: String,
                      start: Double, end: Double, group: String = null) {
  def ms: Double = end - start
}

/** One completed stage, with its task metrics summed over tasks. */
final case class StageRec(stageId: Int, group: String, start: Long, end: Long,
                          tasks: Int, taskMs: Double, cpuMs: Double,
                          gcMs: Double, shuffleRead: Long, shuffleWrite: Long,
                          spill: Long)

/** Catalyst phases of one QueryExecution: name -> (start, end) epoch ms. */
final case class QeRec(phases: Map[String, (Long, Long)])

/** One micro-batch progress event, flattened. */
final case class MicroBatch(query: String, runId: String, batchId: Long,
                       start: Long, durations: Map[String, Long], rows: Long,
                       startOffset: Long, endOffset: Long,
                       stateCommitMs: Long, stateRows: Long, stateBytes: Long) {
  def end: Long = start + durations.getOrElse("triggerExecution", 0L)
}

/** Collects what the benchmark reads from Spark's listener APIs.
  *
  * Progress events are always collected: the end-to-end latencies come
  * from them. With `traced`, the recorder also keeps stage metrics (job
  * group -> stages), Catalyst phases (QueryExecutionListener) and the
  * benchmark's own call spans, and can lay them out as one span tree. */
final class Recorder(spark: SparkSession, val traced: Boolean) {
  private val ids = new AtomicLong()
  private val calls = new ConcurrentLinkedQueue[Span]()
  private val stages = new ConcurrentLinkedQueue[StageRec]()
  private val qes = new ConcurrentLinkedQueue[QeRec]()
  private val batches = new ConcurrentLinkedQueue[MicroBatch]()
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()

  private def offsetOf(json: String): Long =
    if (json == null || json == "null") -1L
    else json.trim.stripPrefix("\"").stripSuffix("\"").toLong

  private val progressListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val src = p.sources.headOption
      val ops = p.stateOperators
      batches.add(MicroBatch(
        query = p.name, runId = p.runId.toString, batchId = p.batchId,
        start = java.time.Instant.parse(p.timestamp).toEpochMilli,
        durations = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        rows = p.numInputRows,
        startOffset = src.map(s => offsetOf(s.startOffset)).getOrElse(-1L),
        endOffset = src.map(s => offsetOf(s.endOffset)).getOrElse(-1L),
        stateCommitMs = ops.map(_.commitTimeMs).sum,
        stateRows = ops.map(_.numRowsTotal).sum,
        stateBytes = ops.map(_.memoryUsedBytes).sum))
    }
  }
  spark.streams.addListener(progressListener)

  private val stageListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      e.stageIds.foreach(id => stageGroup.put(id, g))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null) stages.add(StageRec(
        stageId = i.stageId, group = stageGroup.getOrDefault(i.stageId, ""),
        start = i.submissionTime.getOrElse(0L),
        end = i.completionTime.getOrElse(0L), tasks = i.numTasks,
        taskMs = m.executorRunTime.toDouble, cpuMs = m.executorCpuTime / 1e6,
        gcMs = m.jvmGCTime.toDouble,
        shuffleRead = m.shuffleReadMetrics.totalBytesRead,
        shuffleWrite = m.shuffleWriteMetrics.bytesWritten,
        spill = m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit =
      qes.add(QeRec(qe.tracker.phases.map { case (k, s) =>
        k -> (s.startTimeMs, s.endTimeMs) }))
    override def onFailure(func: String, qe: QueryExecution, ex: Exception): Unit = ()
  }

  if (traced) {
    spark.sparkContext.addSparkListener(stageListener)
    spark.listenerManager.register(qeListener)
  }

  /** Detach every listener (before the session stops). */
  def close(): Unit = {
    spark.streams.removeListener(progressListener)
    if (traced) {
      spark.sparkContext.removeSparkListener(stageListener)
      spark.listenerManager.unregister(qeListener)
    }
  }

  /** Time `f` as one benchmark-side call into `layer`. With `group`, the
    * call runs under that Spark job group, so its stages attach to it. */
  def call[A](layer: String, name: String, group: String = null)(f: => A): A = {
    val sc = spark.sparkContext
    if (group != null) sc.setJobGroup(group, name, interruptOnCancel = false)
    val t0 = Stats.epochMs.toDouble
    try f
    finally {
      if (group != null) sc.clearJobGroup()
      if (traced) calls.add(Span(ids.incrementAndGet(), 0L, layer, name,
        t0, Stats.epochMs.toDouble, group))
    }
  }

  /** Record the Catalyst phases a DataFrame went through when it was
    * built (analysis happens there, not in the execution the listener
    * reports). */
  def phasesOf(df: org.apache.spark.sql.DataFrame): Unit =
    if (traced) qes.add(QeRec(df.queryExecution.tracker.phases.map {
      case (k, s) => k -> (s.startTimeMs, s.endTimeMs) }))

  /** Record an interval measured elsewhere (for example, the dialect
    * frontend part of a pull). */
  def span(layer: String, name: String, start: Double, end: Double,
           group: String = null): Unit =
    if (traced) calls.add(Span(ids.incrementAndGet(), 0L, layer, name, start, end, group))

  def progress: Seq[MicroBatch] = batches.asScala.toSeq.sortBy(b => (b.runId, b.batchId))
  def stageRecs: Seq[StageRec] = stages.asScala.toSeq
  def qeRecs: Seq[QeRec] = qes.asScala.toSeq
  def callSpans: Seq[Span] = calls.asScala.toSeq

  /** Wait until the listener has seen every batch the given queries have
    * reported, then give the stage listener a moment to catch up. */
  def drain(queries: Seq[org.apache.spark.sql.streaming.StreamingQuery]): Unit = {
    val deadline = Stats.epochMs + 10000
    def caughtUp = queries.forall { q =>
      val last = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
      last < 0 || batches.asScala.exists(b => b.runId == q.runId.toString && b.batchId >= last)
    }
    while (!caughtUp && Stats.epochMs < deadline) Thread.sleep(20)
    Thread.sleep(500)
  }

  /** Every span of the run as one tree: benchmark calls, micro-batches and
    * their progress phases, Catalyst phases and stages. `viewRuns` holds
    * the run ids of the streaming queries that maintain views (layer
    * `views`, not `streaming`). */
  def spanTree(viewRuns: Set[String]): Seq[Span] = {
    val out = mutable.ArrayBuffer.empty[Span]
    def next = ids.incrementAndGet()
    // a span recorded apart from its call (a pull's frontend part) hangs
    // under the longest other call of the same job group
    val raw = callSpans.sortBy(_.start)
    val byGroupAll = raw.filter(_.group != null).groupBy(_.group)
    val callList = raw.map { s =>
      if (s.parent != 0L || s.group == null) s
      else byGroupAll(s.group).filter(o => o.id != s.id && o.ms > s.ms)
        .sortBy(-_.ms).headOption.map(o => s.copy(parent = o.id)).getOrElse(s)
    }
    out ++= callList
    // micro-batches, with their durationMs phases laid out in execution order
    val phaseLayer = Seq("latestOffset" -> "sources", "walCommit" -> "streaming",
      "getBatch" -> "sources", "queryPlanning" -> "catalyst",
      "addBatch" -> "streaming", "commitOffsets" -> "streaming")
    val addBatchOf = mutable.Map.empty[(String, Long), Span]
    val batchSpans = mutable.ArrayBuffer.empty[(MicroBatch, Span)]
    progress.foreach { b =>
      val layer = if (viewRuns(b.runId)) "views" else "streaming"
      val qn = Option(b.query).getOrElse(b.runId.take(8))
      val root = Span(next, 0L, layer, s"batch:$qn:${b.batchId}",
        b.start.toDouble, b.end.toDouble, b.runId)
      out += root
      batchSpans += b -> root
      var t = b.start.toDouble
      phaseLayer.foreach { case (ph, l) =>
        b.durations.get(ph).foreach { d =>
          val lay = if (ph == "addBatch" && layer == "views") "views" else l
          val s = Span(next, root.id, lay, ph, t, t + d, b.runId)
          out += s
          if (ph == "addBatch") addBatchOf((b.runId, b.batchId)) = s
          t += d
        }
      }
    }
    def containing(t: Double, cands: Seq[Span]): Option[Span] =
      cands.filter(s => s.start <= t && t <= s.end).sortBy(_.ms).headOption
    // Catalyst phases attach to the innermost benchmark call or batch
    // that contains them
    val hosts = callList ++ batchSpans.map(_._2)
    qeRecs.foreach { q =>
      q.phases.toSeq.sortBy(_._2._1).foreach { case (ph, (s, e)) =>
        val parent = containing(s.toDouble, hosts).map(_.id).getOrElse(0L)
        out += Span(next, parent, "catalyst", ph, s.toDouble, e.toDouble)
      }
    }
    // stages attach by job group: a benchmark call, or a streaming run's
    // addBatch phase that contains the stage
    val byGroup = callList.filter(s => s.group != null && s.parent == 0L).groupBy(_.group)
    val batchByRun = batchSpans.groupBy(_._1.runId)
    stageRecs.foreach { st =>
      val parent = byGroup.get(st.group).flatMap(_.headOption).map(_.id)
        .orElse(batchByRun.get(st.group).flatMap { bs =>
          bs.find { case (b, _) => b.start <= st.start && st.start <= b.end }
            .flatMap { case (b, root) =>
              addBatchOf.get((b.runId, b.batchId)).orElse(Some(root)) }
            .map(_.id)
        }).getOrElse(0L)
      out += Span(next, parent, "exec", s"stage:${st.stageId}",
        st.start.toDouble, st.end.toDouble, st.group)
    }
    out.toSeq
  }
}

object Trace {
  /** Self time per layer: each span's duration minus the time covered by
    * its children (overlapping children are merged first). */
  def selfTime(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.filter(_.parent != 0L).groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = union(kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end))))
        math.max(0.0, s.ms - covered)
      }.sum
    }
  }

  /** Total length of the union of intervals. */
  def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN; var curE = Double.NaN
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  def writeSpans(path: java.nio.file.Path, spans: Seq[Span]): Unit = {
    import Stats._
    val body = spans.map { s =>
      jsonObj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
        "layer" -> jsonStr(s.layer), "name" -> jsonStr(s.name),
        "start_ms" -> jsonNum(s.start), "end_ms" -> jsonNum(s.end)) ++
        Option(s.group).map(g => "group" -> jsonStr(g)))
    }.mkString("[\n", ",\n", "\n]\n")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, body)
  }
}
