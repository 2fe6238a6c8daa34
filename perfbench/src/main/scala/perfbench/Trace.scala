package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval: workload, rep, phase, job, stage, task, stream
  * batch or layer replay. `parent` is the id of the span that caused it;
  * every span of a run shares the run id of its [[Trace]]. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      startNs: Long, endNs: Long, counts: Map[String, Double])

/** In-memory span recorder. It records nothing, and `span` only runs its
  * body, unless [[attach]] has registered the listeners, which only a
  * traced run does. Spans are written out once, when the benchmark ends. */
final class Trace(val runId: String) {
  /** On between [[attach]] and [[detach]]; an untraced run never
    * attaches. */
  @volatile var enabled = false
  private val buf = mutable.ArrayBuffer.empty[Span]
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  private var listeners = 0

  def spans: Seq[Span] = buf.synchronized(buf.toList)
  def listenersRegistered: Int = listeners

  /** Time-stamp converters: Spark reports wall-clock milliseconds. */
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def msToNs(ms: Long): Long = ms * 1000000L - epochOffsetNs

  def current: Long = stack.get().headOption.getOrElse(0L)

  /** Reserves an id for a span whose children end before it does. */
  def newId(): Long = nextId.getAndIncrement()

  def record(id: Long, parent: Long, kind: String, name: String, startNs: Long,
             endNs: Long, counts: Map[String, Double] = Map.empty): Unit =
    if (enabled) buf.synchronized(buf += Span(id, parent, kind, name, startNs, endNs, counts))

  /** Runs `body` as a child span of the innermost open span. */
  def span[T](kind: String, name: String)(body: => T): T = {
    if (!enabled) return body
    val id = nextId.getAndIncrement()
    val parent = current
    stack.set(id :: stack.get())
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack.set(stack.get().tail)
      buf.synchronized(buf += Span(id, parent, kind, name, t0, t1, Map.empty))
    }
  }

  /** Registers the Spark and streaming listeners of `l` (traced runs
    * only) and records spans until [[detach]]. */
  def attach(spark: SparkSession, l: SparkSpans): Unit = {
    spark.sparkContext.addSparkListener(l)
    spark.streams.addListener(l.streaming)
    listeners = 2
    enabled = true
  }

  def detach(spark: SparkSession, l: SparkSpans): Unit = {
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    enabled = false
    spark.sparkContext.removeSparkListener(l)
    spark.streams.removeListener(l.streaming)
  }

  /** Self time of every span: its duration minus the union of its
    * children's intervals (clipped to the parent). */
  def selfTimes: Map[Long, Long] = {
    val all = spans
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter(p => p._2 > p._1).sortBy(_._1)
      var covered = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curE) { covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      covered += curE - curS
      s.id -> ((s.endNs - s.startNs) - covered)
    }.toMap
  }
}

/** Per-job-group task totals, summed by the listener from task metrics. */
final class GroupStats {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteB = 0L
  var shuffleReadB = 0L
  var shuffleRecords = 0L
  var spillB = 0L
  var peakExecMemB = 0L
  var inputB = 0L
  var outputB = 0L
  var firstJobStartMs = Long.MaxValue
  val taskMs = mutable.ArrayBuffer.empty[Long]
}

/** SparkListener + StreamingQueryListener recording job → stage → task
  * spans and per-job-group totals. A job belongs to the group set by
  * `sc.setJobGroup` around each phase or gate; its span's parent is that
  * phase's span, whose id rides in the local property `perfbench.span`. */
final class SparkSpans(trace: Trace) extends SparkListener {
  val groups = new java.util.concurrent.ConcurrentHashMap[String, GroupStats]()
  // jobId -> (span id, parent span id, job group, start ms)
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, String, Long)]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  // stageId -> (span id, submitted ms)
  private val stages = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()
  /** Span that micro-batches of the running stream hang under. */
  @volatile var streamParent = 0L
  /** Job group given to jobs the stream's own thread starts (Spark tags
    * them with the query's run id, not with a benchmark phase). */
  @volatile var adopt: String = null

  private def group(name: String): GroupStats = groups.computeIfAbsent(name, _ => new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val g0 = prop("spark.jobGroup.id").getOrElse("(none)")
    val g = if (adopt != null && !g0.startsWith("pb:")) adopt else g0
    val parent = prop("perfbench.span").map(_.toLong).getOrElse(streamParent)
    jobs.put(e.jobId, (trace.newId(), parent, g, e.time))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    val gs = group(g)
    gs.synchronized {
      gs.jobs += 1
      gs.firstJobStartMs = math.min(gs.firstJobStartMs, e.time)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach { case (id, parent, g, t0) =>
      trace.record(id, parent, "job", s"job ${e.jobId} $g", trace.msToNs(t0),
        trace.msToNs(e.time))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stages.put(e.stageInfo.stageId, (trace.newId(), System.currentTimeMillis()))

  private def jobOf(stageId: Int): Option[(Long, Long, String, Long)] =
    Option(stageJob.get(stageId)).flatMap(j => Option(jobs.get(j)))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val (id, submitted) = Option(stages.get(info.stageId))
      .getOrElse((trace.newId(), System.currentTimeMillis()))
    val job = jobOf(info.stageId)
    trace.record(id, job.map(_._1).getOrElse(0L), "stage",
      s"stage ${info.stageId} ${info.name}",
      trace.msToNs(info.submissionTime.getOrElse(submitted)),
      trace.msToNs(info.completionTime.getOrElse(System.currentTimeMillis())),
      Map("tasks" -> info.numTasks.toDouble))
    val gs = group(job.map(_._3).getOrElse("(none)"))
    gs.synchronized(gs.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val ti = e.taskInfo
    trace.record(trace.newId(), Option(stages.get(e.stageId)).map(_._1).getOrElse(0L),
      "task", s"task ${ti.taskId}", trace.msToNs(ti.launchTime),
      trace.msToNs(ti.finishTime))
    val m = e.taskMetrics
    if (m == null) return
    val gs = group(jobOf(e.stageId).map(_._3).getOrElse("(none)"))
    gs.synchronized {
      gs.tasks += 1
      gs.runMs += m.executorRunTime
      gs.cpuNs += m.executorCpuTime
      gs.gcMs += m.jvmGCTime
      gs.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      gs.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      gs.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      gs.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      gs.peakExecMemB = math.max(gs.peakExecMemB, m.peakExecutionMemory)
      gs.inputB += m.inputMetrics.bytesRead
      gs.outputB += m.outputMetrics.bytesWritten
      gs.taskMs += ti.duration
    }
  }

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
      trace.record(trace.newId(), streamParent, "batch", s"batch ${p.batchId}",
        trace.msToNs(t0), trace.msToNs(t0 + d.getOrElse("triggerExecution", 0.0).toLong), d)
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
}
