package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One timed rep as measured: wall and process CPU seconds, and why it
  * failed, if it did. */
final case class RepStat(tag: String, wallS: Double, cpuS: Double, error: Option[String]) {
  def failed: Boolean = error.isDefined
}

/** Peak live heap: heap occupancy after each GC, from GC notifications. */
final class HeapPeak {
  @volatile private var peak = 0L
  @volatile var armed = false
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
    case e: javax.management.NotificationEmitter => e
  }
  private val listener = new javax.management.NotificationListener {
    def handleNotification(n: javax.management.Notification, hb: AnyRef): Unit =
      if (armed && n.getType ==
          com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = com.sun.management.GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
          case (pool, u) if isHeap(pool) => u.getUsed
        }.sum
        synchronized { peak = math.max(peak, used) }
      }
  }
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private def isHeap(pool: String) = heapPools(pool)
  beans.foreach(_.addNotificationListener(listener, null, null))
  def reset(): Unit = synchronized { peak = 0L }
  def peakMb: Double = peak / (1024.0 * 1024.0)
}

object Runner {
  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuS: Double = osBean.getProcessCpuTime / 1e9

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile, numpy's default. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def session(work: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      // the production configuration graft.Bench runs with
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.kryo.classesToRegister", graft.GraftKryo.classes)
      // everything the run writes stays inside the checkout
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      // keeps every micro-batch's progress of a 100+ batch stream
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    locally {
      import org.apache.logging.log4j.Level
      import org.apache.logging.log4j.core.config.Configurator
      Seq(
        "org.apache.spark.sql.execution.streaming.runtime.MicroBatchExecution",
        "org.apache.spark.sql.execution.streaming.runtime.ResolveWriteToStream",
        "org.apache.spark.sql.execution.streaming.state.StateStoreCoordinator"
      ).foreach(n => Configurator.setLevel(n, Level.ERROR))
    }
    s
  }

  /** One timed rep, then its check and cleanup outside the clock (and
    * outside the heap peak). */
  def timedRep(ctx: Ctx, wl: Workload, tag: String, i: Int, heap: HeapPeak): RepStat = {
    ctx.repTag = tag
    val c0 = cpuS
    val w0 = System.nanoTime()
    val res = try Right(ctx.trace.span("rep", tag)(wl.rep(ctx, i)))
    catch { case e: Throwable => Left(e) }
    val wall = (System.nanoTime() - w0) / 1e9
    val cpu = cpuS - c0
    heap.armed = false
    try RepStat(tag, wall, cpu, res match {
      case Right(r) =>
        val bad = try r.check() catch { case e: Throwable => Some(s"check threw $e") }
        r.cleanup()
        bad
      case Left(e) => Some(s"${e.getClass.getName}: ${e.getMessage}")
    })
    finally heap.armed = true
  }

  /** Rounds of timed reps until `seconds` have passed (at least
    * `minRounds`), with the heap peak taken over them. */
  def timed(seconds: Double, minRounds: Int, heap: HeapPeak)(round: Int => Seq[RepStat]): Seq[RepStat] = {
    val out = mutable.ArrayBuffer.empty[RepStat]
    val start = System.nanoTime()
    heap.reset()
    heap.armed = true
    var i = 0
    while (i < minRounds || (System.nanoTime() - start) / 1e9 < seconds) {
      out ++= round(i)
      i += 1
    }
    heap.armed = false
    out.toSeq
  }

  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  /** Progress line in the JVM log, stamped with seconds since JVM start. */
  def mark(what: String): Unit =
    println(f"[perfbench ${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%8.3f s] $what")

  def run(o: Main.Opts): Int = {
    val wl = Workloads.byName(o("workload"))
    val seconds = o.int("seconds").toDouble
    val traced = o.flag("trace")
    val work = Paths.get(o("work"))
    Files.createDirectories(work)
    val heap = new HeapPeak
    val spark = session(work)
    mark("session ready")
    val trace = new Trace(runId = s"${wl.name}-${o("seed")}-${System.currentTimeMillis()}")
    val ctx = new Ctx(spark, trace, Paths.get(o("data")), work, o("seed").toLong, o.flag("plant-wrong"))
    try {
      wl.open(ctx)
      (0 until wl.warmReps).foreach { i =>
        ctx.repTag = s"w$i"
        val r = wl.rep(ctx, i)
        r.check().foreach(why => throw new IllegalStateException(s"warm rep $i wrong: $why"))
        r.cleanup()
      }
      val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
      mark("set-up done")
      // a traced run alternates untraced and traced reps, so both see the
      // same JVM warmth: the per-layer numbers come from the traced ones,
      // and the ratio of the two medians is the tracing overhead
      val listener = if (traced) Some(new SparkSpans(trace)) else None
      ctx.spans = listener
      val all = timed(seconds, wl.minReps, heap) { i =>
        timedRep(ctx, wl, s"r$i", i, heap) +: listener.toSeq.map { l =>
          trace.attach(spark, l)
          try timedRep(ctx, wl, s"t$i", i, heap) finally trace.detach(spark, l)
        }
      }
      mark(s"${all.size} timed reps done")
      val heapMb = heap.peakMb
      val reps = all.filter(_.tag.startsWith("r"))
      val tracedReps = all.filter(_.tag.startsWith("t"))
      val failed = all.count(_.failed)
      val metrics = Seq(
        "wall_s" -> median(reps.map(_.wallS)),
        "cpu_s" -> median(reps.map(_.cpuS)),
        "setup_s" -> setupS)
      val record = new java.util.LinkedHashMap[String, Any]()
      record.put("workload", wl.name)
      record.put("stamp", stamp(o, spark, traced))
      record.put("attempted", all.size)
      record.put("failed", failed)
      record.put("error_rate", failed.toDouble / all.size)
      record.put("heap_peak_mb", heapMb)
      record.put("errors", all.flatMap(r => r.error.map(e => s"${r.tag}: $e")).asJava)
      record.put("reps", all.map(r => Map("tag" -> r.tag, "wall_s" -> r.wallS,
        "cpu_s" -> r.cpuS, "failed" -> r.failed).asJava).asJava)
      record.put("phase_wall_s", ctx.phaseWalls.collect {
        case (r, n, w) if r.startsWith("r") => (n, w)
      }.groupBy(_._1).map { case (n, ws) => n -> median(ws.map(_._2).toSeq) }.asJava)
      record.put("metrics", metrics.map { case (k, v) =>
        k -> Map("value" -> v, "unit" -> "s").asJava }.toMap.asJava)
      ctx.spans.foreach(l => new Report(ctx, wl, reps, tracedReps, l, heapMb).fill(record))
      record.put("listeners_registered", trace.listenersRegistered)
      record.put("spans_recorded", trace.spans.size)
      Main.mapper.writerWithDefaultPrettyPrinter().writeValue(Paths.get(o("out")).toFile, record)
      if (traced) Report.writeSpans(trace, work.resolve(s"spans_${wl.name}.json"))
      mark("record written")
      if (failed > 0) 1 else 0
    } finally {
      spark.stop()
      mark("session stopped")
    }
  }

  def stamp(o: Main.Opts, spark: SparkSession, traced: Boolean): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    m.put("git_sha", o.kv.getOrElse("git-sha", "unknown"))
    m.put("git_dirty", o.kv.getOrElse("git-dirty", "unknown"))
    m.put("nproc", Runtime.getRuntime.availableProcessors())
    m.put("master", spark.sparkContext.master)
    m.put("max_heap_gib", Runtime.getRuntime.maxMemory / math.pow(1024, 3))
    m.put("jvm", System.getProperty("java.vm.name") + " " + System.getProperty("java.runtime.version"))
    m.put("spark", spark.version)
    m.put("seed", o("seed").toLong)
    m.put("traced", traced)
    m.put("run_seconds", o.int("seconds"))
    m
  }
}
