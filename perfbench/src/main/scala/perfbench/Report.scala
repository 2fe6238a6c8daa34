package perfbench

import java.nio.file.Path

import scala.jdk.CollectionConverters._

/** The traced run's per-layer record: Spark execution totals from the
  * listener, per-gate and per-batch times, layer replays, attribution of
  * executor time to layers, and the reference cost-model check. */
object Report {
  /** Every per-layer metric, with its unit. A metric a workload does not
    * exercise is reported as 0 with source "n/a". */
  val PerLayer: Seq[(String, String)] = Seq(
    "sources.decode_mb_s" -> "MiB/s", "sources.encode_mb_s" -> "MiB/s",
    "sources.compress_ratio" -> "ratio", "sources.read_region_mb_s" -> "MiB/s",
    "sources.write_region_mb_s" -> "MiB/s",
    "blob.gets" -> "count", "blob.read_mb" -> "MiB", "blob.read_mb_s" -> "MiB/s",
    "blob.puts" -> "count", "blob.write_mb" -> "MiB",
    "dsv2.chunks_read_frac" -> "ratio", "dsv2.input_mb" -> "MiB",
    "ndarray.reduce_gb_s" -> "GiB/s", "ndarray.slice_gb_s" -> "GiB/s",
    "ndarray.concat_gb_s" -> "GiB/s",
    "chunk.kryo_mb_s" -> "MiB/s", "chunk.kryo_overhead" -> "ratio",
    "chunk.key_encode_per_s" -> "1/s",
    "operators.rechunk_plan_ms" -> "ms", "operators.rechunk_stages" -> "count",
    "operators.intermediate_chunks" -> "count", "operators.split_consolidate_gb_s" -> "GiB/s",
    "operators.mean_chunks_s" -> "1/s",
    "spark.driver_plan_s" -> "s", "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.executor_run_s" -> "s", "spark.executor_cpu_s" -> "s",
    "spark.busy_frac" -> "ratio", "spark.task_p50_s" -> "s", "spark.task_max_s" -> "s",
    "spark.task_skew" -> "ratio", "spark.shuffle_write_mb" -> "MiB",
    "spark.shuffle_read_mb" -> "MiB", "spark.shuffle_records" -> "count",
    "spark.spill_mb" -> "MiB", "spark.gc_s" -> "s", "spark.peak_exec_mem_mb" -> "MiB",
    "spark.input_mb" -> "MiB", "spark.output_mb" -> "MiB",
    "gate.d02_s" -> "s", "gate.d06_s" -> "s", "gate.d07_s" -> "s", "gate.d12_s" -> "s",
    "gate.e19_s" -> "s",
    "stream.batches" -> "count", "stream.batch_p50_s" -> "s", "stream.batch_p90_s" -> "s",
    "stream.add_batch_ms" -> "ms",
    "stream.query_planning_ms" -> "ms", "stream.wal_commit_ms" -> "ms",
    "stream.commit_offsets_ms" -> "ms", "stream.state_rows" -> "count",
    "baseline.serial_reduce_s" -> "s", "baseline.speedup" -> "ratio",
    "attrib.read_s" -> "s", "attrib.decode_s" -> "s", "attrib.reduce_s" -> "s",
    "attrib.split_consolidate_s" -> "s", "attrib.kryo_s" -> "s", "attrib.write_s" -> "s",
    "attrib.other_s" -> "s",
    "memory.heap_peak_mb" -> "MiB",
    "trace.overhead" -> "ratio", "costmodel.below_floor" -> "count")

  /** Counts that come from the chunk grid and file sizes, not from a
    * measurement of the run. */
  val Computed: Set[String] = Set("blob.gets", "blob.read_mb", "blob.puts", "blob.write_mb",
    "operators.rechunk_stages", "operators.intermediate_chunks")

  /** BASELINE.md's reference cost model (xarray-beam combiners.py). */
  val IoFloorMbS = 25e6 / (1024.0 * 1024.0)
  val CombinerFloorChunksS = 1500.0
  val StageCeilingS = 0.1

  def writeSpans(trace: Trace, p: Path): Unit = {
    val self = trace.selfTimes
    val out = trace.spans.map { s =>
      Map[String, Any]("id" -> s.id, "parent" -> s.parent, "run" -> trace.runId,
        "kind" -> s.kind, "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "self_ns" -> self.getOrElse(s.id, 0L), "counts" -> s.counts.asJava).asJava
    }
    Main.mapper.writeValue(p.toFile, out.asJava)
  }

  /** Self time summed per span kind (workload/rep/phase/job/stage/task/
    * batch), seconds. */
  def selfByKind(trace: Trace): Map[String, Double] = {
    val self = trace.selfTimes
    trace.spans.groupBy(_.kind).map { case (k, ss) => k -> ss.map(s => self(s.id)).sum / 1e9 }
  }
}

final class Report(ctx: Ctx, wl: Workload, untraced: Seq[RepStat], traced: Seq[RepStat],
                   spans: SparkSpans, heapPeakMb: Double) {
  import Report._
  import Runner.{median, quantile}
  private val MB = 1024.0 * 1024.0

  private def repOf(group: String): Option[String] =
    if (!group.startsWith("pb:") || group.endsWith("/check")) None
    else Some(group.stripPrefix("pb:").takeWhile(_ != '/'))

  private val tracedTags = traced.map(_.tag).toSet
  private val groups: Seq[(String, String, GroupStats)] = spans.groups.asScala.toSeq.flatMap {
    case (g, st) => repOf(g).filter(tracedTags).map(r => (r, g, st))
  }

  /** Median over traced reps of a per-rep sum over that rep's groups. */
  private def perRep(f: GroupStats => Double): Double = median(traced.map { r =>
    groups.filter(_._1 == r.tag).map(g => f(g._3)).sum
  })

  def sparkMetrics(): Map[String, Double] = {
    val tasks = groups.flatMap(_._3.taskMs).map(_ / 1000.0)
    val wall = median(traced.map(_.wallS))
    val run = perRep(_.runMs / 1000.0)
    val starts = ctx.phaseStarts.toMap
    val plan = median(traced.map { r =>
      groups.filter(_._1 == r.tag).map { case (_, g, st) =>
        starts.get(g).filter(_ => st.firstJobStartMs != Long.MaxValue)
          .map(t => math.max(0L, st.firstJobStartMs - t) / 1000.0).getOrElse(0.0)
      }.sum
    })
    val p50 = if (tasks.isEmpty) 0.0 else quantile(tasks, 0.5)
    val max = if (tasks.isEmpty) 0.0 else tasks.max
    Map(
      "spark.driver_plan_s" -> plan,
      "spark.jobs" -> perRep(_.jobs.toDouble),
      "spark.stages" -> perRep(_.stages.toDouble),
      "spark.tasks" -> perRep(_.tasks.toDouble),
      "spark.executor_run_s" -> run,
      "spark.executor_cpu_s" -> perRep(_.cpuNs / 1e9),
      "spark.busy_frac" -> run / (wall * ctx.cores),
      "spark.task_p50_s" -> p50,
      "spark.task_max_s" -> max,
      "spark.task_skew" -> (if (p50 > 0) max / p50 else 0.0),
      "spark.shuffle_write_mb" -> perRep(_.shuffleWriteB / MB),
      "spark.shuffle_read_mb" -> perRep(_.shuffleReadB / MB),
      "spark.shuffle_records" -> perRep(_.shuffleRecords.toDouble),
      "spark.spill_mb" -> perRep(_.spillB / MB),
      "spark.gc_s" -> perRep(_.gcMs / 1000.0),
      "spark.peak_exec_mem_mb" -> groups.map(_._3.peakExecMemB / MB).maxOption.getOrElse(0.0),
      "spark.input_mb" -> perRep(_.inputB / MB),
      "spark.output_mb" -> perRep(_.outputB / MB))
  }

  /** Per-job-group table of the traced reps. */
  def groupTable(): java.util.Map[String, Any] = {
    val m = new java.util.TreeMap[String, Any]()
    spans.groups.asScala.foreach { case (g, st) =>
      m.put(g, Map[String, Any]("jobs" -> st.jobs, "stages" -> st.stages, "tasks" -> st.tasks,
        "executor_run_s" -> st.runMs / 1000.0, "executor_cpu_s" -> st.cpuNs / 1e9,
        "gc_s" -> st.gcMs / 1000.0, "shuffle_write_mb" -> st.shuffleWriteB / MB,
        "shuffle_read_mb" -> st.shuffleReadB / MB, "spill_mb" -> st.spillB / MB,
        "input_mb" -> st.inputB / MB, "output_mb" -> st.outputB / MB,
        "task_max_s" -> st.taskMs.maxOption.getOrElse(0L) / 1000.0).asJava)
    }
    m
  }

  def gateMetrics(): Map[String, Double] =
    TextDedup.gates.flatMap { g =>
      val ws = ctx.phaseWalls.collect { case (r, n, s) if n == g && tracedTags(r) => s }
      if (ws.isEmpty) None else Some(s"gate.${g.take(3)}_s" -> median(ws.toSeq))
    }.toMap

  /** Executor core-seconds per rep attributed to layers: each layer's
    * volume in the rep divided by its replayed single-core rate. Only
    * the layers on the workload's path get a share; the rest of
    * `spark.executor_run_s` is `attrib.other_s`. */
  def attribution(l: Map[String, Double], s: Map[String, Double]): Map[String, Double] = {
    if (!l.contains("sources.decode_mb_s")) return Map.empty
    val shares = Map(
      "attrib.read_s" -> Some(l("blob.read_mb") / l("blob.read_mb_s")),
      "attrib.decode_s" -> Some(l("volume.decoded_mb") / l("sources.decode_mb_s")),
      "attrib.reduce_s" -> l.get("volume.reduced_gb").map(_ / l("ndarray.reduce_gb_s")),
      "attrib.split_consolidate_s" -> l.get("operators.rechunk_stages").map { st =>
        l("volume.decoded_mb") / 1024.0 * (st + 1) / l("operators.split_consolidate_gb_s")
      },
      "attrib.kryo_s" -> l.get("volume.written_mb").map(_ => s("spark.shuffle_write_mb") / l("chunk.kryo_mb_s")),
      "attrib.write_s" -> l.get("volume.written_mb").map(_ / l("sources.write_region_mb_s"))
    ).collect { case (k, Some(v)) => k -> v }
    shares + ("attrib.other_s" -> (s("spark.executor_run_s") - shares.values.sum))
  }

  def costModel(m: Map[String, Double]): Seq[java.util.Map[String, Any]] = {
    def row(layer: String, v: Double, floor: Double, higherBetter: Boolean, unit: String) =
      Map[String, Any]("layer" -> layer, "measured" -> v, "reference" -> floor, "unit" -> unit,
        "below_floor" -> (if (higherBetter) v < floor else v > floor)).asJava
    Seq(
      m.get("sources.read_region_mb_s").map(row("sources.read_region_mb_s", _, IoFloorMbS, true, "MiB/s/core")),
      m.get("sources.write_region_mb_s").map(row("sources.write_region_mb_s", _, IoFloorMbS, true, "MiB/s/core")),
      m.get("operators.mean_chunks_s").map(row("operators.mean_chunks_s", _, CombinerFloorChunksS, true, "chunks/s")),
      Some(row("spark.driver_plan_s per stage",
        m("spark.driver_plan_s") / math.max(1.0, m("spark.stages")), StageCeilingS, false, "s/stage"))
    ).flatten
  }

  def fill(record: java.util.Map[String, Any]): Unit = {
    ctx.trace.attach(ctx.spark, spans)
    val l = try wl.layers(ctx) finally ctx.trace.detach(ctx.spark, spans)
    val s = sparkMetrics()
    var m = l ++ s ++ gateMetrics() ++ attribution(l, s)
    m ++= l.get("dsv2.input_mb_computed").map { c =>
      val seen = groups.filter(_._2.endsWith("/b_dsv2")).map(_._3.inputB / MB).sum / traced.size
      "dsv2.input_mb" -> (if (seen > 0) seen else c)
    }
    m ++= l.get("baseline.serial_reduce_s").map(b => "baseline.speedup" -> b / median(untraced.map(_.wallS)))
    m += "trace.overhead" -> median(traced.map(_.wallS)) / median(untraced.map(_.wallS))
    m += "memory.heap_peak_mb" -> heapPeakMb
    val cm = costModel(m)
    m += "costmodel.below_floor" -> cm.count(_.get("below_floor") == true).toDouble
    val dsv2Computed = m.get("dsv2.input_mb") == l.get("dsv2.input_mb_computed")
    val out = new java.util.LinkedHashMap[String, Any]()
    PerLayer.foreach { case (k, unit) =>
      val src = if (!m.contains(k)) "n/a"
        else if (Computed(k) || (k == "dsv2.input_mb" && dsv2Computed)) "computed" else "measured"
      out.put(k, Map[String, Any]("value" -> m.getOrElse(k, 0.0), "unit" -> unit, "source" -> src).asJava)
    }
    record.put("per_layer", out)
    record.put("replay_extra", (m -- PerLayer.map(_._1)).asJava)
    record.put("cost_model", cm.asJava)
    record.put("job_groups", groupTable())
    record.put("self_time_s_by_kind", selfByKind(ctx.trace).asJava)
  }
}
