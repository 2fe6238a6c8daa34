package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.{col, count, expr, lit, sum}
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

import graft.sources.Zarr

/** The streaming layer, replayed in `rechunk_write`'s traced run: the s10
  * pattern of the gate suite. Seeded span files of events, one hour each
  * with strictly increasing modification times, are read one per
  * micro-batch, aggregated hourly and upserted in update mode into a
  * metadata-only, zero-initialized Zarr store through the engine's
  * streaming sink. The final store is compared with a batch
  * recomputation over the same files; a mismatch fails the run. */
object StreamReplay {
  val Spans = 24
  val WarmSpans = 4
  val HourChunk = 16
  val H0Us = 1704067200000000L // 2024-01-01T00:00Z

  val schema: StructType = StructType(Seq(
    StructField("ts", TimestampType), StructField("value", DoubleType)))
  private val hour = expr(s"(unix_micros(date_trunc('hour', ts)) - ${H0Us}L) div 3600000000")

  /** One parquet file per hour, admitted by the file source in hour
    * order: the order is pinned by mtime, never a tie-break. */
  def writeSpans(ctx: Ctx, dir: Path, seed: Long, n: Int): Unit = {
    val tmp = dir.resolve("_write")
    ctx.spark.range(0, n * 400L, 1, 1)
      .select(
        (col("id") / 400).cast("long").as("h"),
        expr(s"timestamp_micros(${H0Us}L + (id div 400) * 3600000000 + " +
          s"pmod(xxhash64(id, ${seed}L), 3600000000))").as("ts"),
        (expr(s"pmod(xxhash64(id, ${seed + 1}L), 100000)") / 100.0).as("value"))
      .repartition(n, col("h"))
      .write.partitionBy("h").parquet(tmp.toString)
    (0 until n).foreach { h =>
      val f = Files.list(tmp.resolve(s"h=$h")).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      val dst = dir.resolve(f"span$h%04d.parquet")
      Files.move(f, dst)
      Files.setLastModifiedTime(dst, java.nio.file.attribute.FileTime.fromMillis(1700000000000L + h * 1000L))
    }
    graft.core.Fs.deleteRecursively(tmp.toString)
  }

  /** Streams `src` into a fresh store; returns the micro-batches. */
  def stream(ctx: Ctx, src: Path, store: String, ckpt: String, hours: Int): Seq[StreamingQueryProgress] = {
    val s = ctx.spark
    Zarr.setupStore(store, graft.core.Template(
      Seq("hour" -> hours.toLong),
      Map("n_events" -> graft.core.VarSpec(Seq("hour"), graft.ndarray.DType.I64, Some(0.0)),
          "sum_value" -> graft.core.VarSpec(Seq("hour"), graft.ndarray.DType.F64, Some(0.0))),
      Map.empty, Map.empty), Map("hour" -> HourChunk))
    ctx.phase("stream") {
      ctx.spans.foreach { l => l.adopt = s"pb:${ctx.repTag}/stream"; l.streamParent = ctx.trace.current }
      // the s10 settings: state partitions sized to the job (the hour
      // keys fit one), and no trailing no-data batch (update mode emits
      // nothing from it)
      s.conf.set("spark.sql.shuffle.partitions", "1")
      s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      val q = s.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src.toString)
        .withWatermark("ts", "1 hour")
        .groupBy(hour.as("hour"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
        .writeStream.format("zarr")
        .option("path", store)
        .option("dims", "hour")
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination()
      finally {
        s.conf.set("spark.sql.shuffle.partitions", ctx.cores.toString)
        s.conf.unset("spark.sql.streaming.noDataMicroBatches.enabled")
        ctx.spans.foreach(_.adopt = null)
      }
      q.recentProgress.toSeq
    }
  }

  /** The store against a batch recomputation over the same files. */
  def check(ctx: Ctx, src: Path, store: String, hours: Int, batches: Int): Option[String] = {
    val files = Files.list(src).iterator().asScala.count(_.toString.endsWith(".parquet"))
    if (batches != files) return Some(s"stream ran $batches micro-batches for $files files")
    val want = ctx.spark.read.schema(schema).parquet(src.toString)
      .groupBy(hour.as("hour"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(18,6)")).cast("double").as("s"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val n = Zarr.readRegion(store, "n_events", Zarr.readArrayMeta(store, "n_events"),
      Array(0L), Array(hours))
    val sv = Zarr.readRegion(store, "sum_value", Zarr.readArrayMeta(store, "sum_value"),
      Array(0L), Array(hours))
    (0 until hours).iterator.collectFirst {
      case h if (n.getLong(h), sv.getDouble(h)) != want.getOrElse(h.toLong, (0L, 0.0)) =>
        s"hour $h: store (${n.getLong(h)}, ${sv.getDouble(h)}), batch recomputation " +
          want.getOrElse(h.toLong, (0L, 0.0))
    }
  }

  /** A warm stream, then the measured one; per-batch metrics. */
  def run(ctx: Ctx, dir: Path, seed: Long): Map[String, Double] = {
    val warm = dir.resolve("warm")
    val src = dir.resolve("src")
    Files.createDirectories(warm)
    Files.createDirectories(src)
    writeSpans(ctx, warm, seed, WarmSpans)
    writeSpans(ctx, src, seed, Spans)
    val out = Seq("warm" -> warm, "src" -> src).map { case (tag, d) =>
      val store = dir.resolve(s"$tag.zarr").toString
      ctx.repTag = s"stream-$tag"
      val ps = stream(ctx, d, store, dir.resolve(s"$tag.ckpt").toString, Spans)
      check(ctx, d, store, Spans, ps.size).foreach { why =>
        throw new IllegalStateException(s"stream replay ($tag) wrong: $why")
      }
      ps
    }.last
    def d(k: String) = Runner.median(out.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
    val trig = out.map(_.durationMs.get("triggerExecution").doubleValue / 1000.0)
    Map(
      "stream.batches" -> out.size.toDouble,
      "stream.batch_p50_s" -> Runner.quantile(trig, 0.5),
      "stream.batch_p90_s" -> Runner.quantile(trig, 0.9),
      "stream.add_batch_ms" -> d("addBatch"),
      "stream.query_planning_ms" -> d("queryPlanning"),
      "stream.wal_commit_ms" -> d("walCommit"),
      "stream.commit_offsets_ms" -> d("commitOffsets"),
      "stream.state_rows" -> out.map(_.stateOperators.map(_.numRowsTotal).sum.toDouble).max)
  }
}
