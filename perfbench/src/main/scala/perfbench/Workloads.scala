package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{avg, col}

import graft.api.XbeamDataset
import graft.core.{ArrayChunk, ChunkKey}
import graft.sources.Zarr

object Workloads {
  val all: Seq[Workload] = Seq(ZarrReduce, RechunkWrite, TextDedup)
  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(s"unknown workload $n (${all.map(_.name).mkString(", ")})"))

  /** Adds 1 to the first compared value of the first timed rep when the
    * run plants a wrong result, so the check itself is what must fail. */
  def planted(ctx: Ctx, i: Int): Double = if (ctx.plantWrong && ctx.repTag == "r0" && i == 0) 1.0 else 0.0
}

/** Read, decode and reduce: `mean` over time through the chunk engine,
  * then a DSv2 scan pruned to a tenth of the pancakes, averaged per
  * latitude. The shuffle carries only partial sums and rechunk never
  * runs. */
object ZarrReduce extends Workload {
  import Era5Gen._
  val name = "zarr_reduce"
  // the first rep after one warm rep still runs ~15% slow
  val warmReps = 2
  private var store: String = _
  private var era: Era5 = _
  private var ds: XbeamDataset = _
  private var expA: Array[Double] = _
  private var expB: Array[Double] = _

  def open(ctx: Ctx): Unit = {
    store = ctx.data.resolve("era5.zarr").toString
    era = storeShape(store)
    ds = XbeamDataset.fromZarr(ctx.spark, store)
    expA = Main.readDoubles(ctx.data.resolve("expected_a.f64"))
    expB = Main.readDoubles(ctx.data.resolve("expected_b.f64"))
  }

  def phaseA(ctx: Ctx): Array[(ChunkKey, ArrayChunk)] =
    ctx.phase("a_mean")(ds.mean(Set("time")).chunkDataset.collect())

  def phaseB(ctx: Ctx): Array[Row] = ctx.phase("b_dsv2") {
    ctx.spark.read.format("zarr").load(store)
      .filter(col("time") < PrunedTime)
      .groupBy("latitude")
      .agg(avg("t2m").as("t2m"), avg("u10").as("u10"), avg("v10").as("v10"))
      .collect()
  }

  def rep(ctx: Ctx, i: Int): RepOut = {
    val a = phaseA(ctx)
    val b = phaseB(ctx)
    RepOut(() => checkA(ctx, a).orElse(checkB(ctx, b)))
  }

  /** Phase (a) against the loop's sums: exact, every cell. */
  def checkA(ctx: Ctx, got: Array[(ChunkKey, ArrayChunk)]): Option[String] = {
    if (got.length != 1) return Some(s"mean returned ${got.length} chunks, want 1")
    val NTime = era.NTime
    val plane = NLat * NLon
    Vars.zipWithIndex.iterator.flatMap { case (v, vi) =>
      val arr = got.head._2.vars(v).arr
      if (arr.shape.toSeq != Seq(NLat, NLon)) Some(s"$v mean shape ${arr.shape.mkString("x")}")
      else (0 until plane).iterator.collectFirst {
        case k if arr.getDouble(k) + Workloads.planted(ctx, k) != expA(vi * plane + k) / NTime =>
          s"$v mean cell $k = ${arr.getDouble(k)}, want ${expA(vi * plane + k) / NTime}"
      }
    }.nextOption()
  }

  def checkB(ctx: Ctx, rows: Array[Row]): Option[String] = {
    if (rows.length != NLat) return Some(s"dsv2 groupBy returned ${rows.length} rows, want $NLat")
    val n = PrunedTime.toDouble * NLon
    rows.iterator.flatMap { r =>
      val la = r.getAs[Long]("latitude").toInt
      Vars.zipWithIndex.collectFirst {
        case (v, vi) if r.getAs[Double](v) != expB(vi * NLat + la) / n =>
          s"dsv2 avg($v) at latitude $la = ${r.getAs[Double](v)}, want ${expB(vi * NLat + la) / n}"
      }
    }.nextOption()
  }

  /** Replays, volumes from the chunk grid, the DSv2 pruning and the
    * serial baseline. */
  def layers(ctx: Ctx): Map[String, Double] = {
    val e = era
    import e._
    val (gets, readMb) = Layers.storeStats(store, 0 until nTimeChunks)
    val (getsB, readMbB) = Layers.storeStats(store, 0 until PrunedTime / TimeChunk)
    val planned = ctx.spark.read.format("zarr").load(store).filter(col("time") < PrunedTime)
      .queryExecution.sparkPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.inputPartitions.size
      }.sum
    val (serialS, same) = Layers.serialReduce(era, store, expA)
    require(same, "the serial loop's sums differ from the generator's")
    Layers.zarrCommon(ctx, era, store) ++ Map(
      "blob.gets" -> (gets + getsB),
      "blob.read_mb" -> (readMb + readMbB),
      "blob.puts" -> 0.0,
      "blob.write_mb" -> 0.0,
      "dsv2.chunks_read_frac" -> planned.toDouble / nTimeChunks,
      "dsv2.input_mb_computed" -> readMbB,
      "volume.decoded_mb" -> (logicalBytes + logicalBytes * PrunedTime / NTime) / (1024.0 * 1024.0),
      "volume.reduced_gb" -> logicalBytes / math.pow(1024, 3),
      "baseline.serial_reduce_s" -> serialS)
  }
}

/** Split/consolidate, Kryo chunk shuffle, zstd encode and store writes:
  * pancakes to pencils through a planned multi-stage rechunk, written
  * as a new zstd store. Latitude 181 is not a multiple of 16, so the
  * engine cannot re-read the source on the target grid instead of
  * shuffling.
  *
  * The rechunk is `XbeamDataset.rechunk`'s own sequence (split
  * variables, `ChunkTransforms.rechunk`, consolidate variables) with
  * min_mem = max_mem / 10 instead of its fixed max_mem / 100: with
  * pancakes of 31 steps and pencils of all 496, one stage's intermediate
  * chunks hold about 31/496 of max_mem, so at max_mem / 100 the planner
  * never needs a second stage, whatever max_mem is. */
object RechunkWrite extends Workload {
  import Era5Gen._
  val name = "rechunk_write"
  val warmReps = 1
  def target(era: Era5): Map[String, Int] = Map("time" -> era.NTime, "latitude" -> 16, "longitude" -> 18)
  /** With [[minMem]], the planner makes two stages. */
  val maxMem: Long = 32L << 20
  val minMem: Long = maxMem / 10
  private var store: String = _
  private var era: Era5 = _
  private var ds: XbeamDataset = _
  private var checksums: Map[String, Long] = _

  def open(ctx: Ctx): Unit = {
    store = ctx.data.resolve("era5.zarr").toString
    era = storeShape(store)
    ds = XbeamDataset.fromZarr(ctx.spark, store)
    val m = Main.mapper.readTree(ctx.data.resolve("era5.json").toFile).get("checksums")
    checksums = Vars.map(v => v -> m.get(v).asLong).toMap
  }

  def outPath(ctx: Ctx): Path = ctx.work.resolve(s"rechunk_${ctx.repTag}.zarr")

  def rep(ctx: Ctx, i: Int): RepOut = {
    val out = outPath(ctx)
    ctx.phase("rechunk_write") {
      import graft.operators.{ChunkOps, ChunkTransforms}
      import ChunkTransforms.{Pair, pairEnc}
      val split = ds.chunkDataset.flatMap { p: Pair => ChunkOps.splitVariables(p._1, p._2) }
      val (pencils, _) = ChunkTransforms.rechunk(split, ds.template.dimOrder, ds.template.dimSizes,
        ds.chunkSizes, target(era), ds.template.combinedItemsize(false), minMem, maxMem)
      XbeamDataset.fromPairs(ctx.spark, ds.template, target(era),
        ChunkTransforms.consolidateVariables(pencils), validate = false)
        .toZarr(out.toString, compressor = Some("zstd"))
    }
    RepOut(() => check(ctx, out), () => {
      val s = Files.walk(out)
      try {
        val files = s.filter(Files.isRegularFile(_)).iterator().asScala.toSeq
        lastOutFiles = files.size
        lastOutMb = files.map(Files.size(_)).sum / (1024.0 * 1024.0)
      } finally s.close()
      graft.core.Fs.deleteRecursively(out.toString)
    })
  }

  def expectedGrid: Seq[Int] = Seq(era.NTime, 16, 18)
  def nPencils: Int = ((NLat + 15) / 16) * ((NLon + 17) / 18)

  /** Re-reads the output: pencil grid and codec in the metadata, one
    * file per pencil, and a position-weighted checksum equal to the
    * input's. */
  def check(ctx: Ctx, out: Path): Option[String] = {
    Vars.iterator.flatMap { v =>
      val meta = Zarr.readArrayMeta(out.toString, v)
      val files = Files.list(out.resolve(v)).iterator().asScala.count(!_.getFileName.toString.startsWith("."))
      if (meta.chunks != expectedGrid) Some(s"$v chunks ${meta.chunks}, want $expectedGrid")
      else if (meta.compressor != Some("zstd")) Some(s"$v compressor ${meta.compressor}")
      else if (files != nPencils) Some(s"$v has $files chunk files, want $nPencils")
      else None
    }.nextOption().orElse {
      val got = ctx.phase("check") {
        XbeamDataset.fromZarr(ctx.spark, out.toString).chunkDataset.rdd
          .map { case (k, c) => RechunkWrite.chunkChecksums(k, c) }
          .reduce((a, b) => a.map { case (v, s) => v -> (s + b(v)) })
      }
      Vars.collectFirst {
        case v if got(v) + Workloads.planted(ctx, 0).toLong != checksums(v) =>
          s"$v checksum ${got(v)}, want ${checksums(v)}"
      }
    }
  }

  def chunkChecksums(k: ChunkKey, c: ArrayChunk): Map[String, Long] =
    Vars.map { v =>
      val a = c.vars(v).arr
      v -> checksum(ndToFloats(a), k.offsets("time"), k.offsets("latitude"),
        k.offsets("longitude"), a.shape(0), a.shape(1), a.shape(2))
    }.toMap

  @volatile private var lastOutMb = 0.0
  @volatile private var lastOutFiles = 0.0

  def layers(ctx: Ctx): Map[String, Double] = {
    val e = era
    import e._
    val (gets, readMb) = Layers.storeStats(store, 0 until nTimeChunks)
    Layers.zarrCommon(ctx, era, store) ++ Layers.planMetrics(era) ++
      StreamReplay.run(ctx, ctx.work.resolve("stream"), ctx.seed) ++ Map(
      "blob.gets" -> gets,
      "blob.read_mb" -> readMb,
      "blob.puts" -> lastOutFiles,
      "blob.write_mb" -> lastOutMb,
      "volume.decoded_mb" -> logicalBytes / (1024.0 * 1024.0),
      "volume.written_mb" -> logicalBytes / (1024.0 * 1024.0))
  }
}

/** Catalyst shuffles and joins with no array layer: five dedup gates of
  * the suite, called through `SparkEntry.queries` in order, over a
  * seeded corpus with planted near-duplicates. Each result is compared
  * with its `SparkEntry.oracleSql` answer, computed once by DuckDB
  * before the run. */
object TextDedup extends Workload {
  val name = "text_dedup"
  val warmReps = 1
  // one rep runs longer than the window; the median of two halves the
  // run-to-run noise of a single rep
  override val minReps = 2
  val gates: Seq[String] = Seq("d02_dedup_word_jaccard", "d06_simhash_neardup_pairs",
    "d07_dedup_components", "d12_minhash_dedup_pipeline", "e19_dedup_then_index")
  private var dir: String = _
  private var oracle: Map[String, (Seq[String], Seq[Seq[Any]])] = _

  def open(ctx: Ctx): Unit = {
    dir = ctx.data.resolve("text").toString
    // open both tables the way graft.Bench's warm-up does, before any
    // gate runs. Without this the first `Tables.tPar` of a fresh session
    // can throw "Recursive update": it loads the plain table inside the
    // same ConcurrentHashMap.computeIfAbsent, which fails whenever the
    // two keys (path, size and mtime) share a hash bin.
    Seq("documents", "embeddings").foreach(t => graft.queries.Tables.t(ctx.spark, dir, t))
    val root = Main.mapper.readTree(ctx.data.resolve("text").resolve("oracle.json").toFile)
    oracle = gates.map { g =>
      val n = root.get(g)
      require(n != null, s"no oracle answer for $g")
      val cols = n.get("columns").elements().asScala.map(_.asText).toSeq
      val rows = n.get("rows").elements().asScala.map(_.elements().asScala.map(Cells.fromJson).toSeq).toSeq
      g -> (cols, rows)
    }.toMap
  }

  def rep(ctx: Ctx, i: Int): RepOut = {
    val results = gates.map { g =>
      g -> ctx.phase(g)(graft.SparkEntry.queries(g)(ctx.spark, dir).collect())
    }
    RepOut(() => results.iterator.flatMap { case (g, rows) =>
      Cells.compare(g, oracle(g), rows, Workloads.planted(ctx, 0))
    }.nextOption())
  }

  def layers(ctx: Ctx): Map[String, Double] = Map.empty
}

/** Canonical cells for comparing Spark rows with DuckDB's answer: the
  * rules of the suite's oracle compare — columns sorted by name, rows in
  * order, exact values, integers as 64-bit, NULL equal only to NULL. */
object Cells {
  def fromJson(n: com.fasterxml.jackson.databind.JsonNode): Any =
    if (n.isNull) null
    else if (n.isIntegralNumber) n.asLong
    else if (n.isNumber) n.asDouble
    else if (n.isBoolean) n.asBoolean
    else if (n.isTextual) n.asText match {
      case "NaN" => Double.NaN
      case "Infinity" => Double.PositiveInfinity
      case "-Infinity" => Double.NegativeInfinity
      case t => t
    }
    else throw new IllegalArgumentException(s"unexpected oracle cell $n")

  def norm(v: Any): Any = v match {
    case null => null
    case i: Int => i.toLong
    case s: Short => s.toLong
    case b: Byte => b.toLong
    case f: Float => f.toDouble
    case other => other
  }

  def same(a: Any, b: Any): Boolean = (norm(a), norm(b)) match {
    case (null, null) => true
    case (null, _) | (_, null) => false
    case (x: Double, y: Double) => (x.isNaN && y.isNaN) || x == y
    case (x, y) => x == y
  }

  def compare(gate: String, want: (Seq[String], Seq[Seq[Any]]), got: Array[Row],
              plant: Double): Option[String] = {
    val (cols, rows) = want
    if (got.isEmpty && rows.nonEmpty) return Some(s"$gate: no rows, want ${rows.size}")
    val names = if (got.isEmpty) cols else got.head.schema.fieldNames.toSeq
    if (names.sorted != cols.sorted) return Some(s"$gate columns ${names.sorted}, want ${cols.sorted}")
    if (got.length != rows.length) return Some(s"$gate: ${got.length} rows, want ${rows.length}")
    val order = cols.sorted
    val wi = order.map(cols.indexOf(_))
    val gi = order.map(names.indexOf(_))
    got.indices.iterator.flatMap { r =>
      order.indices.collectFirst {
        case c if !same(bump(got(r).get(gi(c)), if (r == 0 && c == 0) plant else 0.0), rows(r)(wi(c))) =>
          s"$gate row $r column ${order(c)}: ${got(r).get(gi(c))}, want ${rows(r)(wi(c))}"
      }
    }.nextOption()
  }

  private def bump(v: Any, by: Double): Any =
    if (by == 0.0) v
    else v match {
      case l: Long => l + by.toLong
      case i: Int => i + by.toInt
      case d: Double => d + by
      case other => s"$other+planted"
    }
}
