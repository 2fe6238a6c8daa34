package perfbench

import java.nio.file.{Files, Path, Paths}

import graft.core.{ArrayChunk, ChunkKey, Template, VarSpec}
import graft.ndarray.{DType, NdArray}
import graft.operators.{ChunkOps, ChunkTransforms, RechunkPlanner}
import graft.sources.{Blosc, BlobStore, Zarr}

/** Driver-side replays: direct, single-threaded calls into each layer's
  * public functions on a fixed sample of the workload's own chunks,
  * each timed as the median of several calls after one warm call. Rates
  * are per core, so rate × volume gives core-seconds, the unit of
  * `spark.executor_run_s`. */
object Layers {
  import Era5Gen._
  val Reps = 5
  private val MB = 1024.0 * 1024.0
  private val GB = MB * 1024.0

  /** Median seconds of one call of `f` over [[Reps]] calls after a warm one. */
  def secs(f: => Any): Double = {
    f
    Runner.median((1 to Reps).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    })
  }

  /** Time chunks sampled by the replays: first, second and last. */
  def sampleChunks(era: Era5): Seq[Int] = Seq(0, 1, era.nTimeChunks - 1)

  final case class Sample(url: String, frame: Array[Byte], nd: NdArray)

  def samples(era: Era5, store: String): Seq[Sample] = {
    val meta = Zarr.readArrayMeta(store, Vars.head)
    sampleChunks(era).map { tc =>
      val url = s"$store/${Vars.head}/$tc.0.0"
      val frame = BlobStore.forUrl(url).read(url)
      val nd = Zarr.readRegion(store, Vars.head, meta, Array(tc.toLong * TimeChunk, 0L, 0L),
        Array(TimeChunk, NLat, NLon))
      Sample(url, frame, nd)
    }
  }

  /** The source-store side shared by both Zarr workloads. */
  def sources(era: Era5, store: String, scratch: Path): Map[String, Double] = {
    import era.NTime
    val ss = samples(era, store)
    val rawMb = ss.map(_.nd.nbytes).sum / MB
    val storedMb = ss.map(_.frame.length).sum / MB
    val meta = Zarr.readArrayMeta(store, Vars.head)
    val pencil = Zarr.readRegion(store, Vars.head, meta, Array(0L, 0L, 0L), Array(NTime, 16, 18))
    val out = scratch.resolve("replay_write.zarr").toString
    Zarr.setupStore(out, Template(Seq("time" -> NTime.toLong, "latitude" -> 16L, "longitude" -> 18L),
      Map("v" -> VarSpec(Seq("time", "latitude", "longitude"), DType.F32)), Map.empty, Map.empty),
      Map("time" -> NTime, "latitude" -> 16, "longitude" -> 18), compressor = Some("zstd"))
    val outMeta = Zarr.readArrayMeta(out, "v")
    val m = Map(
      "blob.read_mb_s" -> storedMb / secs(ss.foreach(s => BlobStore.forUrl(s.url).read(s.url))),
      "sources.decode_mb_s" -> rawMb / secs(ss.foreach(s => Blosc.decode(s.frame))),
      "sources.encode_mb_s" -> rawMb / secs(ss.foreach(s => com.github.luben.zstd.Zstd.compress(s.nd.data, 1))),
      "sources.blosc_encode_mb_s" -> rawMb / secs(ss.foreach(s => Blosc.encode(s.nd.data, 4))),
      "sources.compress_ratio" -> rawMb / storedMb,
      "sources.read_region_mb_s" -> rawMb / secs(sampleChunks(era).foreach { tc =>
        Zarr.readRegion(store, Vars.head, meta, Array(tc.toLong * TimeChunk, 0L, 0L),
          Array(TimeChunk, NLat, NLon))
      }),
      "sources.write_region_mb_s" -> pencil.nbytes / MB /
        secs(Zarr.writeRegion(out, "v", outMeta, Array(0L, 0L, 0L), pencil)))
    graft.core.Fs.deleteRecursively(out)
    m
  }

  /** NdArray kernels on the sampled pancakes: the per-chunk reduce of
    * `mean`, and the slice/assemble pair inside split and consolidate. */
  def kernels(era: Era5, store: String): Map[String, Double] = {
    val ss = samples(era, store)
    val gb = ss.map(_.nd.nbytes).sum / GB
    val pieces = ss.map { s =>
      for (la <- 0 until NLat by 16; lo <- 0 until NLon by 18) yield {
        val len = Array(TimeChunk, math.min(16, NLat - la), math.min(18, NLon - lo))
        (Array(0, la, lo), s.nd.slice(Array(0, la, lo), len))
      }
    }
    val chunks = ss.zipWithIndex.map { case (s, i) =>
      (ChunkKey("time" -> sampleChunks(era)(i).toLong * TimeChunk, "latitude" -> 0L, "longitude" -> 0L),
        ArrayChunk.single(Vars.head, Seq("time", "latitude", "longitude"), s.nd))
    }
    // split each pancake into pencil pieces, then consolidate the pieces
    // of two neighbouring pancakes back along time: both directions of a
    // rechunk stage, on 2x the sample's bytes
    val firstTwo = (0 until 2).map { i =>
      (ChunkKey("time" -> i.toLong * TimeChunk, "latitude" -> 0L, "longitude" -> 0L),
        ArrayChunk.single(Vars.head, Seq("time", "latitude", "longitude"), ss(i).nd))
    }
    val pieceGrid = Map("time" -> TimeChunk, "latitude" -> 16, "longitude" -> 18)
    val splitConsolidate = secs {
      val split = firstTwo.flatMap { case (k, c) => ChunkOps.splitChunks(k, c, pieceGrid) }
      split.groupBy { case (k, _) => (k.offsets("latitude"), k.offsets("longitude")) }
        .values.foreach(g => ChunkOps.consolidateChunks(g.sortBy(_._1.offsets("time"))))
    }
    val meanS = secs(chunks.map { case (_, c) => ChunkTransforms.sumCountChunk(c, Set("time"), true) }
      .reduce(_.merge(_)))
    Map(
      "ndarray.reduce_gb_s" -> gb / secs(ss.foreach(_.nd.sumCount(Array(0), true))),
      "ndarray.slice_gb_s" -> gb / secs(ss.foreach { s =>
        for (la <- 0 until NLat by 16; lo <- 0 until NLon by 18)
          s.nd.slice(Array(0, la, lo), Array(TimeChunk, math.min(16, NLat - la), math.min(18, NLon - lo)))
      }),
      "ndarray.concat_gb_s" -> gb / secs(pieces.foreach(p =>
        NdArray.blockAssemble(DType.F32, Array(TimeChunk, NLat, NLon), p))),
      "operators.split_consolidate_gb_s" -> 2 * firstTwo.map(_._2.nbytes).sum / GB / splitConsolidate,
      "operators.mean_chunks_s" -> chunks.size / meanS)
  }

  /** Kryo round trips of (ChunkKey, ArrayChunk) with the session's
    * registrations, and ChunkKey encoding. */
  def chunkSerde(ctx: Ctx, era: Era5, store: String): Map[String, Double] = {
    val ser = new org.apache.spark.serializer.KryoSerializer(ctx.spark.sparkContext.getConf).newInstance()
    val ss = samples(era, store)
    val pairs = ss.zipWithIndex.map { case (s, i) =>
      (ChunkKey("time" -> sampleChunks(era)(i).toLong * TimeChunk, "latitude" -> 0L, "longitude" -> 0L),
        ArrayChunk.single(Vars.head, Seq("time", "latitude", "longitude"), s.nd))
    }
    val payload = pairs.map(_._2.nbytes).sum
    val serialized = pairs.map(p => ser.serialize(p).remaining().toLong).sum
    val roundTrip = secs(pairs.foreach { p =>
      ser.deserialize[(ChunkKey, ArrayChunk)](ser.serialize(p))
    })
    val keys = (0 until 20000).map(i => ChunkKey("time" -> i.toLong * 31, "latitude" -> (i % 12) * 16L,
      "longitude" -> (i % 20) * 18L))
    Map(
      "chunk.kryo_mb_s" -> payload / MB / roundTrip,
      "chunk.kryo_overhead" -> serialized.toDouble / payload,
      "chunk.key_encode_per_s" -> keys.size / secs(keys.foreach(_.canonical)))
  }

  /** The plan `XbeamDataset.rechunk` makes for `rechunk_write`. */
  def plan(era: Era5): (Double, Vector[(Map[String, Int], Map[String, Int], Map[String, Int])]) = {
    val itemsize = Vars.size * 4L
    val mk = () => RechunkPlanner.planForDims(era.dims.map(_._1), era.dims.toMap, chunks,
      RechunkWrite.target(era), itemsize, RechunkWrite.minMem, RechunkWrite.maxMem)
    (secs(mk()) * 1000, mk())
  }

  def planMetrics(era: Era5): Map[String, Double] = {
    val (ms, stages) = plan(era)
    Map(
      "operators.rechunk_plan_ms" -> ms,
      "operators.rechunk_stages" -> stages.size.toDouble,
      "operators.intermediate_chunks" -> stages.map { case (_, inter, _) =>
        era.dims.map { case (d, n) => (n + inter(d) - 1) / inter(d) }.product.toDouble
      }.sum)
  }

  def storeStats(store: String, tcs: Seq[Int]): (Double, Double) = {
    val files = for (v <- Vars; tc <- tcs) yield Paths.get(store, v, s"$tc.0.0")
    (files.size.toDouble, files.map(Files.size(_)).sum / MB)
  }

  /** A plain single-threaded loop over every pancake of every variable:
    * read, decode, sum over time. Seconds, and whether its sums equal
    * the generator's. */
  def serialReduce(era: Era5, store: String, expA: Array[Double]): (Double, Boolean) = {
    import era._
    val plane = NLat * NLon
    val sums = new Array[Double](Vars.size * plane)
    val t0 = System.nanoTime()
    Vars.zipWithIndex.foreach { case (v, vi) =>
      val meta = Zarr.readArrayMeta(store, v)
      (0 until nTimeChunks).foreach { tc =>
        val nt = math.min(TimeChunk, NTime - tc * TimeChunk)
        val vals = ndToFloats(Zarr.readRegion(store, v, meta, Array(tc.toLong * TimeChunk, 0L, 0L),
          Array(nt, NLat, NLon)))
        var i = 0
        while (i < vals.length) { sums(vi * plane + i % plane) += vals(i); i += 1 }
      }
    }
    ((System.nanoTime() - t0) / 1e9, java.util.Arrays.equals(sums, expA))
  }

  /** Replays both Zarr workloads share. */
  def zarrCommon(ctx: Ctx, era: Era5, store: String): Map[String, Double] =
    sources(era, store, ctx.work) ++ kernels(era, store) ++ chunkSerde(ctx, era, store)
}
