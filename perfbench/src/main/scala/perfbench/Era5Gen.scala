package perfbench

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Path}
import java.util.concurrent.{Executors, TimeUnit}

import graft.core.{Template, VarSpec}
import graft.ndarray.{DType, NdArray}
import graft.sources.Zarr

/** The ERA5-like input store of `zarr_reduce` and `rechunk_write`, and the
  * expected answers a plain loop computes while generating it.
  *
  * Three float32 variables on (time, latitude, longitude), stored as
  * pancakes {time: 31, latitude: all, longitude: all} with blosc-lz4 and
  * byte shuffle (zarr's default codec). Every value is an integer with
  * |v| < 2^24, so any summation order gives bit-identical float64 sums,
  * and a chunked Spark reduce can be compared exactly with the loop. */
object Era5Gen {
  val Vars: Seq[String] = Seq("t2m", "u10", "v10")
  val NLat = 181
  val NLon = 360
  val TimeChunk = 31
  /** `zarr_reduce` phase (b) keeps time < PrunedTime: 5 pancakes. */
  val PrunedTime = 5 * TimeChunk
  val chunks: Map[String, Int] =
    Map("time" -> TimeChunk, "latitude" -> NLat, "longitude" -> NLon)

  /** The time length of the store at `path`. */
  def storeShape(path: String): Era5 = {
    val n = Zarr.readArrayMeta(path, Vars.head).shape.head.toInt
    require(n % TimeChunk == 0, s"time length $n is not whole pancakes")
    Era5(n / TimeChunk)
  }

  /** The value of `v` at one cell: a smooth latitude/longitude field, an
    * annual cycle and a small seeded noise term, rounded to an integer.
    * The noise makes the codecs do real work; the smooth part keeps the
    * compression ratio near what real reanalysis fields reach. */
  private def fill(seed: Long, vi: Int, t0: Int, nt: Int): Array[Float] = {
    val out = new Array[Float](nt * NLat * NLon)
    val rng = new java.util.SplittableRandom(seed * 1000003L + vi * 7919L + t0)
    val amp = 40.0 + 15 * vi
    val wave = Array.tabulate(NLon)(lo => 300.0 * math.sin(math.toRadians(lo * (vi + 1))))
    val zonal = Array.tabulate(NLat)(la => 2000.0 * math.cos(math.toRadians(90.0 - la)))
    var i = 0
    var t = 0
    while (t < nt) {
      val season = amp * math.sin(2 * math.Pi * (t0 + t) / 365.25)
      var la = 0
      while (la < NLat) {
        val base = zonal(la) + season
        var lo = 0
        while (lo < NLon) {
          out(i) = math.rint(base + wave(lo) + (rng.nextInt(33) - 16)).toFloat
          i += 1
          lo += 1
        }
        la += 1
      }
      t += 1
    }
    out
  }

  def floatsToNd(values: Array[Float], shape: Array[Int]): NdArray = {
    val bb = ByteBuffer.allocate(values.length * 4).order(ByteOrder.LITTLE_ENDIAN)
    bb.asFloatBuffer().put(values)
    NdArray(DType.F32, shape, bb.array())
  }

  /** Sums a plain loop takes over the generated values: phase (a) per
    * (variable, latitude, longitude) over all time; phase (b) per
    * (variable, latitude) over time < [[PrunedTime]] and all longitudes. */
  final class Sums(val a: Array[Double], val b: Array[Double]) {
    def add(vi: Int, t0: Int, vals: Array[Float]): Unit = {
      val plane = NLat * NLon
      var i = 0
      while (i < vals.length) {
        val cell = i % plane
        val v = vals(i).toDouble
        a(vi * plane + cell) += v
        if (t0 + i / plane < PrunedTime) b(vi * NLat + cell / NLon) += v
        i += 1
      }
    }
    def merge(o: Sums): Unit = {
      var i = 0
      while (i < a.length) { a(i) += o.a(i); i += 1 }
      i = 0
      while (i < b.length) { b(i) += o.b(i); i += 1 }
    }
  }
  def emptySums: Sums =
    new Sums(new Array[Double](Vars.size * NLat * NLon), new Array[Double](Vars.size * NLat))

  /** Position-weighted integer checksum of one variable's values: equal
    * on input and rechunked output only when every value sits at the
    * same (time, latitude, longitude). */
  def weight(t: Long, la: Long, lo: Long): Long = (t * 31 + la * 7 + lo * 3) % 1021 + 1
  def checksum(vals: Array[Float], t0: Long, la0: Long, lo0: Long,
               nt: Int, nla: Int, nlo: Int): Long = {
    var s = 0L
    var i = 0
    var t = 0
    while (t < nt) {
      var la = 0
      while (la < nla) {
        var lo = 0
        while (lo < nlo) {
          s += vals(i).toLong * weight(t0 + t, la0 + la, lo0 + lo)
          i += 1; lo += 1
        }
        la += 1
      }
      t += 1
    }
    s
  }

  def ndToFloats(a: NdArray): Array[Float] = {
    val out = new Array[Float]((a.nbytes / 4).toInt)
    ByteBuffer.wrap(a.data).order(ByteOrder.LITTLE_ENDIAN).asFloatBuffer().get(out)
    out
  }

  final case class Generated(sums: Sums, checksums: Map[String, Long], storedBytes: Long)

  /** Writes the store of `era`'s size at `path` from `seed` on
    * `threads` threads. */
  def generate(era: Era5, path: String, seed: Long, threads: Int): Generated = {
    import era._
    val template = Template(dims,
      Vars.map(v => v -> VarSpec(dims.map(_._1), DType.F32)).toMap, Map.empty, Map.empty)
    Zarr.setupStore(path, template, chunks, compressor = Some("blosc"))
    val metas = Vars.map(v => v -> Zarr.readArrayMeta(path, v)).toMap
    val pool = Executors.newFixedThreadPool(threads)
    val jobs = for (vi <- Vars.indices; tc <- 0 until nTimeChunks) yield (vi, tc)
    val futures = jobs.map { case (vi, tc) =>
      pool.submit(new java.util.concurrent.Callable[(Int, Sums, Long)] {
        def call(): (Int, Sums, Long) = {
          val t0 = tc * TimeChunk
          val nt = math.min(TimeChunk, NTime - t0)
          val vals = fill(seed, vi, t0, nt)
          Zarr.writeRegion(path, Vars(vi), metas(Vars(vi)), Array(t0.toLong, 0L, 0L),
            floatsToNd(vals, Array(nt, NLat, NLon)))
          val s = emptySums
          s.add(vi, t0, vals)
          (vi, s, checksum(vals, t0, 0, 0, nt, NLat, NLon))
        }
      })
    }
    val sums = emptySums
    val cks = Array.fill(Vars.size)(0L)
    try futures.foreach { f =>
      val (vi, s, ck) = f.get()
      sums.merge(s)
      cks(vi) += ck
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }
    Generated(sums, Vars.zip(cks).toMap, dirBytes(Path.of(path)))
  }

  def dirBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally s.close()
  }
}

/** Store size: `nTimeChunks` pancakes of [[Era5Gen.TimeChunk]] steps. */
final case class Era5(nTimeChunks: Int) {
  import Era5Gen._
  val NTime: Int = nTimeChunks * TimeChunk
  val dims: Seq[(String, Long)] =
    Seq("time" -> NTime.toLong, "latitude" -> NLat.toLong, "longitude" -> NLon.toLong)
  def logicalBytes: Long = Vars.size.toLong * NTime * NLat * NLon * 4
}
