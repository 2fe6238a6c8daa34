package graft.streaming

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The span-file streaming gates (s07, s09, s10) feed one source file per
  * micro-batch, and the file source admits files in mtime order: span k
  * must carry a strictly larger mtime than span k-1, whatever order the
  * write tasks finished in. */
class StreamSpanFilesSpec extends AnyFunSuite {

  private def mtime(p: Path): Long = Files.getLastModifiedTime(p).toMillis

  private def strictlyIncreasing(files: Seq[Path]): Boolean =
    files.map(mtime).sliding(2).forall { case Seq(a, b) => a < b; case _ => true }

  test("placeSpanFiles orders batch mtimes by span, not by write time") {
    val tmp = Files.createTempDirectory("spans")
    val scratch = Files.createTempDirectory("batches")
    val now = System.currentTimeMillis()
    for (k <- Seq(0, 1, 3)) { // span 2 is empty: no directory
      val d = Files.createDirectories(tmp.resolve(s"span=$k"))
      val f = Files.write(d.resolve(s"part-$k.parquet"), Array[Byte](k.toByte))
      // later spans finished writing first
      Files.setLastModifiedTime(f, FileTime.fromMillis(now - k * 10000L))
    }
    StreamOps.placeSpanFiles(tmp, scratch, 4)
    val batches = Seq(0, 1, 3).map(k => scratch.resolve(s"batch$k.parquet"))
    assert(batches.forall(Files.isRegularFile(_)))
    assert(!Files.exists(scratch.resolve("batch2.parquet")))
    assert(batches.map(Files.readAllBytes(_).toSeq) == Seq(0, 1, 3).map(k => Seq(k.toByte)))
    assert(strictlyIncreasing(batches), batches.map(mtime))
    graft.core.Fs.deleteRecursively(tmp)
    graft.core.Fs.deleteRecursively(scratch)
  }

  test("s09 and s10 source span files have strictly increasing mtimes") {
    val spark = TestSpark.spark
    import spark.implicits._
    // 60 hours of events, one per hour, so every span has rows
    val dir = Files.createTempDirectory("span_events")
    (0 until 60).map(h => (h.toLong, 1786622400000000L + h * 3600000000L, h % 7 + 0.5))
      .toDF("event_id", "us", "value")
      .selectExpr("event_id", "timestamp_micros(us) AS ts", "event_id % 5 AS user_id",
        "'view' AS event_type", "value", "'{}' AS props")
      .coalesce(1).write.parquet(dir.resolve("events.parquet").toString)
    for ((gate, root) <- Seq("s09_stream_zarr_sink" -> "stream_sink",
                             "s10_stream_update_into_zarr" -> "stream_upd")) {
      val q = StreamOps.defs.find(_.name == gate).get
      assert(q.fn(spark, dir.toString).count() == 60)
      val src = Paths.get("target", root, s"src_${dir.getFileName}").toAbsolutePath
      val batches = (0 until 4).map(k => src.resolve(s"batch$k.parquet"))
      assert(batches.forall(Files.isRegularFile(_)), s"$gate: span files missing under $src")
      assert(strictlyIncreasing(batches), s"$gate: ${batches.map(mtime)}")
      graft.core.Fs.deleteRecursively(src)
      graft.core.Fs.deleteRecursively(Paths.get("target", root, s"store_${dir.getFileName}"))
    }
    graft.core.Fs.deleteRecursively(dir)
  }
}
