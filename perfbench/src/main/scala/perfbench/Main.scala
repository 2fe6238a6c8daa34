package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** Command line of the benchmark JVM.
  *
  * `gen-zarr --data D --seed N --time-chunks T` writes the ERA5-like
  * store of T pancakes and its expected answers into D. `oracle-sql
  * --out F` writes the DuckDB oracle SQL of the `text_dedup` gates. `run --workload W --seed N --seconds S
  * --trace 0|1 --data D --work K --out F` builds the session, opens the
  * inputs in D, runs warm reps, then timed reps for S seconds, checks
  * every rep's output and writes the record to F. */
object Main {
  final case class Opts(kv: Map[String, String]) {
    def apply(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def int(k: String): Int = apply(k).toInt
    def flag(k: String): Boolean = kv.get(k).contains("1")
  }

  def parse(args: Seq[String]): Opts = {
    require(args.length % 2 == 0 && args.grouped(2).forall(_.head.startsWith("--")),
      s"arguments must be --key value pairs: ${args.mkString(" ")}")
    Opts(args.grouped(2).map(p => p.head.stripPrefix("--") -> p(1)).toMap)
  }

  val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val code = args.headOption match {
      case Some("gen-zarr") => genZarr(parse(args.toSeq.tail)); 0
      case Some("run") => Runner.run(parse(args.toSeq.tail))
      case Some("oracle-sql") =>
        val sql = graft.SparkEntry.oracleSql
        val m = new java.util.LinkedHashMap[String, String]()
        TextDedup.gates.foreach(g => m.put(g, sql(g)))
        mapper.writerWithDefaultPrettyPrinter().writeValue(Paths.get(parse(args.toSeq.tail)("out")).toFile, m)
        0
      case _ =>
        System.err.println("usage: perfbench.Main gen-zarr|run --key value ...")
        2
    }
    sys.exit(code)
  }

  def writeDoubles(p: Path, a: Array[Double]): Unit = {
    val bb = java.nio.ByteBuffer.allocate(a.length * 8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.asDoubleBuffer().put(a)
    Files.write(p, bb.array())
  }

  def readDoubles(p: Path): Array[Double] = {
    val bytes = Files.readAllBytes(p)
    val out = new Array[Double](bytes.length / 8)
    java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN).asDoubleBuffer().get(out)
    out
  }

  private def genZarr(o: Opts): Unit = {
    val dir = Paths.get(o("data"))
    Files.createDirectories(dir)
    val t0 = System.nanoTime()
    val era = Era5(o.int("time-chunks"))
    val g = Era5Gen.generate(era, dir.resolve("era5.zarr").toString, o("seed").toLong,
      Runtime.getRuntime.availableProcessors())
    writeDoubles(dir.resolve("expected_a.f64"), g.sums.a)
    writeDoubles(dir.resolve("expected_b.f64"), g.sums.b)
    val m = new java.util.LinkedHashMap[String, Any]()
    m.put("logical_bytes", era.logicalBytes)
    m.put("stored_bytes", g.storedBytes)
    m.put("shape", era.dims.map(_._2).asJava)
    m.put("source_chunks", Seq(Era5Gen.TimeChunk, Era5Gen.NLat, Era5Gen.NLon).asJava)
    m.put("vars", Era5Gen.Vars.asJava)
    m.put("checksums", g.checksums.asJava)
    m.put("gen_s", (System.nanoTime() - t0) / 1e9)
    mapper.writerWithDefaultPrettyPrinter().writeValue(dir.resolve("era5.json").toFile, m)
  }
}

/** What a workload's rep returns: a check of its output that runs after
  * the rep's clock has stopped (`None`: right; `Some(why)`: wrong), and
  * the removal of what it wrote. */
final case class RepOut(check: () => Option[String], cleanup: () => Unit = () => ())

/** Shared state of one run: the session, the trace and the job-group
  * naming every phase or gate runs under. */
final class Ctx(val spark: SparkSession, val trace: Trace, val data: Path,
                val work: Path, val seed: Long, val plantWrong: Boolean) {
  var spans: Option[SparkSpans] = None
  var repTag = "setup"
  /** (job group, wall-clock ms the phase's action started) per phase. */
  val phaseStarts = mutable.ArrayBuffer.empty[(String, Long)]
  /** (rep tag, phase, seconds) of every phase run. */
  val phaseWalls = mutable.ArrayBuffer.empty[(String, String, Double)]
  val cores: Int = spark.sparkContext.defaultParallelism

  /** Runs one phase (or gate) under its own job group and span. */
  def phase[T](name: String)(body: => T): T = trace.span("phase", name) {
    val sc = spark.sparkContext
    val group = s"pb:$repTag/$name"
    sc.setJobGroup(group, name, interruptOnCancel = false)
    sc.setLocalProperty("perfbench.span", trace.current.toString)
    phaseStarts += group -> System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      phaseWalls += ((repTag, name, (System.nanoTime() - t0) / 1e9))
      sc.clearJobGroup()
      sc.setLocalProperty("perfbench.span", null)
    }
  }
}

trait Workload {
  def name: String
  /** Untimed reps inside set-up: JIT, codegen and first-touch costs. */
  def warmReps: Int
  /** Timed reps made even when `--seconds` is up sooner. */
  def minReps: Int = 1
  def open(ctx: Ctx): Unit
  def rep(ctx: Ctx, i: Int): RepOut
  /** Layer replays and volumes computed from the chunk grid, traced
    * runs only. */
  def layers(ctx: Ctx): Map[String, Double]
}
