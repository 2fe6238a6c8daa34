package graft.queries

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** `Tables.tPar` caches its spread plan under "<tsKey>#par" in the same
  * per-session ConcurrentHashMap as the base table's "<tsKey>" entry. A
  * base table resolved inside the "#par" entry's computeIfAbsent nests a
  * second computeIfAbsent on that map, which throws "Recursive update"
  * whenever both keys hash to one bin. */
class TablesCacheSpec extends AnyFunSuite {

  /** Bin of `key` in a fresh ConcurrentHashMap's 16-bin table. */
  private def bin16(key: String): Int = {
    val h = key.hashCode
    (h ^ (h >>> 16)) & 0x7fffffff & 15
  }

  test("a fresh session's first tPar works when the plain and #par keys share a bin") {
    val spark = TestSpark.spark
    val dir = Files.createTempDirectory("tpar_bins")
    val written = dir.resolve("written.parquet")
    spark.range(0, 10).toDF("id").coalesce(1).write.parquet(written.toString)
    // rename the table until both of its cache keys land in one bin
    var name = ""
    var at: Path = written
    var i = 0
    while (name.isEmpty && i < 1000) {
      val next = dir.resolve(s"t$i.parquet")
      Files.move(at, next)
      at = next
      val key = Tables.tsKey(next.toString)
      if (bin16(key) == bin16(key + "#par")) name = s"t$i"
      i += 1
    }
    assert(name.nonEmpty, "no table name put both keys in one bin")
    val fresh = spark.newSession()
    val df = Tables.tPar(fresh, dir.toString, name)
    assert(df.count() == 10)
    assert(Tables.tPar(fresh, dir.toString, name) eq df)
    graft.core.Fs.deleteRecursively(dir)
  }
}
