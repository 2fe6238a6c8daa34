package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchConfSpec extends AnyFunSuite {

  test("SPARK_GRAFT_EXTRA_CONF parses k=v entries separated by ';'") {
    assert(Bench.parseExtraConf(" a.b = 1 ;c=x=y;; ") == Seq("a.b" -> "1", "c" -> "x=y"))
    assert(Bench.parseExtraConf("") == Nil)
  }

  test("SPARK_GRAFT_EXTRA_CONF rejects an entry without '=', naming it") {
    // a value holding ';' splits into a second entry with no '='
    val e = intercept[IllegalArgumentException](
      Bench.parseExtraConf("spark.executor.extraJavaOptions=-XX:+UseG1GC;-XX:+AlwaysPreTouch"))
    assert(e.getMessage.contains("'-XX:+AlwaysPreTouch'"), e.getMessage)
  }
}
