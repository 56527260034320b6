package graft

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics

import graft.tools.DailyRunner

/** Each `DailyRunner.runOnce` starts a streaming query on a clone of
  * the session. Spark's codegen cache is keyed by classloader and
  * source, so it only serves a warm increment when every clone shares
  * one classloader — which `GraftSession` pins by turning artifact
  * isolation off. With it on, every increment recompiles identical
  * classes. */
class CodegenReuseSpec extends SparkTestBase {
  import DailyIncrementSpec.{CanonicalHeader, bar, land}

  test("a warm daily increment compiles no new classes") {
    val root = tempDir("graft-codegen")
    val landing = root.resolve("landing"); Files.createDirectories(landing)
    def run(): Long = DailyRunner.runOnce(spark, landing.toString,
      root.resolve("table").toString, root.resolve("ckpt").toString)

    land(landing, "day1.csv", CanonicalHeader,
      bar("Feb 02, 2099", "1,234.50", "2.5K", "+0.52%", "Alpha"))
    assert(run() == 1L)

    land(landing, "day2.csv", CanonicalHeader,
      bar("Feb 03, 2099", "1,240.00", "763.44M", "-0.99%", "Alpha"))
    val compiled0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    assert(run() == 1L)
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled0
    assert(compiled == 0L, s"a warm increment compiled $compiled classes")
  }
}
