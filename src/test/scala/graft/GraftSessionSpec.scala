package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Settings the engine's exactness depends on are pinned by
  * `GraftSession.configure`, whatever conf the builder arrives with. */
class GraftSessionSpec extends AnyFunSuite {

  private def causes(t: Throwable): Iterator[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)

  test("ANSI stays on when the builder carries ansi=false: long overflow is loud") {
    TestSpark.spark // the shared session exists, so the builder reuses it
    val s = GraftSession.configure(SparkSession.builder()
      .config("spark.sql.ansi.enabled", "false"), 4).getOrCreate()
    assert(s.conf.get("spark.sql.ansi.enabled") == "true")
    import s.implicits._
    val e = intercept[Exception] {
      Seq(Long.MaxValue, 1L).toDF("x").agg(sum($"x")).collect()
    }
    assert(causes(e).exists(c => String.valueOf(c.getMessage)
      .contains("ARITHMETIC_OVERFLOW")), e.toString)
  }
}
