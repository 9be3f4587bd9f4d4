package graft

import org.apache.spark.sql.functions.sum
import org.scalatest.funsuite.AnyFunSuite

/** The session bootstrap pins the engine's required config, also on a
  * session it did not build (`GraftSession.install`). */
class GraftSessionSpec extends AnyFunSuite {

  test("install re-pins ANSI mode: a long sum that overflows raises") {
    val s = TestSpark.spark.newSession()
    s.conf.set("spark.sql.ansi.enabled", "false")
    GraftSession.install(s)
    assert(s.conf.get("spark.sql.ansi.enabled") == "true")
    import s.implicits._
    val e = intercept[Exception] {
      Seq(Long.MaxValue, Long.MaxValue).toDF("x").agg(sum($"x")).collect()
    }
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
    assert(chain.exists(t => String.valueOf(t.getMessage)
      .contains("ARITHMETIC_OVERFLOW")), e.toString)
  }
}
