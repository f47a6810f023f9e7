package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Argument errors in the mains fail before any session starts, with
  * the main's usage message — never a bare MatchError, and never a
  * mode falling through to another branch after Spark is up.
  */
class MainArgsSpec extends AnyFunSuite {

  // Never read: every invocation here must stop at argument checking.
  private val sf = "sfDir"
  private val q = "q01_genre_avg_revenue"

  /** Run `main` and expect the usage error, with the JVM's default
    * session untouched: a main that built (or stopped) a session first
    * would change it. */
  private def rejects(main: Array[String] => Unit, args: String*): IllegalArgumentException = {
    val before = SparkSession.getDefaultSession
    val e = intercept[IllegalArgumentException](main(args.toArray))
    assert(SparkSession.getDefaultSession == before,
      s"${args.mkString(" ")}: a session was started or stopped before the args were checked")
    assert(e.getMessage.contains("usage:"), e.getMessage)
    e
  }

  test("Verify rejects any arg count but 2 or 3 with its usage") {
    Seq(Nil, Seq(sf), Seq(sf, "/tmp/out", q, "extra")).foreach { a =>
      val e = rejects(Verify.main, a: _*)
      assert(e.getMessage == Verify.usage)
    }
  }

  test("Smoke rejects unknown modes, short modes and unknown queries with its usage") {
    Seq(
      Seq("--bogus"), Seq("--bogus", sf, q),
      Seq("--time"), Seq("--time", sf),
      Seq("--plan", sf),
      Seq("--stages", sf), Seq("--stages", sf, "/tmp/out"),
      Seq("--prepare"),
      Seq("no_such_query"), Seq("no_such_query", sf),
      Seq("--time", sf, q, "no_such_query"),
      Seq("--stages", sf, "/tmp/out", "no_such_query"),
    ).foreach { a =>
      val e = rejects(Smoke.main, a: _*)
      assert(e.getMessage.endsWith(Smoke.usage), e.getMessage)
    }
  }

  test("Smoke resolves every valid invocation without starting Spark") {
    val before = SparkSession.getDefaultSession
    Seq(
      Nil, Seq(q), Seq(q, sf),
      Seq("--time", sf, q), Seq("--plan", sf, q, q),
      Seq("--stages", sf, "/tmp/out", q),
      Seq("--prepare", sf), Seq("--prepare", sf, "events", "textops"),
    ).foreach(a => Smoke.parse(a.toArray))
    assert(SparkSession.getDefaultSession == before)
  }

  test("Profile without out= is a usage error, not an unrecorded run") {
    rejects(Profile.main, sf)
    rejects(Profile.main, sf, "reps=2")
  }
}
