package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's timing loop must never score a query that threw. */
class BenchSpec extends AnyFunSuite {

  test("bench timer: a throwing query is listed as failed and left out of the sums") {
    var calls = Map.empty[String, Int]
    val timer = new Bench.Timer(3, name => {
      calls += name -> (calls.getOrElse(name, 0) + 1)
      if (name == "q_throws" || (name == "q_flaky" && calls(name) == 2))
        throw new IllegalStateException(s"$name crashed")
    })
    val rs = timer.timed(Seq("q_ok", "q_throws", "q_flaky"))
    assert(timer.failed.toSeq === Seq("q_throws", "q_flaky"))
    assert(calls === Map("q_ok" -> 3, "q_throws" -> 3, "q_flaky" -> 3))
    val byName = rs.toMap
    assert(byName("q_throws") === ((-1.0, -1.0, -1.0)))
    assert(byName("q_ok")._1 >= 0 && byName("q_flaky")._1 >= 0)
    val (value, minValue) = Bench.sums(rs)
    assert(value === byName("q_ok")._2 + byName("q_flaky")._2)
    assert(minValue === byName("q_ok")._1 + byName("q_flaky")._1)
  }
}
