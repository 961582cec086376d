package graft

import org.scalatest.funsuite.AnyFunSuite

/** The two lines Bench prints last must both fit the driver's stdout
  * tail window, whatever the failed list and sf path add. */
class BenchSpec extends AnyFunSuite {

  // 175 rows, slowest first by construction; names vary in length so a
  // short fast name could fit where a long slow one did not
  private val results = (0 until 175).map { i =>
    val name = if (i % 3 == 0) s"q$i" else s"a_rather_long_query_name_number_$i"
    (name, 1000.0 - i, i % 7 != 0, s"""{"tasks":${100 + i},"max_task_shuffle_records":${1000 * i}}""")
  }
  private val failed =
    results.collect { case (k, _, false, _) => "\"" + k + "\"" }.take(6).mkString("[", ",", "]")
  private val sfDir = "/data/" + "nested/" * 10 + "sf0.1"

  test("maxima and compact lines fit the tail window with a long failed list and sf path") {
    val lines = Bench.tailLines(results, results.map(_._2).sum, failed, sfDir, "bench_run.json")
    assert(lines.size == 2)
    val Seq(maxima, compact) = lines
    assert(compact.startsWith("""{"metric":"total","""))
    assert(compact.contains(s""""failed":$failed,"sf":"$sfDir","full":"bench_run.json"}"""))
    assert(maxima.length + 1 + compact.length + 1 <= Bench.TailWindow,
      s"${maxima.length} + ${compact.length} chars overflow the window")
    // the kept maxima are a prefix of the slowest-first order
    val kept = "\"([^\"]+)\":\\[".r.findAllMatchIn(maxima).map(_.group(1)).toSeq
    assert(kept.nonEmpty)
    assert(kept == results.map(_._1).take(kept.size))
    assert(maxima.contains(s""""${results.head._1}":[100,0]"""))
  }

  test("the compact line alone is returned when it leaves no room for maxima") {
    val lines = Bench.tailLines(results, 1.0, failed, "/x" * 300, "bench_run.json")
    assert(lines.size == 1 && lines.head.startsWith("""{"metric":"total","""))
  }
}
