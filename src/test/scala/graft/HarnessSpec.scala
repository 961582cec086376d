package graft

import java.util.Locale

import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse, render}

/** The shared harness pieces of the Spark mains: number formatting, the
  * measured span and ScaleCurve's artifact merge. */
class HarnessSpec extends SparkSpec {

  test("fixed formats with a decimal point under a comma-decimal default locale") {
    val saved = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    try {
      assert(f"${255.25}%.1f" == "255,3", "the JVM default locale is not comma-decimal")
      val json = s"""{"heap_mb":${Harness.fixed(255.25, 1)},"gb":${Harness.fixed(1.5, 0)}}"""
      assert(parse(json) == JObject("heap_mb" -> JDouble(255.3), "gb" -> JInt(2)))
      val s = Harness.Span((), 1.0, 3L, 1234567L, 0L, 7L, 0L, 0L)
      assert((parse(s.snapshotJson) \ "max_task_input_mb") == JDouble(1.2))
    } finally Locale.setDefault(saved)
  }

  test("span reports the tasks of its own jobs only") {
    spark.range(0, 1000, 1, 4).count() // an earlier unit's tasks
    val s = Harness.span("probe")(spark.range(0, 1000, 1, 3).selectExpr("sum(id)").head().getLong(0))
    assert(s.result == 499500L)
    assert(s.tasks >= 3 && s.tasks < 8, s"tasks=${s.tasks}")
    assert(s.seconds > 0)
    assert(spark.sparkContext.getLocalProperty("spark.job.description") == null)
  }

  test("scale-curve merge replaces only the cells a run measured") {
    val old = parse("""{"dir":"/sf0.01","cap":256,
      "x1":{"docs":10,"a":{"wall_s":1.0,"result":1},"b":{"wall_s":2.0,"result":2}},
      "x10":{"docs":100,"a":{"wall_s":3.0,"result":3}}}""")
    val cell = JObject("wall_s" -> JDecimal(BigDecimal("9.5")), "result" -> JLong(9))
    val fresh = Seq(
      "x1" -> JObject("docs" -> JLong(5), "b" -> cell, "c" -> cell),
      "x100" -> JObject("docs" -> JLong(1000), "b" -> cell))
    val merged = ScaleCurve.mergeCurve(old, "/sf0.01", 256L, fresh)
    assert(parse(compact(render(merged))) == parse("""{"dir":"/sf0.01","cap":256,
      "x1":{"docs":10,"a":{"wall_s":1.0,"result":1},"b":{"wall_s":9.5,"result":9},
        "c":{"wall_s":9.5,"result":9}},
      "x10":{"docs":100,"a":{"wall_s":3.0,"result":3}},
      "x100":{"docs":1000,"b":{"wall_s":9.5,"result":9}}}"""))
  }

  test("scale-curve merge refuses a file measured at another dir or cap") {
    val old = parse("""{"dir":"/sf0.01","cap":256,"x1":{"docs":10,"a":{"result":1}}}""")
    val fresh = Seq("x1" -> JObject("docs" -> JLong(1), "a" -> JObject("result" -> JLong(2))))
    for ((dir, cap) <- Seq(("/sf0.001", 256L), ("/sf0.01", 64L))) {
      val e = intercept[IllegalArgumentException](ScaleCurve.mergeCurve(old, dir, cap, fresh))
      for (v <- Seq("/sf0.01", "256", dir, cap.toString))
        assert(e.getMessage.contains(v), s"'$v' missing from: ${e.getMessage}")
    }
  }
}
