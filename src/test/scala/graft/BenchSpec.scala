package graft

import java.util.Locale

import scala.collection.mutable
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("jsonLine is dot-decimal, flattens error messages, and keeps key order") {
    val saved = Locale.getDefault
    val line =
      try {
        Locale.setDefault(Locale.GERMANY)
        Bench.jsonLine(Seq("q1" -> 1.5, "q2" -> 0.25),
          mutable.LinkedHashMap("q3" -> "bad \"x\" at C:\\tmp\nnext\tcol"), "/data/sf0.1")
      } finally Locale.setDefault(saved)
    assert(line ==
      """{"metric":"total","value":1.7500,"unit":"sec","queries":{"q1":1.5000,"q2":0.2500},""" +
      """"errors":{"q3":"bad 'x' at C:\\tmp next col"},"n_queries":2,"sf":"/data/sf0.1"}""")
  }

  test("jsonLine with no errors writes an empty errors object") {
    assert(Bench.jsonLine(Seq("a" -> 0.1), Map.empty, "d") ==
      """{"metric":"total","value":0.1000,"unit":"sec","queries":{"a":0.1000},"errors":{},"n_queries":1,"sf":"d"}""")
  }
}
