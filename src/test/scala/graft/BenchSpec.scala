package graft

import java.nio.file.{Files, Paths}
import java.util.Locale

import scala.collection.mutable
import scala.jdk.CollectionConverters._
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

  test("Bench is the one timing loop and the mains are the fixed six") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: ${root.toAbsolutePath}")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    def having(needle: String): Set[String] = files
      .filter(p => Files.readString(p).contains(needle))
      .map(_.getFileName.toString.stripSuffix(".scala")).toSet
    assert(having("System.nanoTime") == Set("Bench"))
    assert(having("def main(") ==
      Set("Bench", "Verify", "Explain", "Pipeline", "QlShell", "Datasets"))
  }
}
