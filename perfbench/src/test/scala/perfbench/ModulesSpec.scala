package perfbench

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

class ModulesSpec extends AnyFunSuite {
  // sbt runs the forked tests from the benchmark's own directory
  private val program = new File("../src/main/scala/graft")
  private val bench = new File("src/main/scala")
  private lazy val modules = Modules.scan(program, bench)

  test("every file of every src/main/scala/graft/<module>/ directory maps to its module") {
    val dirs = program.listFiles().filter(_.isDirectory)
    assert(dirs.nonEmpty)
    def files(d: File): Seq[File] = d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    dirs.foreach { d =>
      files(d).filter(_.getName.endsWith(".scala")).foreach { f =>
        assert(modules.ofFile(f.getName).contains(d.getName), s"${f.getName} in ${d.getName}")
      }
    }
    assert(modules.program.toSet == dirs.map(_.getName).toSet + Modules.Pipeline)
  }

  test("files directly in graft/ are the pipeline module") {
    Seq("Pipeline.scala", "Orchestrator.scala", "QueryDef.scala", "SparkEntry.scala")
      .foreach(f => assert(modules.ofFile(f).contains(Modules.Pipeline), f))
  }

  test("short and long call sites resolve to the module of the first known file") {
    assert(modules.ofCallSite("parquet at VersionedState.scala:40") == "streaming")
    assert(modules.ofCallSite("collect at QueryGuard.scala:95") == "ql")
    val long = """org.apache.spark.sql.Dataset.collect(Dataset.scala:3000)
                 |graft.merge.MergeKernels$.upsertClassify(MergeKernels.scala:12)
                 |graft.Pipeline$.run(Pipeline.scala:150)""".stripMargin
    assert(modules.ofCallSite(long) == "merge")
  }

  test("benchmark files map to the bench module, unknown files to other") {
    assert(modules.ofCallSite("save at Workloads.scala:120") == Modules.Bench)
    assert(modules.ofCallSite("count at Nowhere.scala:1") == Modules.Unknown)
  }
}
