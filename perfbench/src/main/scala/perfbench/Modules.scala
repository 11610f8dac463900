package perfbench

import java.io.File

/** Maps a Spark call site to the program module whose code submitted the
  * job. Modules are the directories under `src/main/scala/graft/`; files
  * directly in `graft/` (Pipeline, Orchestrator, QueryDef, SparkEntry, the
  * mains) form the `pipeline` module. Call sites in the benchmark's own
  * files map to [[Modules.Bench]]: such a job belongs to the module of
  * the span that encloses it.
  */
final class Modules(fileToModule: Map[String, String]) {

  /** The program's modules, by the call-site rule's names. */
  def program: Seq[String] =
    fileToModule.values.toSeq.distinct.filter(_ != Modules.Bench).sorted

  /** Module of a source file name such as `VersionedState.scala`. */
  def ofFile(file: String): Option[String] = fileToModule.get(file)

  /** Module of a short call site (`parquet at VersionedState.scala:40`) or
    * of a long one (a stack trace whose frames read `(File.scala:NN)`):
    * the first frame that names a known file decides. */
  def ofCallSite(callSite: String): String =
    Modules.FileRef.findAllMatchIn(callSite).map(_.group(1))
      .collectFirst(Function.unlift(ofFile))
      .getOrElse(Modules.Unknown)
}

object Modules {
  val Pipeline = "pipeline"
  val Bench = "bench"
  val Unknown = "other"

  private val FileRef = """([A-Za-z0-9_$]+\.scala):\d+""".r

  /** Scan the program and benchmark source trees. A file name that exists
    * in two modules is ambiguous and maps to neither. */
  def scan(programRoot: File, benchRoot: File): Modules = {
    def files(dir: File): Seq[File] =
      Option(dir.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap { f =>
        if (f.isDirectory) files(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil
      }
    val program = Option(programRoot.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) files(f).map(_.getName -> f.getName)
      else if (f.getName.endsWith(".scala")) Seq(f.getName -> Pipeline)
      else Nil
    }
    val bench = files(benchRoot).map(_.getName -> Bench)
    val all = (program ++ bench).groupBy(_._1).collect {
      case (file, owners) if owners.map(_._2).distinct.size == 1 => file -> owners.head._2
    }
    new Modules(all)
  }
}
