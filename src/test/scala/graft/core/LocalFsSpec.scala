package graft.core

import java.net.URI
import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** The fork-free write path: what [[LocalFs.writer]] leaves on disk is
  * what a plain `df.write` leaves (names and modes), and it is the only
  * write path in the program. */
class LocalFsSpec extends SparkTestBase {

  /** Relative path → mode of everything under `root` (itself included),
    * with the per-job UUID in part-file names blanked. */
  private def tree(root: Path): Map[String, String] =
    Files.walk(root).iterator().asScala.map { p =>
      val rel = root.relativize(p).toString
        .replaceAll("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "UUID")
      rel -> PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    }.toMap

  test("the helper writes the same files, .crc files, markers and modes as a plain write") {
    val df = spark.range(200).withColumn("k", col("id") % 3).repartition(2)
    val plain = Files.createTempDirectory("localfs-plain").resolve("out")
    val helper = Files.createTempDirectory("localfs-helper").resolve("out")
    df.write.partitionBy("k").parquet(plain.toString)
    LocalFs.writer(df).partitionBy("k").parquet(helper.toString)
    val (want, got) = (tree(plain), tree(helper))
    assert(got == want)
    assert(got.keySet.exists(_.endsWith(".parquet.crc")) && got.contains("_SUCCESS") &&
      got.contains("k=0"), got.keySet)
    assert(sameRows(spark.read.parquet(helper.toString), df))
  }

  test("the write options select LocalFs for file: paths, uncached") {
    val conf = new Configuration()
    LocalFs.WriteOptions.foreach { case (k, v) => conf.set(k, v) }
    val a = FileSystem.get(URI.create("file:///"), conf)
    assert(a.isInstanceOf[LocalFs])
    assert(!(a eq FileSystem.get(URI.create("file:///"), conf)))
  }

  test("setPermission maps every mode bit exactly") {
    val fs = new LocalFs
    fs.initialize(URI.create("file:///"), new Configuration())
    val f = Files.createTempFile("localfs-mode", ".bin")
    for ((octal, want) <- Seq("0000" -> "---------", "0644" -> "rw-r--r--",
        "0700" -> "rwx------", "0755" -> "rwxr-xr-x", "0777" -> "rwxrwxrwx")) {
      fs.setPermission(new HPath(f.toUri), new FsPermission(Integer.parseInt(octal, 8).toShort))
      assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(f)) == want, octal)
    }
  }

  test("every DataFrame write in the program goes through the helper") {
    val main = Paths.get("src/main/scala")
    assert(Files.isDirectory(main), s"run from the repo root: ${main.toAbsolutePath}")
    val writes = Files.walk(main).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => """\.write\b""".r.findFirstIn(Files.readString(p)).nonEmpty)
      .map(p => main.relativize(p).toString).toSeq
    assert(writes == Seq("graft/core/LocalFs.scala"))
  }
}
