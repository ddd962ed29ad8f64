package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.SparkSession

import graft.util.NoShellLocalFileSystem

/** The tests run on the session every entry point builds (`Session`), and
  * no other session builder exists under `src/`.
  */
class SessionSpec extends SparkSpec {

  test("the shared test session carries the factory's config") {
    val conf = spark.sparkContext.getConf
    conf.get("spark.master") shouldBe "local[4]"
    conf.get("spark.sql.shuffle.partitions") shouldBe "4"
    conf.get("spark.sql.session.timeZone") shouldBe "UTC"
    conf.get("spark.sql.legacy.parquet.nanosAsLong") shouldBe "true"
    conf.get("spark.sql.codegen.hugeMethodLimit") shouldBe "8000"
    conf.get("spark.sql.codegen.cache.maxEntries") shouldBe "4000"
    conf.get("spark.ui.enabled") shouldBe "false"
    conf.get("spark.hadoop.fs.file.impl") shouldBe classOf[NoShellLocalFileSystem].getName
    spark.conf.get("spark.sql.adaptive.enabled") shouldBe "true"
  }

  test("the test session writes through the fork-free local filesystem") {
    FileSystem.get(new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration) shouldBe
      a[NoShellLocalFileSystem]
    val out = s"${tmpDir("session-fs")}/t"
    spark.range(3).write.parquet(out)
    new org.apache.hadoop.fs.Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration) shouldBe
      a[NoShellLocalFileSystem]
  }

  test("graft.Main keeps its zero-arg session() for reflective callers") {
    val m = graft.Main.getClass.getDeclaredMethod("session")
    m.getParameterCount shouldBe 0
    m.getReturnType shouldBe classOf[SparkSession]
  }

  test("Session.scala is the only SparkSession builder under src/") {
    val src = Paths.get("src")
    assert(Files.isDirectory(src), s"run from the repository root (cwd ${Paths.get("").toAbsolutePath})")
    val needle = "SparkSession" + ".builder"
    val files = Files.walk(src)
    val builders =
      try files.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && Files.readString(p).contains(needle))
        .map(p => src.relativize(p).toString).toList
      finally files.close()
    builders shouldBe List("main/scala/graft/Session.scala")
  }
}
