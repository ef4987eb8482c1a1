package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Keeps the harness on one session contract and one stage listener: a
  * `SparkSession.builder()` outside [[Sessions]], or a listener
  * registered outside [[org.apache.spark.StageLog]]'s file, fails the
  * suite — every main builds its session through `Sessions.builder()`
  * and measures stages through `StageLog`. */
class HarnessContractSpec extends org.scalatest.funsuite.AnyFunSuite {
  private val allowed = Map(
    "SparkSession.builder()" -> "Sessions.scala",
    "addSparkListener" -> "GraftSparkBridge.scala")

  test("only Sessions builds a session; only StageLog registers a listener") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root missing")
    val files = {
      val s = Files.walk(root)
      try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    assert(files.exists(_.getFileName.toString == "Sessions.scala"))
    val offenders = for {
      f <- files
      (needle, home) <- allowed
      if f.getFileName.toString != home
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if line.contains(needle)
    } yield s"${root.relativize(f)}:${i + 1}: $needle"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
