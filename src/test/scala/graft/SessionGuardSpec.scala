package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** Session configuration and temp-dir lifetime are each decided in one
  * module; this keeps copies from drifting back into `src/main`. */
class SessionGuardSpec extends AnyFunSuite {
  private val root = new File("src/main/scala")
  private val owners = Set("graft/Session.scala", "graft/ArtifactStore.scala")

  private def sources(f: File): Seq[File] =
    if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(sources)
    else if (f.getName.endsWith(".scala")) Seq(f)
    else Nil

  test("SparkSession.builder and createTempDirectory appear only in " +
    "Session and ArtifactStore") {
    assert(root.isDirectory, s"run from the repository root: $root")
    val hits = for {
      f <- sources(root)
      rel = root.toPath.relativize(f.toPath).toString
      if !owners(rel)
      (line, i) <- scala.io.Source.fromFile(f, "UTF-8").getLines()
        .zipWithIndex.toSeq
      word <- Seq("SparkSession.builder", "createTempDirectory")
      if line.contains(word)
    } yield s"$rel:${i + 1}: $word"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
