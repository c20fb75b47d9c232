package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** Session configuration, temp-dir lifetime and state partitioning are
  * each decided in one module; this keeps copies from drifting back into
  * `src/main`. */
class SessionGuardSpec extends AnyFunSuite {
  private val root = new File("src/main/scala")

  private def sources(f: File): Seq[File] =
    if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(sources)
    else if (f.getName.endsWith(".scala")) Seq(f)
    else Nil

  /** `rel:line: match` for every match of `pattern` (which may span
    * lines) in the sources outside `owners`. */
  private def hits(pattern: String, owners: Set[String]): Seq[String] = {
    assert(root.isDirectory, s"run from the repository root: $root")
    val re = pattern.r
    for {
      f <- sources(root)
      rel = root.toPath.relativize(f.toPath).toString
      if !owners(rel)
      text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      m <- re.findAllMatchIn(text).toSeq
    } yield s"$rel:${text.take(m.start).count(_ == '\n') + 1}: ${m.matched}"
  }

  test("SparkSession.builder and createTempDirectory appear only in " +
    "Session and ArtifactStore") {
    val found = hits("SparkSession\\.builder|createTempDirectory",
      Set("graft/Session.scala", "graft/ArtifactStore.scala"))
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  test("spark.sql.shuffle.partitions is set only in Session and " +
    "Streams, and no statePartitions knob exists") {
    val set = hits(
      "(conf\\.set|\\.config)\\(\\s*\"spark\\.sql\\.shuffle\\.partitions\"",
      Set("graft/Session.scala", "graft/streaming/Streams.scala"))
    val knob = hits("statePartitions", Set.empty)
    assert(set.isEmpty && knob.isEmpty,
      (set ++ knob).mkString("\n", "\n", ""))
  }
}
