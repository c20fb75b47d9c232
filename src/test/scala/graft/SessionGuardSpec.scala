package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** Session configuration, per-run stream sessions, temp-dir lifetime,
  * state partitioning, the streaming run, read and commit protocols, the
  * parquet schema read and the lifetime of cached frames are each
  * decided in one place; this keeps copies from drifting back into
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

  test("spark.sql.shuffle.partitions and artifact isolation are set " +
    "only in Session and Streams, newSession() is called only in " +
    "Streams.streamSession, and no statePartitions knob exists") {
    val set = hits(
      "(conf\\.set|\\.config)\\(\\s*\"spark\\.sql\\." +
        "(shuffle\\.partitions|artifact\\.isolation\\.enabled)\"",
      Set("graft/Session.scala", "graft/streaming/Streams.scala"))
    val knob = hits("statePartitions", Set.empty)
    val found = set ++ knob ++
      defHits(Seq("\\.newSession\\(\\)" -> Set("streamSession")))
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  /** `text` with its comments blanked (line breaks kept, so line
    * numbers hold); string and char literals are skipped intact. */
  private def code(text: String): String =
    Seq("\"\"\".*?\"\"\"", // triple-quoted string
      "\"(?:\\\\.|[^\"\\\\\n])*\"", // string
      "'(?:\\\\.|[^'\\\\\n])'", // char
      "/\\*.*?\\*/", "//[^\n]*") // block and line comments
      .mkString("(?s)", "|", "").r.replaceAllIn(text, m =>
        java.util.regex.Matcher.quoteReplacement(
          if (m.matched.startsWith("/")) m.matched.filter(_ == '\n')
          else m.matched))

  /** `rel:line: match in def` for every match, in the comment-stripped
    * sources, of a pattern outside the defs of `file` that `owners`
    * allows it in. */
  private def defHits(owners: Seq[(String, Set[String])],
                      file: String = "graft/streaming/Streams.scala")
  : Seq[String] = {
    for {
      f <- sources(root)
      rel = root.toPath.relativize(f.toPath).toString
      text = code(new String(java.nio.file.Files.readAllBytes(f.toPath),
        "UTF-8"))
      (pattern, allowed) <- owners
      m <- pattern.r.findAllMatchIn(text).toSeq
      enclosing = "\\bdef\\s+(\\w+)".r.findAllMatchIn(text.take(m.start))
        .toSeq.lastOption.map(_.group(1))
      if rel != file || !enclosing.exists(allowed)
    } yield s"$rel:${text.take(m.start).count(_ == '\n') + 1}: " +
      s"${m.matched} in ${enclosing.getOrElse("<no def>")}"
  }

  test("catch-up runs, snapshot commits and stream reads appear only in " +
    "Streams' helpers") {
    // pattern -> the Streams defs allowed to hold it; sessionEventStream
    // keeps its own uncapped read (each user's whole history must
    // arrive in one batch)
    val found = defHits(Seq(
      "Trigger\\.AvailableNow" -> Set("catchUp"),
      "_SUCCESS" -> Set("committed"),
      "\\.readStream" -> Set("fileStream", "sessionEventStream")))
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  test("parquet is read without a declared schema only through " +
    "graft.sources.Parquet, evolvedRead's merging read aside") {
    // a `.read` chain that reaches `.parquet(` or `.format("parquet")`
    // with no `.schema(` in it makes Spark infer the schema with a job;
    // statefulSession's split-count probe declares an empty schema
    val found = defHits(Seq(
      "\\.read(?:\\s*\\.(?!schema\\b)\\w+\\((?:[^()]|\\([^()]*\\))*\\))*" +
        "\\s*\\.(?:parquet\\(|format\\(\\s*\"parquet\"\\s*\\))" ->
        Set("evolvedRead")), "graft/sources/StagedSources.scala")
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  test("frames are cached only through Staging.pinned and released in " +
    "bulk only by Staging.releaseAll") {
    val found = defHits(Seq(
      "\\.persist\\(" -> Set("pinned"),
      "\\.cache\\(\\)" -> Set.empty[String],
      "\\.unpersist\\(" -> Set("pinned", "releaseAll"),
      "clearCache" -> Set("releaseAll"),
      "getPersistentRDDs" -> Set("releaseAll")), "graft/Staging.scala")
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }
}
