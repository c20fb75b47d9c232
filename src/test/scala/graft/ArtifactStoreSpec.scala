package graft

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

/** The built-once and lifetime contract of [[ArtifactStore]]. Every test
  * works in its own `newSession()`, so releasing it never touches the
  * shared test session. */
class ArtifactStoreSpec extends SparkSpec {
  import ArtifactStoreSpec._

  private def built(name: String): Int = builds(name).get

  test("a (session, sf dir, name) artifact builds exactly once") {
    val s = spark.newSession()
    val before = built("spec_counted")
    val dirs = (1 to 3).map(_ => counted(s, "sfA"))
    assert(dirs.distinct.size === 1)
    assert(built("spec_counted") === before + 1)
    assert(new File(dirs.head, "marker").isFile)
    // another sf dir is another artifact
    assert(counted(s, "sfB") !== dirs.head)
    assert(built("spec_counted") === before + 2)
    ArtifactStore.release(s)
  }

  test("a second session builds its own copy in a different dir") {
    val (s1, s2) = (spark.newSession(), spark.newSession())
    val before = built("spec_counted")
    val d1 = counted(s1, "sf")
    val d2 = counted(s2, "sf")
    assert(d1 !== d2)
    assert(built("spec_counted") === before + 2)
    Seq(s1, s2).foreach(ArtifactStore.release)
  }

  test("an artifact whose build reads another artifact builds both once") {
    val s = spark.newSession()
    val (in0, out0) = (built("spec_inner"), built("spec_outer"))
    val out = outer(s, "sf")
    val in = inner(s, "sf")
    assert(Files.readString(Paths.get(out, "inner")) === in)
    assert(outer(s, "sf") === out)
    assert(built("spec_inner") === in0 + 1)
    assert(built("spec_outer") === out0 + 1)
    ArtifactStore.release(s)
  }

  test("releasing a session deletes every dir handed out for it") {
    val s = spark.newSession()
    val keep = spark.newSession()
    val dirs = Seq(counted(s, "sf"), outer(s, "sf"), inner(s, "sf"),
      ArtifactStore.scratch(s, "graft_spec_scratch"))
    val kept = counted(keep, "sf")
    assert(dirs.forall(new File(_).isDirectory))
    ArtifactStore.release(s)
    assert(dirs.forall(!new File(_).exists), dirs)
    assert(new File(kept).isDirectory, "another session's dir survives")
    // released artifacts are forgotten, not served stale
    val before = built("spec_counted")
    val again = counted(s, "sf")
    assert(new File(again).isDirectory)
    assert(built("spec_counted") === before + 1)
    Seq(s, keep).foreach(ArtifactStore.release)
  }

  test("the registry covers every shared at-rest artifact") {
    assert(ExtensionQueries.dTokens.nonEmpty) // declares its artifacts
    val shared = Seq("sharedTradeEdges", "coOccurrencePairs",
      "graphSnapshotDir", "sharedWalkCorpus", "sharedSuffixArray",
      "saProbeIndexDir", "saStreamSeedDir", "annStreamSeedDir",
      "ccStreamSeedDir", "annTrioSeedDir", "sharedScrubbedSa",
      "sharedLshIndex", "sharedSketchStore", "sharedPqCodes",
      "sharedExactPct")
    assert(shared.filterNot(ArtifactStore.registered.contains).isEmpty)
  }
}

object ArtifactStoreSpec {
  // declared once per JVM: declaring registers the name
  private val builds = Seq("spec_counted", "spec_inner", "spec_outer")
    .map(_ -> new AtomicInteger).toMap

  private val counted = ArtifactStore.artifactDir("spec_counted") {
    (_, _, p) =>
      builds("spec_counted").incrementAndGet()
      Files.writeString(Paths.get(p, "marker"), "x")
  }
  private val inner = ArtifactStore.artifactDir("spec_inner") { (_, _, _) =>
    builds("spec_inner").incrementAndGet()
  }
  private val outer = ArtifactStore.artifactDir("spec_outer") { (s, d, p) =>
    builds("spec_outer").incrementAndGet()
    Files.writeString(Paths.get(p, "inner"), inner(s, d))
  }
}
