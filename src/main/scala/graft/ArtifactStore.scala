package graft

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.commons.io.FileUtils
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** The one place the engine's built-once artifacts and temp dirs live.
  *
  *  - [[artifact]] / [[artifactDir]] declare a built-once artifact (an
  *    at-rest index, a graph snapshot, a few collected rows). It is built
  *    on first use per (session, sf dir) and shared by every later use in
  *    that session. The key holds the SparkSession object itself, so a new
  *    session (`newSession()` included) builds its own copy and a stopped
  *    session's entries can never be hit by a later one. Declaring an
  *    artifact registers it: [[prebuild]] builds every registered one.
  *  - [[scratch]] hands out a fresh temp dir owned by a session.
  *
  * Lifetime: every dir handed out for a session is deleted when the
  * session is released, which happens when its SparkContext stops. Nothing
  * is deleted while the session runs, so no deletion lands inside a timed
  * section. Builds run outside any shared lock, so an artifact whose build
  * reads another artifact (the graph snapshot reads the trade edges) works.
  */
object ArtifactStore {

  /** A named built-once artifact; see [[ArtifactStore]]. */
  final class Artifact[T] private[ArtifactStore] (
      val name: String, build: (SparkSession, String) => T) {
    def apply(s: SparkSession, d: String): T = {
      val cell = ArtifactStore.synchronized(
        owner(s).built.getOrElseUpdate((d, name), new Cell))
      cell.synchronized {
        if (cell.value.isEmpty) cell.value = Some(build(s, d))
        cell.value.get.asInstanceOf[T]
      }
    }
  }

  private final class Cell { var value: Option[Any] = None }

  /** What the store holds for one session. */
  private final class Owned {
    val built = mutable.Map[(String, String), Cell]()
    val dirs = mutable.ArrayBuffer[Path]()
  }

  // SparkSession keeps reference equality, so these maps key on identity
  private val owners = mutable.Map[SparkSession, Owned]()
  private val watched = mutable.Set[SparkContext]()
  private val declared = mutable.ArrayBuffer[Artifact[_]]()

  def artifact[T](name: String)(
      build: (SparkSession, String) => T): Artifact[T] = synchronized {
    require(!declared.exists(_.name == name),
      s"artifact $name declared twice")
    val a = new Artifact(name, build)
    declared += a
    a
  }

  /** An artifact whose value is its own scratch dir, filled by `build`
    * (session, sf dir, dir). */
  def artifactDir(name: String)(
      build: (SparkSession, String, String) => Unit): Artifact[String] =
    artifact(name) { (s, d) =>
      val p = scratch(s, s"graft_$name")
      build(s, d, p)
      p
    }

  /** A fresh temp dir, deleted when `s` is released. */
  def scratch(s: SparkSession, prefix: String): String = {
    val p = Files.createTempDirectory(prefix)
    synchronized(owner(s).dirs += p)
    p.toString
  }

  /** The names of every declared artifact, in declaration order. */
  private[graft] def registered: Seq[String] =
    synchronized(declared.map(_.name).toSeq)

  /** Builds every declared artifact for (session, sf dir). */
  private[graft] def prebuild(s: SparkSession, d: String): Unit =
    synchronized(declared.toSeq).foreach(_(s, d))

  /** Forgets `s`'s artifacts and deletes every dir handed out for it. */
  private[graft] def release(s: SparkSession): Unit =
    synchronized(owners.remove(s)).foreach(
      _.dirs.foreach(p => FileUtils.deleteQuietly(p.toFile)))

  private def owner(s: SparkSession): Owned = synchronized {
    val sc = s.sparkContext
    if (watched.add(sc)) sc.addSparkListener(new SparkListener {
      override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
        ArtifactStore.synchronized {
          watched -= sc
          owners.keys.filter(_.sparkContext eq sc).toSeq
        }.foreach(release)
    })
    owners.getOrElseUpdate(s, new Owned)
  }
}
