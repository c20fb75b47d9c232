package graft.fs

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

import graft.SparkSpec
import graft.ArtifactStore.scratch
import graft.streaming.Streams

/** The engine's local file work starts no process through Hadoop's
  * `Shell`: a parquet write and a catch-up stream over it (checkpoint
  * offsets, commits, metadata and state deltas) under a JFR recording of
  * `jdk.ProcessStart`. With Hadoop's stock local filesystem and no
  * `libhadoop`, each stream run forks about 90 `chmod`/`readlink`. */
class NoForkSpec extends SparkSpec {
  import spark.implicits._

  test("a parquet write and a catch-up stream fork no Hadoop shell") {
    val events = scratch(spark, "graft_nofork") + "/events"
    val ckpt = scratch(spark, "graft_nofork_ckpt")
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try {
      // an hourly event table in two part files: two stream batches
      (0 until 1000).map(i =>
          (new java.sql.Timestamp(i * 3600000L), s"t${i % 3}", i * 0.5))
        .toDF("ts", "event_type", "value")
        .repartition(2).write.parquet(events)
      assert(Streams.dailyEventAgg(spark, events, ckpt, "*.parquet")
        .count() > 0)
    } finally rec.stop()
    val jfr = Files.createTempFile("graft_nofork", ".jfr")
    try {
      rec.dump(jfr)
      val starts = RecordingFile.readAllEvents(jfr).asScala.toSeq
      val shell = starts.filter(e => Option(e.getStackTrace).exists(
        _.getFrames.asScala.exists(_.getMethod.getType.getName
          .startsWith("org.apache.hadoop.util.Shell"))))
      assert(shell.size === 0, s"${shell.size} of ${starts.size} process " +
        "starts came from Hadoop's Shell: " +
        shell.map(_.getString("command")).distinct.take(5).mkString("; "))
    } finally {
      rec.close()
      Files.delete(jfr)
    }
  }
}
