package graft.streaming

import graft.{SparkSpec, Tables}
import graft.ArtifactStore.scratch

/** flatMapGroupsWithState sessionization ≡ batch gaps-and-islands on the
  * events table. */
class SessionizeSpec extends SparkSpec {

  test("streamed sessionization equals batch sessionization") {
    val dir = "/root/testdata/sf0.001"
    val ckpt = scratch(spark, "graft_sess_spec")

    val batch = Streams.sessionizeBatch(
      Tables.events(spark, dir)
        .select("event_id", "user_id", "ts", "value"), gapMinutes = 30)
      .collect().toSet
    val streamed = Streams
      .sessionizeStream(spark, dir, ckpt, gapMinutes = 30)
      .select("user_id", "session_start", "n_events", "sum_value")
      .collect().toSet

    assert(streamed === batch)
    assert(batch.nonEmpty)
  }

  test("transformWithState sessionization equals batch and fMGWS") {
    // the Spark 4 arbitrary-state API must reproduce the same sessions
    // as both the legacy stateful API and the batch windows — all three
    // computed HERE so the three-way claim is a direct assertion, not a
    // transitive one through another test
    val dir = "/root/testdata/sf0.001"
    val ckptTws = scratch(spark, "graft_tws_spec")
    val ckptFm = scratch(spark, "graft_tws_spec_fm")

    val batch = Streams.sessionizeBatch(
      Tables.events(spark, dir)
        .select("event_id", "user_id", "ts", "value"), gapMinutes = 30)
      .collect().toSet
    val fmgws = Streams
      .sessionizeStream(spark, dir, ckptFm, gapMinutes = 30)
      .select("user_id", "session_start", "n_events", "sum_value")
      .collect().toSet
    val tws = Streams
      .sessionizeStreamTws(spark, dir, ckptTws, gapMinutes = 30)
      .select("user_id", "session_start", "n_events", "sum_value")
      .collect().toSet

    assert(tws === batch)
    assert(tws === fmgws)
    assert(batch.nonEmpty)
  }
}
