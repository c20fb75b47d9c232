package graft

/** Dev tool (test scope): isolate the 32-core streaming cold-start
  * question from the r12 verdict — run ONE query in a fresh session,
  * cold + warm.
  *
  *   SPARK_GRAFT_CPUS=32 \
  *     sbt "Test/runMain graft.StreamColdProbe q_stream_topk [sfDir]"
  */
object StreamColdProbe {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = Session()
    println(s"[probe] $name cpus=${Session.cpus}")
    val fn = SparkEntry.queries(name)
    (1 to 3).foreach { i =>
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      println(f"[probe] $name run$i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
