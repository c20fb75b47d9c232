package graft.sources

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

import graft.{SparkSpec, Tables}
import graft.ArtifactStore.scratch

/** Building a parquet frame through [[Parquet]] starts no Spark job:
  * the schema comes from one footer read on the driver, where
  * `spark.read.parquet` starts a one-task inference job per read. A
  * `mergeSchema` read still goes to Spark's inference. */
class ParquetJobsSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  /** The jobs a SparkListener sees start while `build` makes its frame
    * and reads its schema. The listener bus delivers events in order, so
    * once a marker job run after `build` has been seen to start, every
    * job `build` started has been counted. */
  private def jobsStarted(build: => DataFrame): Int = {
    val sc = spark.sparkContext
    val group = s"graft-parquet-jobs-${System.nanoTime}"
    val started = new AtomicInteger(0)
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).map(_.getProperty("spark.jobGroup.id"))
          .foreach { g =>
            if (g == group) started.incrementAndGet()
            else if (g == s"$group-marker") flushed.countDown()
          }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "build a parquet frame")
      build.schema
      sc.setJobGroup(s"$group-marker", "flush the listener bus")
      sc.parallelize(Seq(1), 1).count()
      assert(flushed.await(60, TimeUnit.SECONDS), "marker job not seen")
      started.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("spark.read.parquet starts one inference job per read") {
    for (name <- Tables.names)
      assert(jobsStarted(spark.read.parquet(s"$sf/$name.parquet")) === 1,
        name)
  }

  test("Tables.t and Parquet.read build each testdata table with no job") {
    for (name <- Tables.names) {
      assert(jobsStarted(Tables.t(spark, sf, name)) === 0, name)
      assert(jobsStarted(Parquet.reader(spark)
        .option("pathGlobFilter", s"$name.parquet").load(sf)) === 0, name)
    }
  }

  test("a mergeSchema read, by option or by session setting, still " +
    "starts Spark's inference job") {
    val dir = scratch(spark, "graft_pq_merge")
    spark.range(5).write.parquet(s"$dir/b=0")
    spark.range(5).selectExpr("id", "id * 2 AS extra")
      .write.parquet(s"$dir/b=1")
    val byOption = Parquet.reader(spark).option("mergeSchema", "true")
    assert(jobsStarted(byOption.load(dir)) >= 1)
    assert(byOption.load(dir).columns.toSeq === Seq("id", "extra", "b"))
    val merging = spark.newSession()
    merging.conf.set("spark.sql.parquet.mergeSchema", "true")
    assert(jobsStarted(Parquet.read(merging, dir)) >= 1)
  }
}
