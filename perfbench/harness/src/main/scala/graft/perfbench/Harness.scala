package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.HiveCatalogMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft._

/** One benchmark run in a fresh JVM: set-up, a closed loop of whole passes
  * over one workload's query list, and an output check.
  *
  * {{{
  * Harness --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *         --data <sfDir> --out <result.json> [--spans <spans.jsonl>]
  * Harness --expect <workload> --data <sfDir> --out <dir>
  * }}}
  *
  * A query execution is the call `SparkEntry.queries(name)(spark, dir)`
  * (its `build` phase) followed by a `noop` write of the result (its `run`
  * phase). Between executions the harness clears cached and persisted data
  * and runs a GC, outside the timed section, as `graft.Bench` does. The
  * first execution of each query is fingerprinted after its timed section.
  * The harness writes raw numbers only; `run.py` turns them into metrics.
  */
object Harness {

  /** The query list of each workload. */
  def workloadQueries(w: String): Seq[String] = w match {
    case "etl_lake" =>
      (SourcesQueries.queries.keySet ++ SqlQueries.queries.keySet)
        .toSeq.sorted
    // one stream per state mechanism: state-store aggregation,
    // flatMapGroupsWithState, transformWithState, and state restored
    // from an at-rest seed
    case "stream_catchup" => Seq("q_stream_ann_assign",
      "q_stream_daily_agg", "q_stream_markov", "q_stream_sessionize_tws")
    case other => sys.error(s"unknown workload $other")
  }

  /** The ExtensionQueries at-rest builders the workload's queries read. */
  def workloadArtifacts(w: String): Seq[(String, (SparkSession, String) => Any)] =
    w match {
      case "stream_catchup" =>
        Seq("annStreamSeedDir" -> ExtensionQueries.annStreamSeedDir _)
      case _ => Seq.empty
    }

  /** `graft.Bench`'s session, at one thread per core. */
  def session(traced: Boolean = false): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors.toString
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        (1 << 20).toString)
    sys.props.get("perfbench.localDir")
      .foreach(d => b.config("spark.local.dir", d))
    if (traced) Trace.listenerConf.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The `graft.Bench` warm-up probes every workload needs: a scan,
    * relational code generation and a parquet write. Engine-specific
    * first-use costs (the streaming state backends, the embedding kernel)
    * stay in the cold pass, whose fixed order charges them to the same
    * queries in every run. */
  def warmUp(spark: SparkSession, dir: String): Unit = {
    spark.read.parquet(s"$dir/nation.parquet").count()
    noop(SparkEntry.queries("q_agg_q1")(spark, dir))
    Tables.events(spark, dir).limit(512).write.mode("overwrite")
      .parquet(java.nio.file.Files.createTempDirectory("perfbench_warm")
        .toString + "/slice")
  }

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Between executions: drop cached data and persisted RDDs, let the
    * listener bus finish the last query's events, and collect, so that
    * no query pays for its predecessor. */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.valuesIterator
      .foreach(_.unpersist(blocking = true))
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    System.gc()
  }

  /** Row count and an order-insensitive hash of a result: each row hashes
    * its columns in name order, and the row hashes are summed. */
  def fingerprint(df: DataFrame): (Long, String) = {
    val order = df.columns.zipWithIndex.sortBy(identity).map(_._2)
    val pos = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cells = order.map { i =>
      val c = col(s"c$i")
      if (hasMap(df.schema(i).dataType)) to_json(struct(c)) else c
    }
    val h = if (cells.isEmpty) lit(0L) else xxhash64(cells.toSeq: _*)
    val r = pos.agg(count(lit(1)), sum(h.cast(DecimalType(38, 0))))
      .collect().head
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toString).getOrElse("0"))
  }

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    if (a.contains("expect")) expect(a("expect"), a("data"), a("out"))
    else new Run(a).run()
  }

  /** Writes each query's result as parquet under `out/<query>`, with the
    * fingerprints and the DuckDB oracle SQL in `out/spark.json`, for
    * `expect.py`. */
  def expect(w: String, dir: String, out: String): Unit = {
    val spark = session()
    workloadArtifacts(w).foreach { case (_, build) => build(spark, dir) }
    val oracle = SparkEntry.oracleSql
    val fps = workloadQueries(w).map { q =>
      val fp = try {
        val df = SparkEntry.queries(q)(spark, dir)
        df.write.mode("overwrite").parquet(s"$out/$q")
        val (n, h) = fingerprint(df)
        s"""{"rows":$n,"hash":"$h"}"""
      } catch { case e: Throwable => s"""{"error":${Json.str(e.toString)}}""" }
      release(spark)
      s"${Json.str(q)}:{\"fingerprint\":$fp,\"oracle\":" +
        s"${oracle.get(q).map(Json.str).getOrElse("null")}}"
    }
    Json.write(s"$out/spark.json", fps.mkString("{", ",\n", "}"))
    spark.stop()
  }
}

/** The state of one measured run. */
final class Run(a: Map[String, String]) {
  import Harness._

  private val w = a("workload")
  private val seed = a("seed").toLong
  private val seconds = a("seconds").toDouble
  private val traced = a("trace") == "1"
  private val dir = a("data")
  private val base = session(traced)
  private val sessionS = (System.currentTimeMillis() -
    ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
  private val sc = base.sparkContext
  private val spans = mutable.ArrayBuffer[String]()
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val heap = ManagementFactory.getMemoryMXBean

  private def tracing(on: Boolean): Unit = {
    org.apache.spark.perfbench.Bus.drain(sc)
    Trace.active = on
  }

  private def tag(slot: Slot, phase: String): Unit = {
    sc.setLocalProperty(Trace.QueryTag, slot.query)
    sc.setLocalProperty(Trace.PassTag, slot.pass.toString)
    sc.setLocalProperty(Trace.PhaseTag, phase)
    Trace.current = slot
  }

  private def span(kind: String, slot: Slot, t0: Long, t1: Long): Unit =
    spans += s"""{"span":"$kind","pass":${slot.pass},"query":""" +
      s"""${Json.str(slot.query)},"start_ms":$t0,"end_ms":$t1}"""

  private def gcMs: Long = gcBeans.map(_.getCollectionTime).sum

  def run(): Unit = {
    // set-up: the warm-up once, then the workload's at-rest artifacts
    // three times, each time in a new session (they are cached per
    // session), so that the run can report the median build
    if (traced) tracing(on = true)
    tag(Slot("warm_up", 0), "setup")
    val w0 = System.nanoTime()
    warmUp(base, dir)
    val warmS = secondsSince(w0)
    System.err.println(s"[perfbench] session $sessionS warm-up $warmS")
    val reps = (1 to 3).map { r =>
      val s = if (r == 1) base else base.newSession()
      val builders = workloadArtifacts(w).map { case (name, build) =>
        tag(Slot(s"artifacts.$name", 0), "setup")
        val b0 = System.nanoTime()
        build(s, dir)
        name -> secondsSince(b0)
      }
      System.err.println(s"[perfbench] artifacts $r $builders")
      (s, builders)
    }
    if (traced) tracing(on = false)
    val spark = reps.head._1
    val artifactJobs = Trace.counts.collect {
      case (Slot(q, 0), c) if q.startsWith("artifacts.") => c.jobs
    }.sum / reps.size
    Trace.counts.clear()
    Trace.jobSpans.clear()
    release(spark)

    // host context, outside every metric
    tag(Slot("calibration", 0), "context")
    val calibArrivals = 200000L
    val calib = Calibration.frozenCentroid(spark, calibArrivals)._1
    release(spark)

    // the cold pass runs in name order, so that each query's first-use
    // costs (code generation, class loading, JIT) land on the same
    // queries in every run; the warm passes run in the seeded order
    val cold = workloadQueries(w)
    val names = new scala.util.Random(seed).shuffle(cold)
    val fns = SparkEntry.queries
    val execs = mutable.ArrayBuffer[String]()
    // whole passes, at least three, so that every warm metric is a median
    // of two or more. Traced runs trace pass 1 and the odd warm passes and
    // make at least four, so that the untraced passes 2 and 4 bracket the
    // traced pass 3 and tracing's cost is measured in the same run, net of
    // the passes still getting faster
    val minPasses = if (traced) 4 else 3
    val loop0 = System.nanoTime()
    var pass = 0
    while (pass < minPasses || secondsSince(loop0) < seconds) {
      pass += 1
      val tracedPass = traced && pass % 2 == 1
      if (tracedPass) tracing(on = true)
      val p0 = System.currentTimeMillis()
      (if (pass == 1) cold else names).foreach(q =>
        execs += execute(spark, fns(q), Slot(q, pass), tracedPass))
      if (tracedPass) tracing(on = false)
      spans += s"""{"span":"pass","pass":$pass,"traced":$tracedPass,""" +
        s""""start_ms":$p0,"end_ms":${System.currentTimeMillis()}}"""
    }

    val builders = reps.map(_._2.map { case (n, t) => s"${Json.str(n)}:$t" }
      .mkString("{", ",", "}"))
    Json.write(a("out"), s"""{"workload":${Json.str(w)},"seed":$seed,""" +
      s""""nproc":${Runtime.getRuntime.availableProcessors},""" +
      s""""session_s":$sessionS,"warm_up_s":$warmS,""" +
      s""""artifacts":${builders.mkString("[", ",", "]")},""" +
      s""""artifact_jobs":$artifactJobs,"calib_sec":$calib,""" +
      s""""calib_arrivals":$calibArrivals,""" +
      s""""order":${names.map(Json.str).mkString("[", ",", "]")},""" +
      s""""executions":${execs.mkString("[\n", ",\n", "]")}}""")
    for (path <- a.get("spans") if traced) {
      val jobLines = Trace.jobSpans.map { j =>
        s"""{"span":"job","pass":${j.slot.pass},"query":""" +
          s"""${Json.str(j.slot.query)},"phase":${Json.str(j.phase)},""" +
          s""""job":${j.id},"start_ms":${j.startMs},"end_ms":${j.endMs},""" +
          s""""stages":${j.stages},"staging":${j.staging},""" +
          s""""site":${Json.str(j.site)}}"""
      }
      Json.write(path, (spans ++ jobLines).mkString("", "\n", "\n"))
    }
    sc.setLogLevel("OFF")
    base.stop()
  }

  /** One timed execution of one query; returns its JSON record. */
  private def execute(spark: SparkSession,
                      fn: (SparkSession, String) => DataFrame, slot: Slot,
                      tracedPass: Boolean): String = {
    val rec = new StringBuilder(s"""{"q":${Json.str(slot.query)},""" +
      s""""pass":${slot.pass},"traced":$tracedPass""")
    val gc0 = gcMs
    val cg0 = CodeGenerator.compileTime
    val files0 = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount
    val wall0 = System.currentTimeMillis()
    tag(slot, "build")
    val t0 = System.nanoTime()
    try {
      val df = fn(spark, dir)
      val t1 = System.nanoTime()
      val wall1 = System.currentTimeMillis()
      tag(slot, "run")
      noop(df)
      val t2 = System.nanoTime()
      val wall2 = System.currentTimeMillis()
      rec ++= s""","ok":true,"build_s":${(t1 - t0) / 1e9},""" +
        s""""run_s":${(t2 - t1) / 1e9}"""
      if (tracedPass) {
        span("build", slot, wall0, wall1)
        span("run", slot, wall1, wall2)
      }
      if (slot.pass == 1) {
        tag(slot, "check")
        val (n, h) = fingerprint(df)
        rec ++= s""","rows":$n,"hash":"$h""""
      }
    } catch { case e: Throwable =>
      rec ++= s""","ok":false,"error":${Json.str(e.toString.take(300))}"""
    }
    val wallEnd = System.currentTimeMillis()
    rec ++= s""","gc_s":${(gcMs - gc0) / 1e3}"""
    if (tracedPass) {
      org.apache.spark.perfbench.Bus.drain(sc)
      rec ++= s""","codegen_compile_s":${(CodeGenerator.compileTime - cg0) / 1e9}"""
      rec ++= s""","files_discovered":""" +
        s"""${HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount - files0}"""
      rec ++= layers(Trace.countsOf(slot), wall0, wallEnd)
      span("query", slot, wall0, wallEnd)
    }
    release(spark)
    rec ++= s""","heap_mb":${heap.getHeapMemoryUsage.getUsed / 1048576.0}}"""
    System.err.println(s"[perfbench] pass ${slot.pass} ${slot.query} " +
      s"${(wallEnd - wall0) / 1e3}")
    rec.toString
  }

  /** The per-layer counts of one traced execution, as JSON fields. */
  private def layers(c: Counts, wall0: Long, wall1: Long): String = {
    val iv = c.jobIntervals.map { case (s, e) => (s max wall0, e min wall1) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var busy = 0L
    var end = Long.MinValue
    iv.foreach { case (s, e) =>
      if (s > end) { busy += e - s; end = e }
      else if (e > end) { busy += e - end; end = e }
    }
    Seq(
      "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
      "single_task_stages" -> c.singleTaskStages,
      "staging_jobs" -> c.stagingJobs, "staging_s" -> c.stagingMs / 1e3,
      "job_busy_s" -> busy / 1e3, "plan_s" -> c.planMs / 1e3,
      "cpu_s" -> c.cpuNs / 1e9,
      "shuffle_write_bytes" -> c.shuffleWriteBytes,
      "shuffle_records" -> c.shuffleRecords, "spill_bytes" -> c.spillBytes,
      "bytes_read" -> c.bytesRead, "bytes_written" -> c.bytesWritten,
      "batches" -> c.batches, "trigger_s" -> c.triggerMs / 1e3,
      "commit_s" -> c.commitMs / 1e3,
      "state_rows" -> c.stateRowsByRun.values.sum
    ).map { case (k, v) => s""","$k":$v""" }.mkString
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def write(path: String, s: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.write(p, s.getBytes("UTF-8"))
  }
}
