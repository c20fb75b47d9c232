package graft.sources

import java.nio.file.{Files, Paths}

import scala.util.{Failure, Success, Try}

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

import graft.{SparkSpec, Tables}
import graft.ArtifactStore.scratch

/** [[Parquet]] reads the schema `spark.read.parquet` infers: the same
  * field names, types, metadata and nullability, from the same file, on
  * every layout the engine reads, and the same error where Spark has
  * no schema to give. */
class ParquetSchemaSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  /** The schema a read yields, or its error's class and condition. */
  private def outcome(read: => DataFrame): Either[String, StructType] =
    Try(read.schema) match {
      case Success(s) => Right(s)
      case Failure(e: SparkThrowable) =>
        Left(s"${e.getClass.getName} ${e.getCondition}")
      case Failure(e) => Left(e.getClass.getName)
    }

  /** Asserts both readers agree on `paths` with `options`, and returns
    * Spark's outcome. */
  private def same(paths: Seq[String],
                   options: Map[String, String] = Map.empty,
                   session: SparkSession = spark)
  : Either[String, StructType] = {
    val theirs = outcome(session.read.options(options).parquet(paths: _*))
    val ours = outcome(Parquet.reader(session).options(options)
      .load(paths: _*))
    assert(ours === theirs, s"on $paths with $options")
    theirs
  }

  private def files(dir: String): Seq[String] =
    Files.list(Paths.get(dir)).toArray.toSeq.map(_.toString).sorted

  test("each testdata table, read by path and by glob over the sf dir") {
    for (name <- Tables.names) {
      assert(same(Seq(s"$sf/$name.parquet")).isRight, name)
      // the streams' read: one table out of a dir that holds all of them
      assert(same(Seq(sf), Map("pathGlobFilter" -> s"$name.parquet"))
        .isRight, name)
    }
  }

  test("a Spark-written multi-file dir with _SUCCESS and .crc files, " +
    "and a multi-path read of its part files") {
    val dir = scratch(spark, "graft_pq_multi") + "/t"
    spark.range(0, 400, 1, 4)
      .select(col("id"), col("id").cast("string").as("s"),
        (col("id") % 7 === 0).as("flag"))
      .write.parquet(dir)
    val names = files(dir).map(f => Paths.get(f).getFileName.toString)
    assert(names.contains("_SUCCESS"))
    assert(names.exists(_.endsWith(".crc")))
    val parts = files(dir).filter(_.endsWith(".parquet"))
    assert(parts.size === 4)
    assert(same(Seq(dir)).isRight)
    assert(same(parts).isRight)
  }

  test("a partitionBy dir (q_s8_partitioned_sink's layout) keeps the " +
    "partition column last") {
    val dir = scratch(spark, "graft_pq_part") + "/t"
    Tables.t(spark, sf, "lineitem")
      .select("l_orderkey", "l_quantity", "l_returnflag")
      .write.partitionBy("l_returnflag").parquet(dir)
    assert(same(Seq(dir)).toOption.get.fieldNames.toSeq ===
      Seq("l_orderkey", "l_quantity", "l_returnflag"))
  }

  test("a dir with _common_metadata") {
    val dir = scratch(spark, "graft_pq_common") + "/t"
    spark.range(10).write.parquet(dir)
    // a summary footer whose schema differs from the data files', so
    // the file each reader picks shows in the schema it returns
    Files.copy(Paths.get(s"$sf/region.parquet"),
      Paths.get(dir, "_common_metadata"))
    assert(same(Seq(dir)).isRight)
  }

  test("a footer without Spark's row metadata, with nanosAsLong on and " +
    "off") {
    val file = scratch(spark, "graft_pq_raw") + "/raw.parquet"
    val schema = MessageTypeParser.parseMessageType(
      """message raw {
        |  required int64 id;
        |  optional int64 ts_ns (TIMESTAMP(NANOS,true));
        |  optional int64 ts_ntz (TIMESTAMP(MICROS,false));
        |  optional int96 ts96;
        |  optional binary b;
        |  optional binary s (STRING);
        |}""".stripMargin)
    val writer = ExampleParquetWriter.builder(new Path(file))
      .withType(schema)
      .withConf(spark.sparkContext.hadoopConfiguration)
      .build()
    try {
      val g = new SimpleGroupFactory(schema).newGroup()
        .append("id", 1L).append("ts_ns", 1000L).append("ts_ntz", 1L)
        .append("b", Binary.fromString("x")).append("s", "y")
      writer.write(g)
    } finally writer.close()

    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") ===
      "true")
    val on = same(Seq(file))
    assert(on.toOption.get("ts_ns").dataType === LongType)
    val off = spark.newSession()
    off.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    same(Seq(file), session = off)
    // and with binary-as-string and INT96-as-timestamp flipped
    val flipped = spark.newSession()
    flipped.conf.set("spark.sql.parquet.binaryAsString", "true")
    flipped.conf.set("spark.sql.parquet.int96AsTimestamp", "false")
    flipped.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    assert(same(Seq(file), session = flipped) != on)
  }

  test("a missing path and an empty dir raise Spark's error") {
    val root = scratch(spark, "graft_pq_err")
    val empty = s"$root/empty"
    Files.createDirectory(Paths.get(empty))
    assert(same(Seq(s"$root/missing")).isLeft)
    assert(same(Seq(empty)).isLeft)
  }
}
