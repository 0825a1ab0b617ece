package graft.sources

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.SparkSpec
import graft.etl.Feeds
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The one source reader: its schemas are the ones Spark's inference
  * gives, reading through it runs no Spark job, and a table rewritten in
  * place is read again (so the preflight still names drift). */
class SourceReaderSpec extends SparkSpec {

  private val dir = graft.VerifyMulti.SfDirs.head // the smallest testdata
  private val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"

  private def inferred(dir: String, name: String): StructType =
    spark.read.parquet(s"$dir/$name.parquet").schema

  private def withNanosAsLong[T](on: Boolean)(body: => T): T = {
    val was = spark.conf.getOption(nanosKey)
    spark.conf.set(nanosKey, on.toString)
    try body
    finally was.fold(spark.conf.unset(nanosKey))(spark.conf.set(nanosKey, _))
  }

  private def withTmp[T](body: String => T): T = {
    val tmp = tempDir("graft_src")
    try body(tmp) finally graft.Caches.invalidate(spark, tmp)
  }

  test("the reader's schema is inference's for all ten tables") {
    for (t <- TestdataContract.tables; nanos <- Seq(false, true))
      withNanosAsLong(nanos) {
        val want = inferred(dir, t)
        assert(SourceReader.table(spark, dir, t).schema == want, s"$t $nanos")
        assert(SourceReader.schema(spark, dir, t).map(f => f.name -> f.dataType)
          == want.map(f => f.name -> f.dataType), s"$t $nanos")
      }
  }

  test("a nanos-vintage events.ts keeps the type its flag asks for") {
    withTmp { tmp =>
      import org.apache.parquet.example.data.simple.SimpleGroupFactory
      import org.apache.parquet.hadoop.example.ExampleParquetWriter
      import org.apache.parquet.schema.MessageTypeParser
      // parquet TIMESTAMP(NANOS): the round 1-7 generator vintage, which
      // Spark's writer cannot produce
      val schema = MessageTypeParser.parseMessageType(
        """message events {
          |  optional int64 event_id;
          |  optional int64 ts (TIMESTAMP(NANOS,true));
          |}""".stripMargin)
      val w = ExampleParquetWriter.builder(
          new org.apache.hadoop.fs.Path(s"$tmp/events.parquet"))
        .withType(schema).build()
      try w.write(new SimpleGroupFactory(schema).newGroup()
        .append("event_id", 1L).append("ts", 1714979289123456789L))
      finally w.close()
      withNanosAsLong(true) {
        assert(SourceReader.table(spark, tmp, "events").schema ==
          inferred(tmp, "events"))
        assert(SourceReader.schema(spark, tmp, "events")("ts").dataType ==
          LongType)
        assert(SourceReader.table(spark, tmp, "events")
          .head().getLong(1) == 1714979289123456789L)
      }
      // a schema memoized under the flag is not served without it: the
      // reader refuses the column exactly as inference does
      withNanosAsLong(false) {
        def illegal(e: Throwable) =
          Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
            .exists(c => String.valueOf(c.getMessage)
              .contains("PARQUET_TYPE_ILLEGAL"))
        val viaInference = intercept[Exception](inferred(tmp, "events"))
        val viaReader =
          intercept[Exception](SourceReader.schema(spark, tmp, "events"))
        assert(illegal(viaInference), viaInference)
        assert(illegal(viaReader), viaReader)
      }
    }
  }

  test("a directory table takes its first data file's schema") {
    withTmp { tmp =>
      val df = spark.range(20).select(col("id"),
        (col("id") % 3).cast("int").as("k"), lit("x").as("s"))
      df.repartition(4).write.parquet(s"$tmp/flat.parquet")
      df.write.partitionBy("k").parquet(s"$tmp/byk.parquet")
      for (t <- Seq("flat", "byk")) {
        assert(SourceReader.table(spark, tmp, t).schema == inferred(tmp, t), t)
        assert(SourceReader.table(spark, tmp, t).count() == 20, t)
      }
    }
  }

  test("input reads and the schema preflight run no Spark job") {
    val (drift, jobs) = jobsDuring {
      TestdataContract.tables.foreach(Feeds.table(spark, dir, _).schema)
      Feeds.events(spark, dir).schema
      TestdataContract.preflight(spark, dir)
    }
    assert(drift.isEmpty, drift)
    assert(jobs == 0, s"$jobs jobs")
  }

  test("a table rewritten in place is read again: preflight names the drift") {
    withTmp { tmp =>
      val live = Paths.get(tmp, "orders.parquet")
      Files.copy(Paths.get(dir, "orders.parquet"), live)
      assert(TestdataContract.checkTable(spark, tmp, "orders").isEmpty)
      assert(Feeds.table(spark, tmp, "orders").schema("o_orderkey").dataType
        == LongType)
      // the same path rewritten with o_orderkey as STRING, in one session
      // and with no invalidation in between
      Feeds.table(spark, tmp, "orders")
        .withColumn("o_orderkey", col("o_orderkey").cast("string"))
        .coalesce(1).write.parquet(s"$tmp/drifted")
      val part = Files.list(Paths.get(tmp, "drifted")).toArray.map(_.toString)
        .filter(_.endsWith(".parquet")).head
      Files.copy(Paths.get(part), live, StandardCopyOption.REPLACE_EXISTING)
      val drift = TestdataContract.preflight(spark, tmp)
        .filter(_._1 == "orders")
      assert(drift.map(_._2) == Seq("o_orderkey"), drift)
      assert(drift.head._3.contains("StringType"), drift)
      val now = Feeds.table(spark, tmp, "orders")
      assert(now.schema("o_orderkey").dataType == StringType)
      assert(now.schema == inferred(tmp, "orders"))
      assert(now.where(col("o_orderkey").isNotNull).count() ==
        Feeds.table(spark, dir, "orders").count())
    }
  }
}
