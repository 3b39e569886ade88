package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The older events generation stores `ts` as parquet TIMESTAMP(NANOS); the
  * fixture tables store µs. Both must derive the same `ts`/`ts_ns`, and
  * reading the nanos file must not change the session. */
class EventsNanosSpec extends SparkSpec {
  private val usDir = "/root/testdata/sf0.001"

  /** The µs fixture's events, rewritten as a TIMESTAMP(NANOS) file of the
    * same instants into a fresh directory. */
  private lazy val nanosDir: String = {
    val out = new java.io.File("target/tmp/events-nanos-" + System.nanoTime())
    out.mkdirs()
    val rows = Tables.events(spark, usDir)
      .select("event_id", "ts_ns", "user_id", "event_type", "value", "props").collect()
    val schema = MessageTypeParser.parseMessageType(
      """message events {
        |  optional int64 event_id;
        |  optional int64 ts (TIMESTAMP(NANOS,true));
        |  optional int64 user_id;
        |  optional binary event_type (STRING);
        |  optional double value;
        |  optional binary props (STRING);
        |}""".stripMargin)
    val conf = spark.sessionState.newHadoopConf()
    val writer = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
        new Path(new java.io.File(out, "events.parquet").getAbsolutePath), conf))
      .withType(schema).withConf(conf).build()
    val groups = new SimpleGroupFactory(schema)
    try rows.foreach { r =>
      val g = groups.newGroup()
      Seq("event_id", "ts", "user_id").zipWithIndex.foreach { case (f, i) =>
        if (!r.isNullAt(i)) g.append(f, r.getLong(i))
      }
      if (!r.isNullAt(3)) g.append("event_type", r.getString(3))
      if (!r.isNullAt(4)) g.append("value", r.getDouble(4))
      if (!r.isNullAt(5)) g.append("props", r.getString(5))
      writer.write(g)
    } finally writer.close()
    out.getAbsolutePath
  }

  private def sorted(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  private def times(df: DataFrame): DataFrame =
    df.select(col("event_id"), col("ts_ns"),
      date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"))

  /** Every row a stream over `dir`'s events delivers, drained once. */
  private def streamed(s: SparkSession, dir: String): Seq[Row] = {
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Row]()
    val q = times(streaming.StreamOps.eventsStream(s, dir)).writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation",
        new java.io.File("target/tmp/events-stream-" + System.nanoTime()).getAbsolutePath)
      .foreachBatch { (b: DataFrame, _: Long) => b.collect().foreach(got.add) }
      .start()
    q.awaitTermination()
    got.toArray(Array.empty[Row]).toSeq.sortBy(_.toString)
  }

  test("a TIMESTAMP(NANOS) events file derives the µs file's ts and ts_ns") {
    val s = spark.newSession()
    val before = Audit.sessionState(s)
    assert(s.read.parquet(s"$nanosDir/events.parquet").schema("ts").dataType ==
      org.apache.spark.sql.types.LongType, "the fixture must be the nanos generation")
    val us = sorted(times(Tables.events(s, usDir)))
    assert(us.nonEmpty)
    assert(sorted(times(Tables.events(s, nanosDir))) == us)
    val q28 = SparkEntry.queries("q28_incremental_watermark")
    assert(sorted(q28(s, nanosDir)) == sorted(q28(s, usDir)))
    assert(streamed(s, nanosDir) == us)
    assert(streamed(s, usDir) == us)
    val changes = Audit.sessionChanges(before, Audit.sessionState(s))
    assert(changes.isEmpty, changes.mkString("session changed: ", "; ", ""))
  }
}
