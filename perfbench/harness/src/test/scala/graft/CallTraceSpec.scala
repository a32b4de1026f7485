package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import perfbench.{CallTrace, Counters}

/** The benchmark's attribution contract: every job a call causes carries
  * the call's tag, including jobs run from `StreamPar` worker threads and
  * from a streaming query's execution thread. */
class CallTraceSpec extends AnyFunSuite {
  private lazy val spark = LocalSession("2")

  /** Runs `body` tagged as `tag` with a fresh trace attached. */
  private def traced(tag: String)(body: => Unit): CallTrace = {
    val sc = spark.sparkContext
    val trace = new CallTrace
    sc.addSparkListener(trace)
    spark.streams.addListener(trace.streams)
    sc.setLocalProperty(CallTrace.TagKey, tag)
    try body
    finally {
      sc.setLocalProperty(CallTrace.TagKey, null)
      ListenerBusDrain(sc)
      sc.removeSparkListener(trace)
      spark.streams.removeListener(trace.streams)
    }
    trace
  }

  private def twoJobs(df: => DataFrame): Seq[() => Unit] = Seq(
    () => df.repartition(3).count(),
    () => df.write.format("noop").mode("overwrite").save())

  test("jobs run from StreamPar worker threads carry the call tag") {
    val trace = traced("par") {
      graft.streaming.StreamPar.runAll(twoJobs(spark.range(1000).toDF()))
    }
    assert(trace("par").jobs >= 2)
    assert(trace("par").tasks > 0)
    assert(trace.untaggedTasks == 0)
  }

  test("jobs on a stream's execution thread and its StreamPar workers carry the call tag") {
    val scratch = Files.createDirectories(Paths.get("target", "spec-scratch").toAbsolutePath)
    val src = Files.createTempDirectory(scratch, "src")
    val ckpt = Files.createTempDirectory(scratch, "ckpt")
    spark.range(0, 100).write.mode("overwrite").parquet(src.resolve("a").toString)
    spark.range(100, 200).write.mode("overwrite").parquet(src.resolve("b").toString)
    val schema = spark.read.parquet(src.resolve("a").toString).schema
    val perBatch: (DataFrame, Long) => Unit =
      (df, _) => graft.streaming.StreamPar.runAll(twoJobs(df))
    val trace = traced("stream") {
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(src.resolve("*").toString)
        .writeStream.option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow()).foreachBatch(perBatch)
        .start().awaitTermination()
    }
    val c = trace("stream")
    assert(c.streamTasks > 0)
    assert(c.jobs >= 4)
    assert(trace.untaggedTasks == 0)
    assert(trace.takeBatches().nonEmpty)
  }

  test("untagged jobs are counted as untagged") {
    val trace = traced("") { spark.range(10).count() }
    assert(trace.untaggedTasks > 0)
  }

  test("job intervals are unioned, not summed") {
    val c = new Counters
    c.jobIntervals ++= Seq((0L, 10L), (5L, 20L), (30L, 40L), (32L, 35L))
    assert(c.jobUnionMs == 30L)
  }
}
