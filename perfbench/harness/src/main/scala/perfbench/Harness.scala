package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Runs one workload against graft as a closed loop with one client:
  * the driver thread issues one call at a time, each a public query
  * function of `graft.SparkEntry.queries` followed by a `collect` that
  * materializes every row and column of its result on the driver, as a
  * caller reading the result would.
  *
  * Phases: session start; one unmeasured warm pass over the workload's
  * own inputs; measured passes until `--seconds` have passed and at
  * least `--min-passes` have run, each starting from a cleared Spark
  * cache, each in a seeded call order; then, outside every timing, one
  * parquet write of the rows each call of the last pass returned, in
  * graft.Verify's layout for tools/check.py. With `--trace 1` at least
  * three passes run, traced (listeners attached) and untraced in turn,
  * T U T U ..., so the trace's overhead is measured in the same run
  * without favouring either side of the JIT warm-up curve.
  *
  * Writes raw samples to `<out>/harness.json`; perfbench/run.py turns
  * them into metrics.
  *
  * Usage: Harness --data DIR --out DIR --calls FILE --seconds S
  *   --min-passes N --trace 0|1 --seed N --cpus N
  * where FILE lists one `query module` pair per line. */
object Harness {
  final case class Call(query: String, module: String,
    fn: (SparkSession, String) => DataFrame)

  final case class Sample(query: String, module: String, callS: Double,
    actionS: Double, startMs: Long, endMs: Long,
    result: Option[(StructType, Array[Row])], error: Option[String])

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val data = opt("data")
    val out = Paths.get(opt("out"))
    val seconds = opt("seconds").toDouble
    val minPasses = opt("min-passes").toInt
    val traced = opt("trace") == "1"
    val seed = opt("seed").toLong
    val calls = Files.readAllLines(Paths.get(opt("calls"))).asScala.toSeq
      .map(_.trim).filter(_.nonEmpty).map { line =>
        val Array(q, m) = line.split("\\s+")
        Call(q, m, graft.SparkEntry.queries.getOrElse(q, sys.error(s"unknown query $q")))
      }

    val t0 = System.nanoTime()
    val spark = graft.LocalSession(opt("cpus"))
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = secs(t0)
    val trace = new CallTrace
    val h = new Harness(spark, data, calls, seed, trace)

    val warm = h.pass(0, withTrace = false)
    val warmEndMs = System.currentTimeMillis()
    val measureStart = System.nanoTime()
    val passes = scala.collection.mutable.ArrayBuffer.empty[Map[String, String]]
    val leastPasses = if (traced) math.max(minPasses, 3) else minPasses
    while (passes.size < leastPasses || secs(measureStart) < seconds) {
      val p = passes.size + 1
      passes += h.pass(p, withTrace = traced && p % 2 == 1)
    }
    val measureS = secs(measureStart)
    val resultsStart = System.nanoTime()
    h.writeResults(out)
    val resultsS = secs(resultsStart)
    spark.stop()

    Files.writeString(out.resolve("harness.json"), Json.obj(Seq(
      "session_s" -> Json.num(sessionS),
      "warm_end_ms" -> warmEndMs.toString,
      "warm" -> Json.obj(warm.toSeq),
      "measure_s" -> Json.num(measureS),
      "results_s" -> Json.num(resultsS),
      "passes" -> Json.arr(passes.toSeq.map(p => Json.obj(p.toSeq))),
      "untagged_tasks" -> trace.untaggedTasks.toString,
    )))
  }

  def secs(since: Long): Double = (System.nanoTime() - since) / 1e9

  def message(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName).take(300)
}

final class Harness(spark: SparkSession, data: String, calls: Seq[Harness.Call],
    seed: Long, trace: CallTrace) {
  import Harness._
  private val sc = spark.sparkContext
  private val tmpRoot = Paths.get(sys.props("java.io.tmpdir"))
  private var lastResults = Map.empty[String, Option[(StructType, Array[Row])]]

  /** One call: the query function, then a full materialization. */
  private def run(c: Call, tag: String): Sample = {
    sc.setJobGroup(tag, c.query)
    sc.setLocalProperty(CallTrace.TagKey, tag)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var t1 = 0L
    var result = Option.empty[(StructType, Array[Row])]
    val error = try {
      val df = c.fn(spark, data)
      t1 = System.nanoTime()
      result = Some((df.schema, df.collect()))
      None
    } catch { case NonFatal(e) => Some(message(e)) }
    val t2 = System.nanoTime()
    if (t1 == 0L) t1 = t2
    sc.setLocalProperty(CallTrace.TagKey, null)
    sc.clearJobGroup()
    Sample(c.query, c.module, (t1 - t0) / 1e9, (t2 - t1) / 1e9, startMs,
      System.currentTimeMillis(), result, error)
  }

  /** Drops every cached Dataset and persisted RDD. */
  private def clearCaches(): Unit = {
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** One pass over every call in a seeded order, then the state it left
    * behind. Returns JSON fields. */
  def pass(p: Int, withTrace: Boolean): Map[String, String] = {
    clearCaches()
    if (withTrace) {
      sc.addSparkListener(trace)
      spark.streams.addListener(trace.streams)
    }
    val order = new scala.util.Random(seed * 1000003L + p).shuffle(calls)
    val start = System.nanoTime()
    val samples = order.zipWithIndex.map { case (c, i) => run(c, s"p$p.$i.${c.query}") }
    val passS = secs(start)
    lastResults = samples.map(s => s.query -> s.result).toMap

    val storage = sc.getRDDStorageInfo
    val cacheBlocks = storage.map(_.numCachedPartitions.toLong).sum
    val cacheBytes = storage.map(r => r.memSize + r.diskSize).sum
    val base = Map(
      "traced" -> withTrace.toString,
      "pass_s" -> Json.num(passS),
      "errors" -> Json.arr(samples.flatMap(s => s.error.map(e =>
        Json.obj(Seq("query" -> Json.str(s.query), "error" -> Json.str(e)))))),
    )
    if (!withTrace) base ++ Map("calls" -> Json.arr(samples.map(callJson(_, None))))
    else {
      org.apache.spark.ListenerBusDrain(sc)
      sc.removeSparkListener(trace)
      spark.streams.removeListener(trace.streams)
      val batches = trace.takeBatches()
      base ++ Map(
        "calls" -> Json.arr(order.indices.map(i =>
          callJson(samples(i), Some(trace(s"p$p.$i.${order(i).query}"))))),
        "cache_blocks_end" -> cacheBlocks.toString,
        "cache_mb_end" -> Json.num(cacheBytes / 1e6),
        "tmp_mb_end" -> Json.num(dirBytes(tmpRoot) / 1e6),
        "batches" -> Json.arr(batches.map(b => Json.obj(Seq(
          "input_rows" -> b.inputRows.toString,
          "duration_ms" -> Json.obj(b.durationMs.toSeq.map { case (k, v) => k -> v.toString }))))),
      )
    }
  }

  private def callJson(s: Sample, c: Option[Counters]): String = {
    val fields = Seq(
      "query" -> Json.str(s.query),
      "module" -> Json.str(s.module),
      "call_s" -> Json.num(s.callS),
      "action_s" -> Json.num(s.actionS),
      "failed" -> s.error.isDefined.toString,
    ) ++ c.toSeq.flatMap { c =>
      val wallMs = s.endMs - s.startMs
      Seq(
        "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
        "useful_tasks" -> c.usefulTasks, "stream_tasks" -> c.streamTasks,
        "sched_delay_ms" -> c.schedDelayMs, "run_ms" -> c.runMs,
        "cpu_ns" -> c.cpuNs, "gc_ms" -> c.gcMs,
        "shuffle_read_bytes" -> c.shuffleReadBytes,
        "shuffle_write_bytes" -> c.shuffleWriteBytes,
        "fetch_wait_ms" -> c.fetchWaitMs, "spill_bytes" -> c.spillBytes,
        "input_bytes" -> c.inputBytes, "output_bytes" -> c.outputBytes,
        "files_written" -> c.filesWritten,
        "driver_gap_ms" -> math.max(0L, wallMs - c.jobUnionMs),
      ).map { case (k, v) => k -> v.toString }
    }
    Json.obj(fields)
  }

  private def dirBytes(root: Path): Long =
    if (!Files.isDirectory(root)) 0L
    else {
      val walk = Files.walk(root)
      try walk.iterator.asScala.filter(Files.isRegularFile(_))
        .map(p => try Files.size(p) catch { case NonFatal(_) => 0L }).sum
      catch { case NonFatal(_) => 0L }
      finally walk.close()
    }

  /** Writes the rows each call of the last pass returned in graft.Verify's
    * layout, which tools/check.py compares with the DuckDB oracles: one
    * parquet directory per query, `oracle_sql.json` for the workload's
    * queries and `_errors.json` for the calls without a result. */
  def writeResults(dir: Path): Unit = {
    val queries = calls.map(_.query).distinct
    val errors = queries.flatMap { q =>
      lastResults.get(q).flatten match {
        case None => Some(q -> "the call threw in the last pass")
        case Some((schema, rows)) =>
          try {
            spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
              .write.mode("overwrite").parquet(dir.resolve(q).toString)
            None
          } catch { case NonFatal(e) => Some(q -> message(e)) }
      }
    }
    Files.writeString(dir.resolve("oracle_sql.json"), Json.obj(queries.map(q =>
      q -> Json.str(graft.SparkEntry.oracleSql.getOrElse(q, "")))))
    Files.writeString(dir.resolve("_errors.json"),
      Json.obj(errors.map { case (q, e) => q -> Json.str(e) }))
  }
}

/** Just enough JSON writing for the harness output. */
object Json {
  def str(s: String): String = org.json4s.jackson.JsonMethods.compact(org.json4s.JString(s))
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def arr(items: Seq[String]): String = items.mkString("[", ",", "]")
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
