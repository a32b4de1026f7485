package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.sources.TmpStores

/** The per-batch LIFECYCLE every streaming gate shares — the reference
  * publisher's write-the-batch, commit-it, then-advance-the-offset loop
  * (amundsendatabuilder publisher/neo4j_csv_publisher.py:412-447) as
  * plain functions. [[CurationStream]], [[MediaDedupStream]],
  * [[EmbedDedupStream]] and [[DedupGateStream]] each keep only their own
  * fingerprint, probe, verify and claim-row code, and call these for the
  * rest:
  *
  *  - [[start]]: the foreachBatch query, checkpointed, run to the end of
  *    the available input;
  *  - [[commit]]: the crash order, written once;
  *  - [[readVerdicts]]: the [[StreamVerdicts]] readback of a verdict dir;
  *  - [[fixture]] / [[source]]: the file-per-batch stream fixture the
  *    oracle-gated queries replay. */
private[graft] object StreamGate {

  /** Run `perBatch` on every micro-batch of `incoming` until the input
    * available at start is consumed. The checkpoint advances only after
    * `perBatch` returns, so a batch that throws is redelivered
    * (at-least-once). */
  def start(incoming: DataFrame, checkpoint: String)(
      perBatch: (DataFrame, Long) => Unit): StreamingQuery =
    incoming.writeStream
      .foreachBatch(perBatch)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  /** One batch's commit, in the only order that survives a crash at any
    * point:
    *
    *  1. every verdict CONSUMER lands (verdict rows, funnel, training
    *     stores) — before any claim, because a replay of a batch whose
    *     claims landed sees its own winners as already claimed, so a
    *     consumer that had not landed would lose those rows for good;
    *  2. every CLAIM delta lands ([[ClaimStore.appendDelta]]) — before
    *     the checkpoint, so a resumed stream keeps rejecting them;
    *  3. every touched store FOLDS ([[ClaimStore.maybeCompact]]) — after
    *     the last write, because a fold deletes the deltas it consumed
    *     and a lazily recomputed claim frame would read vanished files.
    *
    * Within a phase the jobs run concurrently ([[StreamPar.runAll]];
    * a single task runs inline): each consumer writes its own dir and is
    * replay-safe on its own, and each claim store is a disjoint dir.
    * `alsoFold` names stores a consumer appended to (they fold in phase
    * 3 but take no claim). */
  def commit(spark: SparkSession, consumers: Seq[() => Unit],
      claims: Seq[(ClaimStore, DataFrame)],
      alsoFold: Seq[ClaimStore] = Nil): Unit = {
    StreamPar.runAll(consumers)
    StreamPar.runAll(claims.map { case (store, rows) =>
      () => store.appendDelta(rows) })
    StreamPar.runAll((claims.map(_._1) ++ alsoFold).map(store =>
      () => { store.maybeCompact(spark); () }))
  }

  /** A verdict dir read back under the shared at-least-once contract
    * ([[StreamVerdicts]]): `cols` is the output, key first. */
  def readVerdicts(spark: SparkSession, out: String, cols: Seq[String],
      anyTrue: Seq[String] = Nil, everyTrue: Seq[String] = Nil,
      preClaim: Seq[String] = Nil, carried: Seq[String] = Nil): DataFrame =
    StreamVerdicts.resolvePerDoc(spark.read.parquet(out), anyTrue = anyTrue,
      everyTrue = everyTrue, preClaim = preClaim, carried = carried,
      key = cols.head)
      .select(cols.head, cols.tail: _*)

  /** A stream fixture's pid-scoped root, cleared on creation; `in` holds
    * the first input's files. */
  final case class Fixture(root: java.nio.file.Path) {
    def path(name: String): String = root.resolve(name).toString
    def in: String = path("in")
  }

  /** Clear the pid-scoped root `tag` (exit-hook cleanup, dead-sibling
    * sweep) and write `batches` under its `in` dir, one file each. */
  def fixture(tag: String, batches: DataFrame*): Fixture = {
    val fx = Fixture(TmpStores.pidScopedRoot(tag))
    TmpStores.deleteRecursively(fx.root)
    java.nio.file.Files.createDirectories(fx.root)
    writeBatches(fx.in, batches: _*)
    fx
  }

  /** Append each batch as ONE parquet file under `path`, in order — a
    * file source reading one file per trigger sees them as successive
    * micro-batches. */
  def writeBatches(path: String, batches: DataFrame*): Unit =
    batches.foreach(_.coalesce(1).write.mode(SaveMode.Append).parquet(path))

  /** The parquet files under `path` as a stream of one file per
    * micro-batch. */
  def source(path: String, schema: StructType): DataFrame =
    SparkSession.active.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(path)

  /** [[source]] with the schema read back from the files under `path`
    * (their footers: one small job). */
  def sourceInferred(path: String): DataFrame =
    source(path, SparkSession.active.read.parquet(path).schema)
}
