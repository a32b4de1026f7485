package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Scoped configuration — the reference's HOCON tree with per-component
  * scopes (`Scoped.get_scoped_conf`, databuilder/__init__.py:63-75; keys
  * like `extractor.csv.file_location`). Backed by a plain dotted-key map
  * so the library carries no parser dependency; a HOCON/properties
  * front-end can populate the map at deploy time.
  */
final case class ScopedConfig(entries: Map[String, String], prefix: String = "") {
  private def full(key: String): String = if (prefix.isEmpty) key else s"$prefix.$key"

  /** Narrow to a component scope: `conf.scoped("extractor.csv")`. */
  def scoped(scope: String): ScopedConfig = copy(prefix = full(scope))

  def get(key: String): Option[String] = entries.get(full(key))
  def string(key: String): String =
    get(key).getOrElse(throw new NoSuchElementException(s"missing config key: ${full(key)}"))
  def stringOr(key: String, default: String): String = get(key).getOrElse(default)
  def longOr(key: String, default: Long): Long = get(key).map(_.toLong).getOrElse(default)
  def boolOr(key: String, default: Boolean): Boolean =
    get(key).map(_.toBoolean).getOrElse(default)

  /** `this` wins over `other` — HOCON's withFallback. */
  def withFallback(other: ScopedConfig): ScopedConfig =
    ScopedConfig(other.entries ++ entries, prefix)
}

object ScopedConfig {
  val empty: ScopedConfig = ScopedConfig(Map.empty)
}

/** DefaultTask / DefaultJob orchestration (task/task.py:19-77,
  * job/job.py:17-89): pipeline = source → chained transforms → sink
  * (stage) → publish, with the Callback protocol's success/failure
  * notification (callback/call_back.py — the Kafka offset-commit hook,
  * kafka_source_extractor.py:116-130).
  *
  * The reference's record pull-loop becomes lazy DataFrame composition
  * (ChainedTransformer's per-stage filter/fan-out are `.filter`/`.flatMap`
  * stages in `transforms`); the Closer LIFO cleanup becomes the
  * try/finally around launch. Components stay inert until `launch` — the
  * lazy-init contract of databuilder/__init__.py:31-45 matches Spark's own
  * laziness.
  */
final case class Pipeline(
    name: String,
    source: SparkSession => DataFrame,
    transforms: Seq[DataFrame => DataFrame] = Nil,
    sink: DataFrame => Unit = _ => (),
    publish: () => Unit = () => (),
    onSuccess: () => Unit = () => (),
    onFailure: () => Unit = () => (),
    metrics: (String, Long) => Unit = (_, _) => (),
    maintenance: Seq[graft.streaming.Maintenance.Action] = Nil) {

  /** The composed declarative plan (no execution). */
  def dataFrame(spark: SparkSession): DataFrame =
    transforms.foldLeft(source(spark))((df, t) => t(df))

  /** Run every deployed store's maintenance (retention sweep + budget
    * compaction) with per-store guardrail isolation — the operational
    * pass a 100 TB deployment schedules nightly, the scheduled-job slot
    * the reference's staleness-removal tasks occupy
    * (neo4j_staleness_removal_task.py). Gates contribute their stores
    * via `Maintenance.claimActions` over each gate's `claimStores`
    * (CurationStream, MediaDedupStream, EmbedDedupStream,
    * DedupGateStream); a tripped guardrail aborts
    * that store only and is reported, any other failure propagates.
    * Each store's outcome also lands on the statsd-style metrics hook
    * (`job.<name>.maintain.swept` / `.aborted`), fire-and-forget like
    * the launch counters. */
  def maintain(): graft.streaming.Maintenance.Report = {
    val report = graft.streaming.Maintenance.run(maintenance)
    try {
      metrics(s"job.$name.maintain.swept", report.dropped)
      metrics(s"job.$name.maintain.aborted", report.aborted.size.toLong)
    } catch { case _: Throwable => () }
    report
  }

  /** Run: stage the composed frame, publish, fire callbacks.
    *
    * Callback discipline (the reference's Callback protocol,
    * databuilder/callback/call_back.py): onFailure fires only when the
    * PIPELINE fails — a throwing onSuccess callback must not signal
    * failure for a publish that completed (that would e.g. force a Kafka
    * redelivery of committed data), and a throwing onFailure must not
    * mask the root cause, so it is attached as a suppressed exception. */
  /** statsd-style counter emission (job/job.py:68-89: `statsd.incr(
    * 'success')` / `incr('fail')` in the launch finally-block): exactly
    * one of `job.<name>.success` / `job.<name>.fail` increments per
    * launch. The hook is fire-and-forget — a throwing metrics sink never
    * changes the launch outcome (suppressed, like callbacks). */
  private def incr(key: String, cause: Throwable = null): Unit =
    try metrics(s"job.$name.$key", 1L)
    catch {
      case m: Throwable => if (cause != null) cause.addSuppressed(m)
    }

  def launch(spark: SparkSession): Unit = {
    try {
      sink(dataFrame(spark))
      publish()
    } catch {
      case e: Throwable =>
        try onFailure()
        catch { case cb: Throwable => e.addSuppressed(cb) }
        incr("fail", e)
        throw e
    }
    incr("success")
    onSuccess()
  }
}
