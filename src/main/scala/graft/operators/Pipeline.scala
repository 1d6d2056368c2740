package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.util.LongAccumulator

import scala.util.{Failure, Success, Try}

/** The reference's core dataflow, Spark-native (SURVEY.md §2.3
  * "non-query engine features"; ref `Batch Processor.py:287-397`):
  * an *ordered*, individually-toggleable pipeline of stages applied to
  * a corpus, with per-record error isolation, error classification,
  * run metrics, and a severity-tagged status event stream.
  *
  * Differences from the reference are deliberate non-translations:
  * stages are resolved once at plan time (the reference re-loads each
  * script per record per stage, `Batch Processor.py:340`), records run
  * data-parallel across executors (the reference is strictly
  * sequential, `:306`), and synchronization is by completion, not
  * fixed sleeps (`:341-350`).
  */
object Pipeline {

  /** One pipeline stage (ref D2 row: `{path, var}` + position,
    * `Batch Processor.py:69,:209-219`): a named, toggleable,
    * position-ordered record transformation.
    */
  final case class Stage[T](
      name: String,
      position: Int,
      enabled: Boolean,
      fn: T => T) extends Serializable

  /** Outcome of running all enabled stages over one record (ref
    * per-record try/except `Batch Processor.py:309-320`).
    */
  final case class RecordResult[T](
      value: T,
      ok: Boolean,
      failedStage: String,
      errorClass: String,
      errorMessage: String,
      stagesRun: Int)

  /** A status stream event (ref D4: severity-tagged append-only log,
    * `Batch Processor.py:399-416`). Severities: blue=info, green=
    * success, red=error, orange=warning — per `:405-416`.
    */
  final case class StatusEvent(
      seq: Long,
      record: String,
      stage: String,
      severity: String,
      message: String)

  /** Error classification by message substring (ref A13,
    * `Batch Processor.py:313-320`).
    */
  def classifyError(msg: String): String =
    if (msg == null) "generic"
    else if (msg.contains("Open.Close")) "engine_protocol"
    else if (msg.contains("disconnected")) "engine_disconnected"
    else "generic"

  /** Column form of [[classifyError]] — the q10 CASE WHEN shape. */
  def classifyErrorCol(c: Column): Column =
    when(c.contains("Open.Close"), "engine_protocol")
      .when(c.contains("disconnected"), "engine_disconnected")
      .otherwise("generic")

  /** Metrics of one run (ref D5: success counter `:312`, total `:289`,
    * ratio `:420-425`).
    */
  final case class RunMetrics(total: Long, succeeded: Long, failed: Long) {
    def successRatio: Double =
      if (total == 0) 1.0 else succeeded.toDouble / total.toDouble
  }

  /** Handle on a pipeline run. The first access to [[results]] runs
    * the stages and materializes their output with an eager
    * `localCheckpoint`; [[metrics]], [[summary]], [[statusEvents]] and
    * every caller's query over `results` then read that checkpoint.
    * So each record's stages run once per run, barring Spark task
    * re-execution, as the reference runs each script once per file
    * (`Batch Processor.py:306-361`). The accumulators therefore agree
    * with [[metrics]] once `results` is materialized; while it runs
    * they are live progress counters (ref progress bar `:420-425`).
    *
    * The checkpoint blocks live on the executors and are freed by the
    * ContextCleaner once the `Run` is unreachable. Losing an executor
    * that holds some of them fails later actions on this run.
    */
  final class Run[T](
      mapped: Dataset[RecordResult[T]],
      val successAcc: LongAccumulator,
      val failureAcc: LongAccumulator,
      recordName: T => String) extends Serializable {

    /** The per-record outcomes, materialized on first access. */
    lazy val results: Dataset[RecordResult[T]] = mapped.localCheckpoint(eager = true)

    /** Run metrics, read off [[summary]]. */
    lazy val metrics: RunMetrics = {
      val row = summary(results.sparkSession).head()
      val total = row.getLong(0)
      val succ = row.getLong(1)
      RunMetrics(total, succ, total - succ)
    }

    /** Severity-tagged status stream derived from results (ref D4):
      * one green event per success, one red per failure.
      */
    def statusEvents(spark: SparkSession): Dataset[StatusEvent] = {
      import spark.implicits._
      val nameFn = recordName
      results.map { r =>
        val rec = nameFn(r.value)
        if (r.ok)
          StatusEvent(0L, rec, "", "green", s"Completed $rec (${r.stagesRun} stages)")
        else
          StatusEvent(0L, rec, r.failedStage, "red",
            s"Error on $rec at ${r.failedStage}: ${r.errorClass}")
      }
    }

    /** Grand-total summary DataFrame (ref `:329` "`n` of `m`"). */
    def summary(spark: SparkSession): DataFrame = {
      val total = count(lit(1))
      val succ = sum(when(col("ok"), 1L).otherwise(0L))
      results.agg(
        total.as("total"),
        succ.as("succeeded"),
        (succ.cast("double") / total.cast("double")).as("success_ratio"))
    }
  }

  /** Run the enabled stages, in position order, over every record,
    * isolating per-record failures (a failing record is classified and
    * carried in the result; the run continues — ref `:309-320`).
    */
  def run[T: Encoder](
      spark: SparkSession,
      corpus: Dataset[T],
      stages: Seq[Stage[T]],
      recordName: T => String = (t: T) => String.valueOf(t))(
      implicit rrEnc: Encoder[RecordResult[T]]): Run[T] = {

    // Plan-time stage resolution: enabled filter + explicit position
    // order (ref A11 `:304` — Spark has no row order, position is data).
    val plan: Seq[Stage[T]] = stages.filter(_.enabled).sortBy(_.position)
    require(plan.map(_.name).distinct.size == plan.size,
      "duplicate stage names in pipeline")

    val successAcc = spark.sparkContext.longAccumulator("pipeline.success")
    val failureAcc = spark.sparkContext.longAccumulator("pipeline.failure")

    val mapped = corpus.map { record =>
      var current = record
      var failed: Option[(String, Throwable)] = None
      var ran = 0
      val it = plan.iterator
      while (it.hasNext && failed.isEmpty) {
        val st = it.next()
        Try(st.fn(current)) match {
          case Success(v) => current = v; ran += 1
          case Failure(e) => failed = Some((st.name, e))
        }
      }
      failed match {
        case None =>
          successAcc.add(1L)
          RecordResult(current, ok = true, "", "", "", ran)
        case Some((stage, e)) =>
          failureAcc.add(1L)
          val msg = if (e.getMessage == null) e.toString else e.getMessage
          RecordResult(record, ok = false, stage, classifyError(msg), msg, ran)
      }
    }
    new Run(mapped, successAcc, failureAcc, recordName)
  }

  /** DataFrame-level ordered stage fold — the columnar face of the
    * same capability for whole-plan transformations (each stage a
    * `DataFrame => DataFrame`).
    */
  def fold(df: DataFrame, stages: Seq[(String, DataFrame => DataFrame)]): DataFrame =
    stages.foldLeft(df) { case (acc, (_, f)) => f(acc) }
}
