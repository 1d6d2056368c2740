package perfbench

import graft.operators.{CommitSink, Pipeline, Retry}
import graft.sources.Tables
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** One discovered drawing as it moves through the stages. */
final case class FileRec(name: String, path: String, text: String)

/** `file_batch`: the reference's journey over the generated tree under
  * `tree/`. An op is one corpus pass: discover and dedup the `.dwg`
  * files ([[Tables.scanFiles]]), run the ordered stages
  * ([[Pipeline.run]]), commit the survivors
  * ([[CommitSink.writeVerified]]) and roll the status events up by
  * severity. `fail.txt` names the records the `ebind` stage fails and
  * with which message; `retry.txt` names the records whose first
  * `verify` attempt fails inside [[Retry]].
  *
  * Set-up runs one untimed pass. Each pass commits to its own
  * directory; the committed rows are read back after the section for
  * `checks.py`.
  */
object FileBatch {

  /** The ordered stages. Positions are sparse on purpose, and one
    * disabled stage would fail every record if it ran.
    */
  def stages(fail: Map[String, String], retry: Set[String],
      onRetry: () => Unit): Seq[Pipeline.Stage[FileRec]] = Seq(
    Pipeline.Stage[FileRec]("load", 10, enabled = true, r =>
      r.copy(text = new String(Files.readAllBytes(
        Paths.get(new org.apache.hadoop.fs.Path(r.path).toUri)), "UTF-8"))),
    Pipeline.Stage[FileRec]("epurge", 20, enabled = true, r =>
      r.copy(text = r.text.split(' ').filter(_.nonEmpty).mkString(" "))),
    Pipeline.Stage[FileRec]("legacy_audit", 25, enabled = false, r =>
      sys.error(s"disabled stage ran on ${r.name}")),
    Pipeline.Stage[FileRec]("ebind", 30, enabled = true, r =>
      fail.get(r.name) match {
        case Some(msg) => sys.error(msg)
        case None => r.copy(text = r.text + " :bound")
      }),
    Pipeline.Stage[FileRec]("verify", 40, enabled = true, r => {
      var attempt = 0
      Retry(3, onRetry = (_, _) => onRetry()) {
        attempt += 1
        if (attempt == 1 && retry.contains(r.name))
          sys.error(s"transient verify failure on ${r.name}")
        r.copy(text = s"${r.text.split(' ').length}|${r.text}")
      }
    }))

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    def lines(f: String) =
      Files.readAllLines(Paths.get(ctx.inputs, f)).asScala.filter(_.nonEmpty).toSeq
    val fail = lines("fail.txt").map { l =>
      val Array(n, m) = l.split("\t", 2); n -> m
    }.toMap
    val retry = lines("retry.txt").toSet
    val retries = spark.sparkContext.longAccumulator("perfbench.retries")
    val plan = stages(fail, retry, () => retries.add(1L))
    val tree = s"${ctx.inputs}/tree"
    val files = {
      val walk = Files.walk(Paths.get(tree))
      try walk.filter(Files.isRegularFile(_)).count() finally walk.close()
    }
    var pass = 0

    def corpusPass(t: Ctx#Timer): Map[String, Any] = {
      pass += 1
      val dest = s"${ctx.work}/committed/pass_$pass"
      val r0 = retries.value
      val corpus = Tables.scanFiles(spark, tree, ".dwg")
        .withColumn("name", element_at(split(col("path"), "/"), -1))
        .dropDuplicates("name")
        .select(col("name"), col("path"), lit("").as("text"))
        .as[FileRec]
      val discovered = t.span("sources.scanFiles")(corpus.count())
      val run = Pipeline.run(spark, corpus, plan, (r: FileRec) => r.name)
      val m = t.span("operators.Pipeline.run")(run.metrics)
      val committed = t.span("operators.CommitSink.writeVerified")(
        CommitSink.writeVerified(spark,
          run.results.filter(col("ok"))
            .select(col("value.name").as("name"), col("value.text").as("text")),
          dest))
      val severity = t.span("operators.Pipeline.statusEvents")(
        run.statusEvents(spark).groupBy("severity").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap)
      Map("dest" -> dest, "discovered" -> discovered, "total" -> m.total,
        "succeeded" -> m.succeeded, "failed" -> m.failed,
        "success_ratio" -> m.successRatio, "committed" -> committed,
        "severity" -> severity, "retries" -> (retries.value - r0))
    }

    // set-up: one untimed pass
    corpusPass(new ctx.Timer(new Tracer(false)))

    def timedPasses(traced: Boolean): Unit =
      ctx.section(ctx.units, traced) { t =>
        (1 to ctx.units).foreach(_ => t.op("pass", files)(corpusPass(t)))
        val obs = t.ops.map(_.obs)
        def mean(k: String) = obs.map(o => o.get(k).fold(0.0) {
          case n: Long => n.toDouble
          case d: Double => d
        }).sum / ctx.units
        if (!traced) Map.empty
        else Map("operators.Pipeline.success_ratio" -> mean("success_ratio"),
          "operators.Retry.retries" -> mean("retries"),
          "operators.CommitSink.files_written" ->
            obs.map(o => parquetFiles(o("dest").toString)).sum.toDouble / ctx.units)
      }
    timedPasses(traced = false)
    // a traced run then times the passes traced, and untraced once more:
    // the baseline of the tracing overhead, as warm as the traced ones
    if (ctx.traced) { timedPasses(traced = true); timedPasses(traced = false) }

    // output check inputs: each pass's committed rows, read back
    ctx.observed("commits") = ctx.sections.flatMap(_.ops).map { o =>
      o.obs.get("dest").fold(Map.empty[String, Any]) { d =>
        val rows = spark.read.parquet(d.toString).select("name", "text")
          .collect().map(r => r.getString(0) + "\t" + r.getString(1)).sorted
        val md = java.security.MessageDigest.getInstance("SHA-256")
        rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
        Map("rows" -> rows.length.toLong,
          "digest" -> md.digest().map(b => f"${b & 0xff}%02x").mkString,
          "files" -> parquetFiles(d.toString).toLong)
      }
    }
  }

  private def parquetFiles(dir: String): Int =
    Option(new java.io.File(dir).list()).fold(0)(_.count(_.endsWith(".parquet")))
}
