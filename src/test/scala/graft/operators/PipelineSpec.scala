package graft.operators

import graft.SparkTestBase
import graft.operators.Pipeline.{Stage, StatusEvent}

import java.nio.file.Files

/** Pipeline-runner semantics (SURVEY.md §5.3): ordered fold, enabled
  * filter, per-record error isolation + classification, metrics,
  * status events, bounded retry, verified commit.
  */
final case class Rec(id: Int, v: String)

class PipelineSpec extends SparkTestBase {
  import spark.implicits._

  private def mkStages(fs: (String, Rec => Rec)*): Seq[Stage[Rec]] =
    fs.zipWithIndex.map { case ((n, f), i) => Stage(n, i, enabled = true, f) }

  test("stages apply in declared position order (non-commuting pair)") {
    val corpus = Seq(Rec(1, "x")).toDS()
    val app = Stage[Rec]("append", 1, enabled = true, r => r.copy(v = r.v + "a"))
    val up = Stage[Rec]("upper", 2, enabled = true, r => r.copy(v = r.v.toUpperCase))
    // position order, regardless of Seq order
    val run1 = Pipeline.run(spark, corpus, Seq(up, app))
    assert(run1.results.collect().head.value.v == "XA")
    val run2 = Pipeline.run(spark, corpus,
      Seq(up.copy(position = 0), app.copy(position = 5)))
    assert(run2.results.collect().head.value.v == "Xa")
  }

  test("disabled stages are skipped (ref remove-unchecked :270-274)") {
    val corpus = Seq(Rec(1, "x")).toDS()
    val stages = Seq(
      Stage[Rec]("a", 0, enabled = true, r => r.copy(v = r.v + "1")),
      Stage[Rec]("b", 1, enabled = false, r => r.copy(v = r.v + "2")),
      Stage[Rec]("c", 2, enabled = true, r => r.copy(v = r.v + "3")))
    val out = Pipeline.run(spark, corpus, stages).results.collect().head
    assert(out.value.v == "x13")
    assert(out.stagesRun == 2)
  }

  test("a failing record is isolated, classified, and does not abort the run") {
    val corpus = (1 to 10).map(i => Rec(i, s"v$i")).toDS()
    val stages = mkStages(
      "ok" -> (r => r.copy(v = r.v + "!")),
      "boom" -> (r =>
        if (r.id == 3) throw new RuntimeException("engine disconnected from host")
        else if (r.id == 7) throw new RuntimeException("bad Open.Close sequence")
        else r))
    val run = Pipeline.run(spark, corpus, stages, (r: Rec) => s"rec${r.id}")
    val res = run.results.collect().sortBy(_.value.id)
    assert(res.count(_.ok) == 8)
    assert(run.metrics.succeeded == 8 && run.metrics.failed == 2)
    val bad3 = res.find(_.value.id == 3).get
    assert(!bad3.ok && bad3.failedStage == "boom")
    assert(bad3.errorClass == "engine_disconnected")
    assert(res.find(_.value.id == 7).get.errorClass == "engine_protocol")
    // failure keeps the ORIGINAL record value (no partial commit)
    assert(bad3.value.v == "v3")
    // live accumulators: exact after a run with exactly one action
    val run2 = Pipeline.run(spark, corpus, stages, (r: Rec) => s"rec${r.id}")
    assert(run2.metrics.total == 10) // single action
    assert(run2.successAcc.value + run2.failureAcc.value == 10)
  }

  test("status events: green per success, red per failure (severities :405-416)") {
    val corpus = Seq(Rec(1, "a"), Rec(2, "b")).toDS()
    val stages = mkStages("s" -> (r =>
      if (r.id == 2) throw new RuntimeException("nope") else r))
    val run = Pipeline.run(spark, corpus, stages, (r: Rec) => s"rec${r.id}")
    val evs: Array[StatusEvent] = run.statusEvents(spark).collect()
    assert(evs.count(_.severity == "green") == 1)
    assert(evs.count(_.severity == "red") == 1)
    assert(evs.find(_.severity == "red").get.stage == "s")
  }

  test("summary DataFrame: total, succeeded, ratio (ref :329)") {
    val corpus = (1 to 4).map(i => Rec(i, "")).toDS()
    val stages = mkStages("f" -> (r =>
      if (r.id % 2 == 0) throw new RuntimeException("x") else r))
    val row = Pipeline.run(spark, corpus, stages).summary(spark).head()
    assert(row.getLong(0) == 4 && row.getLong(1) == 2)
    assert(math.abs(row.getDouble(2) - 0.5) < 1e-12)
  }

  test("each record's stages run once per run, whatever reads the results") {
    val n = 40
    val corpus = (1 to n).map(i => Rec(i, s"v$i")).toDS()
    val calls = spark.sparkContext.longAccumulator("stage.calls")
    val stages = mkStages("count" -> { r =>
      calls.add(1L)
      if (r.id % 5 == 0) throw new RuntimeException("nope") else r
    })
    val run = Pipeline.run(spark, corpus, stages, (r: Rec) => s"rec${r.id}")
    assert(run.results.collect().length == n)
    assert(run.metrics.total == n && run.metrics.failed == n / 5)
    assert(run.summary(spark).head().getLong(1) == n - n / 5)
    assert(run.statusEvents(spark).collect().length == n)
    val dest = Files.createTempDirectory("graft-once").toString + "/out.parquet"
    assert(CommitSink.writeVerified(spark,
      run.results.filter($"ok").select($"value.id", $"value.v"), dest) == n - n / 5)
    assert(calls.value == n, s"stage ran ${calls.value} times over $n records")
    assert(run.successAcc.value + run.failureAcc.value == n)
  }

  test("retry: succeeds within budget, exhausts with RetriesExhausted") {
    var calls = 0
    val got = Retry(retries = 3)(
      { calls += 1; if (calls < 3) throw new RuntimeException("flaky"); 42 })
    assert(got == 42 && calls == 3)

    var n = 0
    val ex = intercept[Retry.RetriesExhausted] {
      Retry(retries = 5)({ n += 1; throw new RuntimeException("always") })
    }
    assert(n == 5 && ex.attempts == 5)
  }

  test("verified commit: staging swap + read-back, old data replaced") {
    val dir = Files.createTempDirectory("graft-commit").toString
    val dest = s"$dir/out.parquet"
    val first = Seq(Rec(1, "old")).toDS().toDF()
    assert(CommitSink.writeVerified(spark, first, dest) == 1)
    val second = (1 to 5).map(i => Rec(i, "new")).toDS().toDF()
    assert(CommitSink.writeVerified(spark, second, dest) == 5)
    val back = spark.read.parquet(dest)
    assert(back.count() == 5)
    assert(back.where("v = 'old'").count() == 0)
  }

  test("DataFrame-level fold applies stages in order") {
    val df = Seq((1, "a")).toDF("id", "s")
    val out = Pipeline.fold(df, Seq(
      "one" -> ((d: org.apache.spark.sql.DataFrame) =>
        d.withColumn("s", org.apache.spark.sql.functions.concat_ws("", d("s"),
          org.apache.spark.sql.functions.lit("1")))),
      "two" -> ((d: org.apache.spark.sql.DataFrame) =>
        d.withColumn("s", org.apache.spark.sql.functions.upper(d("s"))))))
    assert(out.collect().head.getString(1) == "A1")
  }

  test("throughput: 1000 records x 2 stages beats the reference floor by >100x") {
    // Reference floor: fixed sleeps give ~15 s/record with the 2
    // bundled stages => 1000 records ~ 4.2 hours (BASELINE.md §1).
    val corpus = (1 to 1000).map(i => s"rec$i.dwg").toDS()
    val stages = Seq(
      Pipeline.Stage[String]("purge", 0, enabled = true, r => r + ":purged"),
      Pipeline.Stage[String]("bind", 1, enabled = true, r => r + ":bound"))
    val t0 = System.nanoTime()
    val run = Pipeline.run(spark, corpus, stages)
    val m = run.metrics
    val secs = (System.nanoTime() - t0) / 1e9
    assert(m.succeeded == 1000L && m.failed == 0L)
    // 100x the reference floor would be 150 s; this completes in ~1 s
    assert(secs < 150.0, s"took $secs s")
  }
}
