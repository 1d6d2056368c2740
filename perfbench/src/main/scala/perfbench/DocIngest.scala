package perfbench

import graft.operators.PartitionedCommit
import graft.streaming.DocumentPipeline
import org.apache.spark.sql.DataFrame

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `doc_ingest`: upsert a standing state from `seed.parquet` (set-up),
  * then each delta batch listed in `batches.txt` through
  * [[DocumentPipeline.upsertBatch]] with the full five-artifact
  * configuration: hash16 layout, parallel commits, signatures and the
  * LM. An op is one `upsertBatch` call.
  *
  * After the untraced section the final corpus ids, a digest of the
  * stored text and the stored candidates are read back beside a
  * one-pass batch mine of the final corpus, for `checks.py`. A traced run then replays the batches
  * with spans, stage callbacks and on-disk state measurements.
  */
object DocIngest {

  /** upsertBatch's stage names → span names of the layers they time. */
  private val StageSpan = Map(
    "scrub" -> "streaming.scrub",
    "mine" -> "streaming.mine",
    "replaced_probe" -> "streaming.replaced_probe",
    "lm_score" -> "streaming.lm_score",
    "lm_counts" -> "streaming.lm_counts") ++
    Seq("corpus", "shingles", "candidates", "signatures", "lm").map(a =>
      s"commit_$a" -> s"operators.PartitionedCommit.$a.commit")

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val batches = Files.readAllLines(Paths.get(ctx.inputs, "batches.txt")).asScala
      .map(_.trim).filter(_.nonEmpty).map { l =>
        val Array(f, n) = l.split(" ")
        (s"${ctx.inputs}/$f", n.toLong)
      }.toSeq
    def read(p: String): DataFrame = spark.read.parquet(p)

    def upsert(root: String, df: DataFrame,
        onStage: (String, Double) => Unit): DocumentPipeline.BatchReport =
      DocumentPipeline.upsertBatch(
        df,
        corpusPath = s"$root/corpus",
        shinglesPath = s"$root/shingles",
        candidatesPath = s"$root/cands",
        layout = Some(PartitionedCommit.Layout.Hash(16)),
        signaturesPath = Some(s"$root/sigs"),
        lmPath = Some(s"$root/lm"),
        onStage = onStage,
        parallelCommits = true)

    def report(r: DocumentPipeline.BatchReport): Map[String, Any] = Map(
      "corpus_rows" -> r.corpusRows, "replaced" -> r.replacedDocs,
      "candidate_rows" -> r.candidateRows, "new_candidates" -> r.newCandidates,
      "shingle_rows" -> r.shingleRows, "signature_rows" -> r.signatureRows,
      "lm_rows" -> r.lmRows)

    def seed(root: String): Unit =
      upsert(root, read(s"${ctx.inputs}/seed.parquet"), (_, _) => ())

    // one timed section over every batch, against the state at `root`
    def replay(root: String, traced: Boolean): Unit =
      ctx.section(batches.size, traced) { t =>
        var before: Map[String, (Long, Long)] =
          if (traced) t.span("perfbench.state_scan")(listing(root)) else Map.empty
        var touched, writeAmp = 0.0
        batches.zipWithIndex.foreach { case ((path, n), i) =>
          val df = read(path)
          t.op(s"batch_$i", n) {
            if (!traced) report(upsert(root, df, (_, _) => ()))
            else {
              val opSpan = t.tracer.current
              val events = mutable.ArrayBuffer.empty[(String, Double, Long)]
              val r = t.span("streaming.upsert")(upsert(root, df, (name, s) =>
                events.synchronized { events += ((name, s, System.nanoTime())) }))
              // stage spans under the op, commit phases under their stage
              val stageIds = mutable.Map.empty[String, Int]
              events.filter(e => StageSpan.contains(e._1)).foreach { case (name, s, end) =>
                stageIds(name) = t.tracer.record(StageSpan(name), t.opId, opSpan,
                  end - (s * 1e9).toLong, end)
              }
              events.foreach { case (name, s, end) =>
                name.split('.') match {
                  case Array(stage, phase) if !phase.endsWith("buckets") =>
                    t.tracer.record(s"operators.PartitionedCommit.$phase", t.opId,
                      stageIds.getOrElse(stage, opSpan), end - (s * 1e9).toLong, end)
                  case _ =>
                }
              }
              report(r)
            }
          }
          if (traced) {
            val after = t.span("perfbench.state_scan")(listing(root))
            touched += touchedBuckets(before, after)
            writeAmp += newBytes(before, after) / new File(path).length.toDouble
            before = after
          }
        }
        if (!traced) Map.empty
        else Map(
          "operators.PartitionedCommit.touched_buckets" -> touched / batches.size,
          "operators.PartitionedCommit.write_amp" -> writeAmp / batches.size,
          "streaming.state_bytes" -> before.values.map(_._1).sum.toDouble,
          "streaming.state_files" -> before.size.toDouble)
      }

    // set-up: the standing state the deltas run against
    val root = s"${ctx.work}/state"
    seed(root)
    replay(root, traced = false)

    // output check inputs: final state beside the one-pass mine
    val corpus = spark.read.parquet(s"$root/corpus")
    def pairs(df: DataFrame): Seq[Seq[Any]] =
      df.select("doc_a", "doc_b", "inter_cnt", "jaccard", "containment")
        .collect().map(r => Seq[Any](r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getDouble(4))).toSeq
    val stored = corpus.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1)
    ctx.observed("corpus_ids") = stored.map(_._1).toSeq
    val md = java.security.MessageDigest.getInstance("SHA-256")
    stored.foreach { case (d, text) => md.update(s"$d\t$text\n".getBytes("UTF-8")) }
    ctx.observed("text_digest") = md.digest().map(b => f"${b & 0xff}%02x").mkString
    ctx.observed("pairs") = pairs(spark.read.parquet(s"$root/cands"))
    ctx.observed("batch_mine_pairs") = pairs(graft.BatchMine.candidates(corpus))

    // a traced run then replays traced, and untraced once more, each on
    // a freshly seeded state: the baseline of the tracing overhead
    if (ctx.traced) Seq("traced" -> true, "baseline" -> false).foreach { case (name, traced) =>
      seed(s"${ctx.work}/state_$name")
      replay(s"${ctx.work}/state_$name", traced)
    }
  }

  /** Every file under `root`: relative path → (bytes, mtime). */
  def listing(root: String): Map[String, (Long, Long)] = {
    val base = Paths.get(root)
    if (!Files.exists(base)) Map.empty
    else {
      val walk = Files.walk(base)
      try walk.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
        base.relativize(p).toString ->
          ((Files.size(p), Files.getLastModifiedTime(p).toMillis))
      }.toMap
      finally walk.close()
    }
  }

  /** Bucket directories (artifact + bucket) whose files changed. */
  def touchedBuckets(
      before: Map[String, (Long, Long)], after: Map[String, (Long, Long)]): Double = {
    val bucket = s"${PartitionedCommit.BucketCol}="
    def key(path: String): Option[String] = {
      val parts = path.split('/')
      val i = parts.indexWhere(_.startsWith(bucket))
      if (i < 0) None else Some(parts.take(i + 1).mkString("/"))
    }
    val changed = (before.keySet ++ after.keySet).filter(p => before.get(p) != after.get(p))
    changed.flatMap(key).size.toDouble
  }

  /** Bytes of files that are new or rewritten since `before`. */
  def newBytes(before: Map[String, (Long, Long)], after: Map[String, (Long, Long)]): Double =
    after.collect { case (p, v) if !before.get(p).contains(v) => v._1 }.sum.toDouble
}
