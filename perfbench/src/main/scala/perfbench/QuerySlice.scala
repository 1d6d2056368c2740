package perfbench

import graft.queries._

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** `query_slice`: the declared queries q01–q54, each pass running every
  * query once in the order the seed chose (`order.txt`, one pass per
  * line). An op is one query: build the DataFrame, force its physical
  * plan, run it into the noop sink.
  *
  * Set-up runs every query once, untimed, collecting its result for the
  * digest check; that pass also warms the JIT and the codegen cache.
  */
object QuerySlice {

  val Modules: Seq[(String, Seq[QueryDef])] = Seq(
    "Relational" -> Relational.defs,
    "TextQueries" -> TextQueries.defs,
    "VectorQueries" -> VectorQueries.defs,
    "DedupQueries" -> DedupQueries.defs,
    "MultimodalQueries" -> MultimodalQueries.defs)

  def qNum(name: String): Int =
    name.drop(1).takeWhile(_.isDigit) match {
      case "" => Int.MaxValue
      case d => d.toInt
    }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val queries = graft.SparkEntry.queries
    val slice = graft.SparkEntry.queryNames.filter(qNum(_) <= 54)
    val oracle = graft.SparkEntry.oracleSql
    val module = Modules.flatMap { case (m, defs) => defs.map(_.name -> m) }.toMap
    val passes = Files.readAllLines(Paths.get(ctx.inputs, "order.txt")).asScala
      .map(_.trim).filter(_.nonEmpty).map(_.split(" ").toSeq).toSeq

    // untimed warm pass: one collected result per query, for the
    // digests. It runs on `cpus` client threads: set-up only, so it
    // pays the one-time codegen and JIT cost in parallel.
    val t0 = System.nanoTime()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(ctx.cpus)
    val warm = try {
      slice.map { n =>
        pool.submit(() => {
          val res =
            try {
              val (rows, digest) = Digest.of(queries(n)(spark, ctx.data))
              queries(n)(spark, ctx.data).write.mode("overwrite").format("noop").save()
              Map[String, Any]("rows" -> rows, "digest" -> digest)
            } catch {
              case e: Exception => Map[String, Any]("error" -> String.valueOf(e))
            }
          n -> (res + ("module" -> module.getOrElse(n, "")) +
            ("oracle" -> oracle.getOrElse(n, null)))
        })
      }.map(_.get()).toMap
    } finally pool.shutdown()
    ctx.observed("queries") = warm
    System.err.println(f"[perfbench] warm pass ${(System.nanoTime() - t0) / 1e9}%.1f s")

    def timedPasses(traced: Boolean): Unit =
      ctx.section(passes.size, traced) { t =>
        for (pass <- passes; n <- pass) t.op(n, 1L) {
          val df = t.span("queries.build")(queries(n)(spark, ctx.data))
          t.span("plans.plan")(df.queryExecution.executedPlan)
          t.span("queries.exec", module.getOrElse(n, "other")) {
            df.write.mode("overwrite").format("noop").save()
          }
          Map.empty
        }
        Map.empty
      }

    timedPasses(traced = false)
    // a traced run then times the passes traced, and untraced once more:
    // the baseline of the tracing overhead, as warm as the traced ones
    if (ctx.traced) { timedPasses(traced = true); timedPasses(traced = false) }
  }
}
