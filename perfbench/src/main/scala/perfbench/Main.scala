package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** One timed op as the client saw it. `obs` is what the op returned,
  * for the output checks in `checks.py`.
  */
final case class OpRecord(
    name: String, seconds: Double, ok: Boolean, error: String,
    obs: Map[String, Any])

/** Everything one timed section measured. */
final case class Section(
    traced: Boolean, wallS: Double, units: Int, items: Long,
    ops: Seq[OpRecord], layers: Map[String, Double])

/** What a workload needs from the runner: the session, its generated
  * inputs, a private work directory, and the op/section timers.
  */
final class Ctx(
    val spark: SparkSession,
    val inputs: String,
    val work: String,
    val data: String,
    val cpus: Int,
    val units: Int,
    val traced: Boolean,
    launchEpochNs: Long) {

  val counters: Option[SparkCounters] =
    if (traced) {
      val c = new SparkCounters
      spark.sparkContext.addSparkListener(c)
      Some(c)
    } else None

  private var setupS = -1.0
  private var peakRss = -1.0
  val sections = mutable.ArrayBuffer.empty[Section]
  val observed = mutable.LinkedHashMap.empty[String, Any]
  /** The traced section's tracer, once it has run. */
  var traceOf: Option[Tracer] = None

  def setupSeconds: Double = setupS

  /** VmHWM when the first timed section ended: the memory of set-up and
    * the timed ops, before the output checks read anything back.
    */
  def peakRssMb: Double = peakRss

  /** Run one timed section: `body` runs its ops through the
    * [[Timer]] and returns extra per-layer metrics. A traced section
    * records spans and Spark counters and turns them into per-layer
    * metrics per unit of work (`units`: passes or batches).
    */
  def section(units: Int, traced: Boolean)(body: Timer => Map[String, Double]): Section = {
    val timer = new Timer(new Tracer(traced))
    val t0ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val extra = body(timer)
    val wall = (System.nanoTime() - t0) / 1e9
    if (peakRss < 0) peakRss = Main.peakRssMb()
    val layers = if (!traced) Map.empty[String, Double] else {
      val t1ms = System.currentTimeMillis()
      org.apache.spark.ListenerDrain(spark.sparkContext)
      val s = timer.tracer.spans
      traceOf = Some(timer.tracer)
      val inner = s.filter(_.name != "op")
      val perName = (inner.groupBy(_.name) ++
        inner.filter(_.tag.nonEmpty).groupBy(sp => s"${sp.name}.${sp.tag}"))
        .map { case (k, v) => layerName(k) -> v.map(_.seconds).sum / units }
      val sparkTotals = counters.get.totals(t0ms, t1ms)
        .map { case (k, v) => k -> v / units }
      val topCover = Tracer.coverNs(
        s.filter(_.parent == 0).map(sp => (sp.startNs, sp.endNs))) / 1e9
      perName ++ sparkTotals ++ extra ++ Map(
        "trace.wall_s" -> wall,
        "trace.span_coverage" -> topCover / wall)
    }
    val sec = Section(traced, wall, units, timer.items, timer.ops.toList, layers)
    sections += sec
    sec
  }

  /** Times ops for one section; the first op of the run ends set-up. */
  final class Timer(val tracer: Tracer) {
    val ops = mutable.ArrayBuffer.empty[OpRecord]
    var items = 0L
    private var nextOp = 0

    /** Time `f` as one op over `n` input items. A throwing op is
      * recorded as failed and the section goes on.
      */
    def op(name: String, n: Long)(f: => Map[String, Any]): OpRecord = {
      nextOp += 1
      if (setupS < 0) {
        val now = java.time.Instant.now()
        setupS = (now.getEpochSecond * 1000000000L + now.getNano - launchEpochNs) / 1e9
      }
      val t0 = System.nanoTime()
      val rec =
        try {
          val obs = tracer.span("op", nextOp, name)(f)
          OpRecord(name, (System.nanoTime() - t0) / 1e9, ok = true, "", obs)
        } catch {
          case e: Exception =>
            System.err.println(s"[perfbench] op $name failed: $e")
            OpRecord(name, (System.nanoTime() - t0) / 1e9, ok = false,
              String.valueOf(e), Map.empty)
        }
      items += n
      ops += rec
      rec
    }

    def opId: Int = nextOp

    def span[T](name: String, tag: String = "")(f: => T): T =
      tracer.span(name, nextOp, tag)(f)
  }

  /** Span name to metric name: `a.b` -> `a.b_s`; `queries.exec.M` ->
    * `queries.M.exec_s`.
    */
  private def layerName(k: String): String =
    if (k.startsWith("queries.exec.")) s"queries.${k.stripPrefix("queries.exec.")}.exec_s"
    else k + "_s"
}

object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = opt.getOrElse(k, sys.error(s"missing --$k"))
    val cpus = need("cpus").toInt
    val workload = need("workload")
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .appName(s"perfbench-$workload")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.local.dir", need("work") + "/spark-local")
      .config("spark.sql.warehouse.dir", need("work") + "/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    System.err.println(f"[perfbench] session up ${(System.nanoTime() - t0) / 1e9}%.1f s")
    val ctx = new Ctx(spark, need("inputs"), need("work"), need("data"), cpus,
      need("units").toInt, need("trace") == "1", need("launch-epoch-ns").toLong)
    workload match {
      case "query_slice" => QuerySlice.run(ctx)
      case "doc_ingest" => DocIngest.run(ctx)
      case "file_batch" => FileBatch.run(ctx)
      case w => sys.error(s"unknown workload $w")
    }
    if (ctx.traced) writeTrace(ctx, need("trace-out"))
    val result = Map[String, Any](
      "workload" -> workload,
      "setup_s" -> ctx.setupSeconds,
      "peak_rss_mb" -> ctx.peakRssMb,
      "sections" -> ctx.sections.map(s => Map[String, Any](
        "traced" -> s.traced, "wall_s" -> s.wallS, "units" -> s.units,
        "items" -> s.items, "layers" -> s.layers,
        "ops" -> s.ops.map(o => Map[String, Any](
          "name" -> o.name, "s" -> o.seconds, "ok" -> o.ok,
          "error" -> o.error, "obs" -> o.obs)))),
      "observed" -> ctx.observed.toMap,
      "env" -> Map(
        "spark" -> spark.version,
        "jdk" -> System.getProperty("java.runtime.version"),
        "heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "cpus" -> cpus))
    spark.stop()
    Files.write(Paths.get(need("out")), Json(result).getBytes(UTF_8))
  }

  /** The JVM's resident-set high-water mark (VmHWM), in MiB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  /** Spans of the traced section as JSON lines: interval, self time,
    * and the Spark work whose tasks launched inside the interval
    * (overlapping spans each count it).
    */
  private def writeTrace(ctx: Ctx, path: String): Unit = ctx.traceOf.foreach { tr =>
    val spans = tr.spans
    val self = Tracer.selfSeconds(spans)
    val t0 = if (spans.isEmpty) 0L else spans.map(_.startNs).min
    val lines = spans.sortBy(_.startNs).map(s => Json(Map[String, Any](
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "op" -> s.op,
      "tag" -> s.tag, "start_s" -> (s.startNs - t0) / 1e9,
      "end_s" -> (s.endNs - t0) / 1e9, "self_s" -> self(s.id),
      "spark" -> ctx.counters.get.totals(tr.epochMs(s.startNs), tr.epochMs(s.endNs))
        .filter(_._2 != 0.0))))
    Files.write(Paths.get(path), lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }
}

/** Minimal JSON writer for maps, sequences, strings and numbers. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case s: String => quote(s)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
