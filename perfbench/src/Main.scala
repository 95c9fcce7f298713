package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Samples and named values of the operations of one kind (untraced or
  * traced) in the measurement window, and the intervals they ran in.
  */
final class Window(val name: String) {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val values = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  var ops = 0L
  var gcMs = 0L

  def sample(item: String, v: Double): Unit =
    samples.getOrElseUpdate(item, mutable.ArrayBuffer.empty) += v
  def add(key: String, v: Double): Unit = values(key) = values.getOrElse(key, 0.0) + v
  def addLayer(key: String, v: Double): Unit = layers(key) = layers.getOrElse(key, 0.0) + v
  def wallS: Double = intervals.map { case (a, b) => b - a }.sum / 1e6

  def toMap: Map[String, Any] = Map(
    "ops" -> ops, "wall_s" -> wallS, "intervals" -> intervals.map { case (a, b) => Seq(a, b) }.toSeq,
    "samples" -> samples.map { case (k, v) => k -> v.toSeq }.toMap,
    "values" -> values.toMap)
}

/** The measurement window. An untraced run puts every operation in
  * `plain`. A traced run alternates operations between `plain` and
  * `traced`, so both kinds see the same position effects, and attaches the
  * tracing listeners only around the traced ones.
  */
final class Windows(rec: Recorder, val trace: Boolean) {
  val plain = new Window("plain")
  val traced = new Window("traced")

  /** Run one operation in `plain`, or traced in `traced`. A traced
    * operation's interval ends when the listeners have seen all its events.
    */
  def run[T](traceIt: Boolean)(body: Window => T): T =
    if (!traceIt) {
      val t0 = rec.nowUs
      try body(plain) finally plain.intervals += ((t0, rec.nowUs))
    } else {
      if (traced.ops == 0) rec.resetHeapPeak()
      rec.startTracing()
      val gc0 = rec.gcMs
      val t0 = rec.nowUs
      try body(traced)
      finally {
        rec.drain()
        traced.intervals += ((t0, rec.nowUs))
        traced.gcMs += rec.gcMs - gc0
        rec.stopTracing()
      }
    }
}

/** One workload: how to set it up, how to run it inside a window, and how
  * to check what it produced.
  */
abstract class Workload(val ctx: Ctx) {
  /** One set-up round on a fresh session: make the inputs. */
  def prepare(spark: SparkSession, round: Int): Unit
  /** Run each operation of the workload once, cold, before measuring. */
  def warmup(spark: SparkSession, rec: Recorder): Unit
  /** Run operations until `deadlineUs`, each through `ws.run`. */
  def measure(spark: SparkSession, rec: Recorder, ws: Windows, deadlineUs: Long): Unit
  /** After measuring: output checks and post-run work. */
  def finish(spark: SparkSession, rec: Recorder, ws: Windows): Unit
}

/** Arguments, parameters, failure accounting and the raw result file. */
final class Ctx(val workload: String, val seed: Long, val seconds: Double,
                val trace: Boolean, val work: String, val params: JsonNode) {
  val cores: Int = Runtime.getRuntime.availableProcessors
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  val extra = mutable.LinkedHashMap.empty[String, Any]

  def p(key: String): JsonNode = {
    val n = params.get(key)
    require(n != null, s"workload parameter '$key' missing")
    n
  }
  def pLong(key: String): Long = p(key).asLong
  def pDouble(key: String): Double = p(key).asDouble

  /** Count one checked operation; a false condition counts as failed. */
  def check(name: String, ok: Boolean, detail: => String = ""): Boolean = {
    attempted += 1
    if (!ok) { failed += 1; errors += s"$name: $detail" }
    ok
  }

  /** Run an operation that counts as failed if it throws. */
  def attempt[T](name: String)(body: => T): Option[T] =
    try Some(body)
    catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        attempted += 1; failed += 1
        errors += s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        None
    }

  def dir(name: String): String = {
    val d = Paths.get(work, name)
    Files.createDirectories(d)
    d.toString
  }
}

object Main {
  /** Fresh sessions with fresh inputs in set-up; `setup_s` takes their median. */
  val SetupRounds = 3

  private val t0 = System.nanoTime()
  def log(msg: String): Unit = System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%7.2f] $msg")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    val workload = opts("workload")
    val params = mapper.readTree(Files.readString(Paths.get(opts("params")))).get(workload)
    require(params != null, s"unknown workload '$workload'")
    val ctx = new Ctx(workload, opts("seed").toLong, opts("seconds").toDouble,
      opts("trace") == "1", opts("work"), params)
    val out = run(ctx)
    log("done")
    Files.writeString(Paths.get(opts("out")), mapper.writeValueAsString(out))
  }

  def newWorkload(ctx: Ctx): Workload = ctx.workload match {
    case "sink_stream" => new SinkStream(ctx)
    case "query_mix" => new QueryMix(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def run(ctx: Ctx): Map[String, Any] = {
    val wl = newWorkload(ctx)
    var spark: SparkSession = null
    val setupS = (1 to SetupRounds).map { r =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = graft.LocalSession(ctx.cores.toString)
      wl.prepare(spark, r)
      val s = (System.nanoTime() - t0) / 1e9
      log(f"setup round $r: $s%.2f s")
      s
    }
    val rec = new Recorder(spark)
    val t0 = System.nanoTime()
    ctx.attempt("warm-up")(wl.warmup(spark, rec))
    val warmupS = (System.nanoTime() - t0) / 1e9
    log(f"warm-up: $warmupS%.2f s")
    val ws = new Windows(rec, ctx.trace)
    ctx.attempt("measure")(wl.measure(spark, rec, ws, rec.nowUs + (ctx.seconds * 1e6).toLong))
    val layers = mutable.LinkedHashMap.empty[String, Double]
    if (ctx.trace) layers ++= Layers.generic(rec, ws.traced, ctx.cores)
    ctx.attempt("finish")(wl.finish(spark, rec, ws))
    if (ctx.trace) layers ++= ws.traced.layers
    rec.close()
    spark.stop()
    Map(
      "workload" -> ctx.workload, "seed" -> ctx.seed, "cores" -> ctx.cores,
      "setup_s" -> setupS, "warmup_s" -> warmupS,
      "windows" -> Map("plain" -> ws.plain.toMap, "traced" -> ws.traced.toMap),
      "attempted" -> ctx.attempted, "failed" -> ctx.failed, "errors" -> ctx.errors.toSeq,
      "layers" -> layers.toMap,
      "spans" -> (if (ctx.trace) (rec.spans.toSeq ++ rec.jobSpans).map(s => Map(
        "id" -> s.id, "parent" -> s.parent, "trace" -> s.trace, "name" -> s.name,
        "start" -> s.start, "end" -> s.end)) else Nil),
      "extra" -> ctx.extra.toMap)
  }
}

/** Directory helpers. */
object Dirs {
  def treeBytes(root: java.nio.file.Path): Long =
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.filter(p => Files.isRegularFile(p) && !p.getFileName.toString.endsWith(".crc"))
        .mapToLong(p => Files.size(p)).sum()
      finally s.close()
    }

  def deleteTree(root: java.nio.file.Path): Unit =
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally s.close()
    }
}

/** Per-layer values every workload reports from its traced operations. */
object Layers {
  /** Called right after the window, when every recorded job is one of a
    * traced operation's.
    */
  def generic(rec: Recorder, w: Window, cores: Int): Map[String, Double] = {
    val ops = math.max(1L, w.ops).toDouble
    val js = rec.jobs.values.asScala.toSeq
    val runMs = js.map(_.runMs).sum.toDouble
    Map(
      "exec.jobs" -> js.size / ops,
      "exec.stages" -> js.map(_.stages).sum / ops,
      "exec.tasks" -> js.map(_.tasks).sum / ops,
      "exec.shuffle_read_bytes" -> js.map(_.shuffleRead).sum / ops,
      "exec.shuffle_write_bytes" -> js.map(_.shuffleWrite).sum / ops,
      "exec.spill_bytes" -> js.map(_.spill).sum / ops,
      "exec.task_ms" -> runMs / ops,
      "exec.gc_ms" -> js.map(_.gcMs).sum / ops,
      "exec.busy_frac" -> runMs / math.max(1.0, w.wallS * 1000 * cores),
      "plan.analysis_ms" -> rec.phaseMs("analysis") / ops,
      "plan.optimization_ms" -> rec.phaseMs("optimization") / ops,
      "plan.planning_ms" -> rec.phaseMs("planning") / ops,
      "jvm.peak_heap_mb" -> rec.peakHeapMb,
      "jvm.gc_ms" -> w.gcMs / ops)
  }
}
