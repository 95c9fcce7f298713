package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.RDDScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.{QueryRegistry, SparkEntry}

/** `query_mix`: registry queries over seeded tables, each timed with a
  * full-plan `toRdd.count()`, in turn until the window closes. It never
  * touches the sink or the streaming layer.
  */
final class QueryMix(ctx: Ctx) extends Workload(ctx) {
  private val tables = ctx.p("tables_dir").asText
  private val families: Seq[(String, Seq[String])] =
    ctx.p("families").fields().asScala.map(e => e.getKey -> e.getValue.asScala.map(_.asText).toSeq).toSeq
  private val names = families.flatMap(_._2)
  private val specs = names.map(QueryRegistry.byName)
  private val rows = mutable.Map.empty[String, Long]
  private val scans = new AdaptiveSparkPlanHelper {}

  /** One timed execution; a row count that differs from the first counts as
    * failed (the oracle check compares the first with the written result).
    */
  private def runOnce(spark: SparkSession, rec: Recorder, i: Int): Option[(Double, Long)] = {
    val spec = specs(i)
    val t0 = System.nanoTime()
    ctx.attempt(spec.name)(rec.span("query.run") {
      val df = spec.run(spark, tables)
      val n = df.queryExecution.toRdd.count()
      rec.addPhases(df.queryExecution)
      (n, scans.collectWithSubqueries(df.queryExecution.executedPlan) { case r: RDDScanExec => r }.size)
    }).flatMap { case (n, rddScans) =>
      val s = (System.nanoTime() - t0) / 1e9
      Main.log(f"${spec.name} $s%.2f s, $n rows")
      val want = rows.getOrElseUpdate(spec.name, n)
      if (ctx.check(s"${spec.name} rows", n == want, s"$n rows, first run had $want"))
        Some((s, rddScans.toLong))
      else None
    }
  }

  /** The tables are made before the JVM starts; a round is the session. */
  def prepare(spark: SparkSession, round: Int): Unit = ()

  /** A cold pass in which each query writes its result in the form the
    * oracle comparison reads: one parquet directory per query. It is the
    * warm-up: the timed executions that follow it are no slower than later
    * ones.
    */
  def warmup(spark: SparkSession, rec: Recorder): Unit = {
    val out = ctx.dir("results")
    for (spec <- specs) ctx.attempt(s"${spec.name} result") {
      val t0 = System.nanoTime()
      spec.run(spark, tables).coalesce(1).write.mode("overwrite").parquet(s"$out/${spec.name}")
      Main.log(f"${spec.name} result ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    ctx.extra("results_dir") = out
  }

  /** The queries in turn until the window closes, at least once each; a
    * query's sample is one run's time. In a traced run each turn runs the
    * query twice back to back, untraced and traced. A second run back to
    * back is often faster, so which goes first alternates from one query to
    * the next and from one pass over the queries to the next.
    */
  def measure(spark: SparkSession, rec: Recorder, ws: Windows, deadlineUs: Long): Unit = {
    var k = 0
    while (k < specs.size || rec.nowUs < deadlineUs) {
      val i = k % specs.size
      val order = if (!ws.trace) Seq(false) else if ((i + k / specs.size) % 2 == 0) Seq(false, true)
        else Seq(true, false)
      for (traced <- order) ws.run(traced) { w =>
        runOnce(spark, rec, i).foreach { case (s, rddScans) =>
          w.sample(specs(i).name, s)
          w.addLayer("materialize.rdd_scans", rddScans.toDouble)
        }
        w.ops += 1
      }
      k += 1
    }
  }

  /** Checkpoint bytes are read here: the listener that counts them sees
    * only traced runs, and all of their events have been delivered.
    */
  def finish(spark: SparkSession, rec: Recorder, ws: Windows): Unit = {
    ctx.extra("rows") = rows.toMap
    ctx.extra("oracle") = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    val w = ws.traced
    val n = math.max(1L, w.ops).toDouble
    w.layers("materialize.rdd_scans") = w.layers.getOrElse("materialize.rdd_scans", 0.0) / n
    w.layers("materialize.checkpoint_bytes") = rec.blockAdded / n
  }
}
