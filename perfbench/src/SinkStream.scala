package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.core.PipelineConfig
import graft.partition.HourlyPartitioner
import graft.sink.{Compaction, OffsetNamedSink, ParquetFormat}
import graft.sources.LandedFiles
import graft.streaming.ParityPipeline

/** `sink_stream`: a backlog of Kafka-shape parquet files drained through
  * `ParityPipeline.start` with `maxFilesPerTrigger=1`. Closed loop: the
  * next file is admitted only after the previous micro-batch commits. Each
  * batch spreads over many hour directories and rotation buckets, so it
  * lands many tiny files and the fixed cost per batch dominates. After the
  * drain the lake is compacted and read back.
  */
final class SinkStream(ctx: Ctx) extends Workload(ctx) {
  import SinkStream._

  private val perFile = ctx.pLong("records_per_file")
  private val files = ctx.pLong("backlog_files").toInt
  private val warmFiles = WarmupFiles
  private val cfg = PipelineConfig(flushSize = ctx.pLong("flush_size").toInt,
    rotateIntervalMs = ctx.pLong("rotate_interval_ms"))
  private val partitioner = HourlyPartitioner()
  private var root: Path = _
  private var query: StreamingQuery = _
  private var next = 0
  private val admitted = mutable.ArrayBuffer.empty[String]

  private def staged(i: Int): Path = {
    val d = Files.list(root.resolve("staging").resolve(s"file=$i"))
    try d.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get finally d.close()
  }

  /** Move backlog file `i` into the watched directory; a rename, so the
    * source never lists a half-written file.
    */
  private def admit(i: Int): String = {
    val to = src.resolve(f"batch-$i%05d.parquet")
    Files.move(staged(i), to)
    to.toString
  }

  private def src: Path = root.resolve("drain-src")
  private def lake: String = root.resolve("drain-lake").toString

  private def start(spark: SparkSession): StreamingQuery = {
    Files.createDirectories(src)
    ParityPipeline.start(
      spark.readStream.schema(KafkaSchema).option("maxFilesPerTrigger", 1).parquet(src.toString),
      cfg, partitioner, ParquetFormat(), lake, root.resolve("drain-checkpoint").toString, lit(null),
      queryName = "perfbench-drain")
  }

  def prepare(spark: SparkSession, round: Int): Unit = {
    Dirs.deleteTree(Paths.get(ctx.work))
    root = Paths.get(ctx.dir(s"round-$round"))
    backlog(spark, ctx, warmFiles + files, perFile).write.partitionBy("file")
      .parquet(root.resolve("staging").toString)
  }

  /** Start the drain and run its first batches, one file each. A new
    * query's first batches are markedly slower than the rest even after a
    * separate warm-up stream, so the warm-up runs on the measured query.
    */
  def warmup(spark: SparkSession, rec: Recorder): Unit = {
    query = start(spark)
    for (_ <- 0 until warmFiles) {
      admitted += admit(next)
      next += 1
      val p = awaitBatch(rec)
      Main.log(s"warm-up batch ${p.batchId}: ${p.durationMs.get("triggerExecution")} ms")
    }
  }

  /** One micro-batch per operation until the window closes or the backlog
    * is drained; a traced run traces every second batch.
    */
  def measure(spark: SparkSession, rec: Recorder, ws: Windows, deadlineUs: Long): Unit = {
    var k = 0
    while (rec.nowUs < deadlineUs && next < warmFiles + files) {
      ws.run(ws.trace && k % 2 == 1)(w => batch(spark, rec, w))
      k += 1
    }
  }

  private def batch(spark: SparkSession, rec: Recorder, w: Window): Unit = {
    val fs0 = rec.fsBytesWritten
    val block0 = rec.rddBlockBytes
    rec.resetBlockPeak()
    val file = admit(next)
    admitted += file
    next += 1
    val p = awaitBatch(rec)
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    val trig = d.getOrElse("triggerExecution", 0L)
    w.ops += 1
    w.sample("batch", trig / 1000.0)
    Main.log(s"batch ${p.batchId}: $trig ms, ${p.numInputRows} rows, $d")
    w.add("records", p.numInputRows.toDouble)
    if (rec.tracing) {
      val fs1 = rec.fsBytesWritten
      w.addLayer("sink.fs_bytes_written", (fs1 - fs0).toDouble)
      w.addLayer("sink.cached_bytes", (rec.blockPeak - block0).toDouble)
      val start = rec.epochMsToUs(java.time.Instant.parse(p.timestamp).toEpochMilli)
      val id = rec.addSpan("stream.batch", start, start + trig * 1000)
      rec.batchSpans.put(p.batchId, (id, start, start + (trig - d.getOrElse("commitOffsets", 0L)) * 1000))
      w.addLayer("streaming.source_ms", d.getOrElse("latestOffset", 0L) + d.getOrElse("getBatch", 0L))
      w.addLayer("streaming.query_planning_ms", d.getOrElse("queryPlanning", 0L).toDouble)
      w.addLayer("streaming.wal_ms", d.getOrElse("walCommit", 0L) + d.getOrElse("commitOffsets", 0L))
      w.addLayer("streaming.add_batch_ms", d.getOrElse("addBatch", 0L).toDouble)
      val groups = OffsetNamedSink.withFileGroups(spark.read.schema(KafkaSchema).parquet(file),
        cfg, partitioner, extension = ParquetFormat().extension)
      val t0 = rec.nowUs
      rec.span("sink.group")(groups.write.format("noop").mode("overwrite").save())
      w.addLayer("sink.group_ms", (rec.nowUs - t0) / 1000.0)
    }
  }

  /** The next progress event of a batch that read rows. */
  private def awaitBatch(rec: Recorder): org.apache.spark.sql.streaming.StreamingQueryProgress = {
    val limit = System.nanoTime() + 120L * 1000000000L
    while (System.nanoTime() < limit) {
      val e = rec.progress.poll(100, java.util.concurrent.TimeUnit.MILLISECONDS)
      if (e != null && e.progress.numInputRows > 0) return e.progress
      query.exception.foreach(ex => throw ex)
    }
    throw new java.util.concurrent.TimeoutException("no micro-batch within 120 s")
  }

  /** The lake holds the records of every batch, untraced and traced. */
  def finish(spark: SparkSession, rec: Recorder, ws: Windows): Unit = {
    query.stop()
    val landedFiles = countFiles(Paths.get(lake, cfg.topicsDir))
    ws.plain.values("landed_bytes") = Dirs.treeBytes(Paths.get(lake, cfg.topicsDir)).toDouble
    val expected = spark.read.schema(KafkaSchema).parquet(admitted.toSeq: _*)
      .agg(count(lit(1)), recordSum(col("topic"), col("partition")),
        sum(octet_length(col("value")))).head()
    ws.plain.values("input_bytes") = expected.getLong(2).toDouble
    def readback(): (Long, Long, Long) = {
      val r = LandedFiles.readParquet(spark, lake)
        .agg(count(lit(1)), count_distinct(col("_topic"), col("_kafka_partition"), col("offset")),
          recordSum(col("_topic"), col("_kafka_partition"))).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    def same(stage: String, got: (Long, Long, Long)): Unit =
      ctx.check(s"lake $stage", got == ((expected.getLong(0), expected.getLong(0), expected.getLong(1))),
        s"readback (records, distinct keys, checksum) $got, expected " +
          s"(${expected.getLong(0)}, ${expected.getLong(0)}, ${expected.getLong(1)})")
    same("before compaction", readback())
    Main.log(s"checked lake: $landedFiles files")

    if (ctx.trace) batchLayers(rec, ws.traced, ctx.cores)
    // compaction and readback run once, traced in a traced run
    def compactAndRead(w: Window): Unit = {
      val fs0 = rec.fsBytesWritten
      val t0 = rec.nowUs
      val res = rec.span("compaction")(Compaction.compactParquet(spark, lake,
        cfg.copy(flushSize = ctx.pLong("compact_flush_size").toInt, rotateIntervalMs = -1L),
        partitioner, Seq("topic", "partition", "offset", "timestamp", "key", "value")))
      val t1 = rec.nowUs
      val fs1 = rec.fsBytesWritten
      val after = rec.span("sources.readback")(readback())
      val t2 = rec.nowUs
      same("after compaction", after)
      Main.log(f"compaction ${(t1 - t0) / 1e6}%.2f s, readback ${(t2 - t1) / 1e6}%.2f s")
      ws.plain.values("compact_s") = (t2 - t0) / 1e6
      w.layers("compaction.ms") = (t1 - t0) / 1000.0
      w.layers("compaction.files_in") = landedFiles.toDouble
      w.layers("compaction.files_out") = res.batch.files.size.toDouble
      w.layers("compaction.bytes_rewritten") = (fs1 - fs0).toDouble
      w.layers("sources.readback_ms") = (t2 - t1) / 1000.0
      w.layers("sources.records") = after._1.toDouble
      w.layers("sink.files") = landedFiles.toDouble / admitted.size
    }
    if (ctx.trace) ws.run(traceIt = true)(compactAndRead) else compactAndRead(ws.plain)
  }

  /** Sink and streaming layer values per traced micro-batch. */
  private def batchLayers(rec: Recorder, w: Window, cores: Int): Unit = {
    val n = math.max(1L, w.ops).toDouble
    for (k <- Seq("streaming.source_ms", "streaming.query_planning_ms", "streaming.wal_ms",
      "streaming.add_batch_ms", "sink.group_ms", "sink.fs_bytes_written",
      "sink.cached_bytes"))
      w.layers(k) = w.layers.getOrElse(k, 0.0) / n
    val byBatch = rec.jobs.values.asScala.filter(_.batchId >= 0).groupBy(_.batchId)
    var jobs, stages, tasks, post, writeJob, run, busy, skew = 0.0
    for ((b, (_, start, addBatchEnd)) <- rec.batchSpans.asScala) {
      val js = byBatch.getOrElse(b, Nil).toSeq
      jobs += js.size
      stages += js.map(_.stages).sum
      tasks += js.map(_.tasks).sum
      if (js.nonEmpty) {
        // the job that did most of the work is the one that wrote the data
        val heavy = js.maxBy(_.runMs)
        post += (addBatchEnd - heavy.end) / 1000.0
        writeJob += (heavy.end - heavy.start) / 1000.0
        val r = js.map(_.runMs).sum.toDouble
        run += r
        busy += r / math.max(1.0, (addBatchEnd - start) / 1000.0 * cores)
        val stage = heavy.taskMs.values.maxBy(_.sum).sorted
        skew += stage.last.toDouble / math.max(1L, stage(stage.size / 2))
      }
    }
    w.layers("streaming.jobs_per_batch") = jobs / n
    w.layers("streaming.stages_per_batch") = stages / n
    w.layers("streaming.tasks_per_batch") = tasks / n
    // every job of a batch runs inside the sink's foreachBatch call
    w.layers("sink.jobs_per_call") = jobs / n
    w.layers("sink.post_write_ms") = post / n
    w.layers("sink.write_job_ms") = writeJob / n
    w.layers("sink.task_ms") = run / n
    w.layers("sink.busy_frac") = busy / n
    w.layers("sink.task_skew") = skew / n
  }
}

object SinkStream {
  /** Batches the drain runs before measuring: a new query's batches keep
    * getting faster for its first dozen or so batches.
    */
  val WarmupFiles = 12

  val KafkaSchema: StructType = StructType(Seq(
    StructField("topic", StringType), StructField("partition", IntegerType),
    StructField("offset", LongType), StructField("timestamp", TimestampType),
    StructField("key", BinaryType), StructField("value", BinaryType)))

  private def recordSum(topic: Column, partition: Column): Column =
    coalesce(Gen.checksum(topic, partition, col("offset"), col("timestamp"), col("key"), col("value")),
      lit(0L))

  private def countFiles(root: Path): Long =
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet")).count()
      finally s.close()
    }

  /** `files` × `perFile` Kafka records with a `file` column. File `k`'s
    * event times sit near hour `k` from a day's start, so every batch has
    * the same shape; a share of them arrive late by up to `max_lateness_ms`,
    * so batches overlap in event time and land out of order.
    */
  def backlog(spark: SparkSession, ctx: Ctx, files: Int, perFile: Long): DataFrame = {
    val seed = ctx.seed * 1000003L + 7L
    val day0 = 1700000000000L / 86400000L * 86400000L
    val k = floor(col("id") / perFile)
    val base = lit(day0) + k * lit(3600000L)
    val lateness = when(Gen.uniform(seed, "late") < ctx.pDouble("late_share"),
      Gen.uniform(seed, "lateness") * ctx.pLong("max_lateness_ms"))
      .otherwise(Gen.uniform(seed, "jitter") * ctx.pLong("jitter_ms"))
    val ts = greatest(lit(day0), base - lateness.cast("long"))
    Gen.records(spark, seed, files * perFile, ctx.pLong("kafka_partitions").toInt,
      ctx.pDouble("partition_zipf_s"), ctx.pLong("payload_min_bytes").toInt,
      ctx.pLong("payload_max_bytes").toInt, "stream")
      .select(col("topic"), col("partition"), col("offset"), timestamp_millis(ts).as("timestamp"),
        encode(concat(lit("user-"), pmod(xxhash64(lit(seed), lit("key"), col("id")), lit(1000L))),
          "UTF-8").as("key"),
        encode(col("body"), "UTF-8").as("value"), k.cast("int").as("file"))
      .repartition(col("file"))
  }
}
