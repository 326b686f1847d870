package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, its arguments, the trace
  * (traced runs only) and the set-up clock.
  */
final class Ctx(val spark: SparkSession, val args: Args, val trace: Option[Trace]) {
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

  /** Mark the end of set-up: call right before the first timed
    * operation. Returns set-up seconds since JVM start.
    */
  def setupDone(): Double = (System.currentTimeMillis() - jvmStartMs) / 1000.0

  /** Start of the timed window: snapshots of the JVM-wide counters the
    * per-layer metrics difference against.
    */
  def openWindow(): Window = {
    Trace.resetHeapPeaks()
    val (r, w) = Trace.fsBytes()
    Window(System.currentTimeMillis(), Trace.gcMs(), r, w)
  }
}

final case class Window(t0: Long, gc0: Long, read0: Long, written0: Long) {
  /** Window-wide layer metrics shared by every workload. */
  def close(ctx: Ctx): (Map[String, Double], Long, Long) = {
    val t1 = System.currentTimeMillis()
    val (r, w) = Trace.fsBytes()
    val gc = Trace.gcMs() - gc0
    val heap = Trace.heapPeakMb()
    val busy = ctx.trace.map { t =>
      t.fence()
      t.busyMsBetween(t0, t1).toDouble / (math.max(1L, t1 - t0) * ctx.args.cores)
    }.getOrElse(0.0)
    (Map("spark.task_busy_share" -> busy, "jvm.gc_ms" -> gc.toDouble,
      "jvm.heap_peak_mb" -> heap), r - read0, w - written0)
  }
}

object Metrics {
  val E2E: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "rec_per_s" -> "1/s", "op_ms_p50" -> "ms", "op_ms_tail" -> "ms")

  val TextSet = Seq("d10_substring_dedup", "t24_trigram_backoff")
  val SimSet = Seq("e1_cosine_topk", "e4_pq_topk", "e8_kmeans")

  /** Every per-layer metric, in report order. A workload reports all of
    * them; a layer it does not exercise reads 0.
    */
  val Layers: Seq[(String, String)] = Seq(
    "flush.wall_ms_mean" -> "ms",
    "flush.accounted_share" -> "ratio",
    "streaming.jobs_per_flush" -> "count",
    "streaming.engine_ms_p50" -> "ms",
    "streaming.job_ms_per_flush" -> "ms",
    "wh.job_ms_per_flush" -> "ms",
    "wh.driver_ms_per_flush" -> "ms",
    "wh.fs_bytes_written_per_record" -> "B",
    "wh.fs_bytes_read_per_record" -> "B",
    "wh.rows_written_per_record" -> "ratio",
    "wh.files_written_per_flush" -> "count",
    "wh.table_mb" -> "MB",
    "llm.text_set_s" -> "s",
    "llm.sim_set_s" -> "s") ++
    Trace.Modules.map(m => s"time.${m}_ms_per_op" -> "ms") ++
    (TextSet ++ SimSet).flatMap(q => Seq(
      s"llm.${q}_s" -> "s",
      s"llm.$q.shuffle_mb" -> "MB",
      s"llm.$q.input_mb" -> "MB",
      s"llm.$q.spill_mb" -> "MB",
      s"llm.$q.jobs" -> "count")) ++ Seq(
    "spark.task_busy_share" -> "ratio",
    "jvm.gc_ms" -> "ms",
    "jvm.heap_peak_mb" -> "MB")

  def e2e(values: Map[String, Double]): Seq[Metric] = E2E.map { case (n, u) =>
    Metric(n, values.getOrElse(n, throw new IllegalStateException(s"no value for $n")), u)
  }

  def layers(values: Map[String, Double]): Seq[Metric] = {
    val unknown = values.keySet -- Layers.map(_._1)
    require(unknown.isEmpty, s"undeclared layer metrics: $unknown")
    Layers.map { case (n, u) => Metric(n, values.getOrElse(n, 0.0), u) }
  }
}

object Main {
  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val local = Paths.get(a.runDir, "spark-local").toString
    Files.createDirectories(Paths.get(local))
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", local)
      .config("spark.sql.warehouse.dir", Paths.get(a.runDir, "spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val trace = if (a.trace) Some(new Trace(spark)) else None
    val ctx = new Ctx(spark, a, trace)
    val res =
      try a.workload match {
        case "upsert_stream" => UpsertStream.run(ctx)
        case "curation_1x" => Curation.run(ctx)
        case "selftest" => SelfTest.run(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      } finally trace.foreach(_.close())
    val conf = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.") || k == "spark.master" || k == "spark.local.dir"
    }
    val out = Map(
      "correct" -> res.correct,
      "attempted" -> res.attempted,
      "failed" -> res.failed,
      "e2e" -> res.e2e.map(m => m.name -> Map("value" -> m.value, "unit" -> m.unit)).toMap,
      "layers" -> res.layers.map(m => m.name -> Map("value" -> m.value, "unit" -> m.unit)).toMap,
      "info" -> (res.info ++ Map(
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1e6,
        "spark_version" -> spark.version,
        "spark_conf" -> conf)))
    spark.stop()
    Files.writeString(Paths.get(a.out), Json.render(out))
    ()
  }
}
