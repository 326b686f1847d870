package perfbench

import java.time.{Instant, ZoneOffset}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.sources.WarehouseTable
import graft.streaming.{GraftSinkConfig, MergePipeline}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One upsert/delete record as a Kafka producer would frame it. */
final case class UpsertRec(k1: Long, part: Int, off: Long, ts: java.sql.Timestamp,
    tomb: Boolean, f1: String, f2: Long, f3: Double)

/** Seeded record source shared by the upsert workload and the self-test.
  *
  * The key space is bounded and skewed the way entity updates are:
  * initial key `k` was first seen `createdBack(k)` days before the base
  * day (ids grow with recency, 31 days in all), and most records update
  * keys first seen in the last few days. Every batch has the same day
  * profile (`UpdateDays`), so every flush touches the same number of day
  * partitions: five recent days plus one late day drawn from the rest of
  * the span. 10% of each batch are new keys; about 25% of all records
  * are tombstones. A record's event time falls on the day of the key it
  * touches. `partition = hash(key) % P`, so per-key arrival order is
  * offset order inside one Kafka partition. The first batch inserts
  * every initial key once.
  */
final class UpsertGen(seed: Long, val keys: Int) {
  import UpsertGen._
  private val offsets = Array.fill(Parts)(0L)
  private var seq = 0L
  private var nextKey = keys.toLong

  private def createdBack(k: Long): Int = Days - 1 - (k * Days / keys).toInt

  /** [first, last] initial key first seen `d` days back. */
  private val dayKeys: Array[(Long, Long)] = (0 until Days).map { d =>
    val ks = (0L until keys.toLong).filter(k => createdBack(k) == d)
    (ks.head, ks.last)
  }.toArray

  private def make(r: scala.util.Random, k: Long, daysBack: Int, tomb: Boolean): UpsertRec = {
    val part = Math.floorMod(java.lang.Long.hashCode(k * 0x9E3779B97F4A7C15L), Parts)
    val off = offsets(part); offsets(part) += 1
    val ts = BaseMs - daysBack * DayMs + (r.nextDouble() * (DayMs - 1)).toLong
    val f1 = r.alphanumeric.take(8 + r.nextInt(24)).mkString
    val rec = UpsertRec(k, part, off, new java.sql.Timestamp(ts), tomb, f1, seq, r.nextDouble())
    seq += 1
    rec
  }

  def initial(): Seq[UpsertRec] = {
    val r = new scala.util.Random(seed * 7919L)
    (0 until keys).map(k => make(r, k.toLong, createdBack(k.toLong), tomb = false))
  }

  /** A batch of `size` records in arrival order (shuffled). */
  def batch(n: Int, size: Int): Seq[UpsertRec] = {
    val r = new scala.util.Random(seed * 1000003L + n)
    val scale = size / UpdateDays.sum.toDouble / 1.1
    val updates = UpdateDays.zipWithIndex.flatMap { case (c, d) =>
      Seq.fill(math.max(1, math.round(c * scale).toInt))(d)
    } :+ (UpdateDays.size + r.nextInt(Days - UpdateDays.size))
    val fresh = size - updates.size
    r.shuffle(updates.map(Some(_)) ++ Seq.fill(fresh)(None)).map {
      case Some(d) =>
        val (lo, hi) = dayKeys(d)
        make(r, lo + r.nextLong(hi - lo + 1), d, tomb = r.nextDouble() < 0.28)
      case None =>
        val k = nextKey
        nextKey += 1
        make(r, k, 0, tomb = false)
    }
  }
}

object UpsertGen {
  val Parts = 8
  val Days = 31
  /** Relative update counts per day back, newest first. */
  val UpdateDays: Seq[Int] = Seq(300, 100, 35, 10, 4)
  val DayMs: Long = 86400000L
  val BaseMs: Long = Instant.parse("2024-03-30T00:00:00Z").toEpochMilli

  def day(ts: java.sql.Timestamp): String =
    Instant.ofEpochMilli(ts.getTime).atOffset(ZoneOffset.UTC).toLocalDate.toString

  def kafkaShape(df: DataFrame): DataFrame = df.select(
    lit("t").as("topic"), col("part").as("partition"), col("off").as("offset"),
    col("ts").as("timestamp"), col("k1"),
    when(!col("tomb"), struct(col("f1"), col("f2"), col("f3"))).as("value"))
}

/** Last-write-wins model of the merged table, batch by batch, with the
  * sink's MERGE semantics: a batch keeps each key's last record; a
  * tombstone deletes; a matched key is updated in place (it keeps its
  * day partition); an unmatched key is inserted into its record's day.
  */
final class LwwModel {
  private val rows = mutable.HashMap.empty[Long, (String, String, Long, Double)]

  def apply(batch: Seq[UpsertRec]): Unit = {
    val last = mutable.LinkedHashMap.empty[Long, UpsertRec]
    batch.foreach(r => last.put(r.k1, r))
    last.valuesIterator.foreach { r =>
      if (r.tomb) rows.remove(r.k1)
      else rows.get(r.k1) match {
        case Some((d, _, _, _)) => rows.put(r.k1, (d, r.f1, r.f2, r.f3))
        case None => rows.put(r.k1, (UpsertGen.day(r.ts), r.f1, r.f2, r.f3))
      }
    }
  }

  def size: Int = rows.size

  def toDF(spark: SparkSession): DataFrame = {
    val schema = StructType(Seq(StructField("k1", LongType), StructField("f1", StringType),
      StructField("f2", LongType), StructField("f3", DoubleType), StructField("_pday", StringType)))
    val data = rows.toSeq.map { case (k, (d, f1, f2, f3)) => Row(k, f1, f2, f3, d) }
    spark.createDataFrame(spark.sparkContext.parallelize(data, 4), schema)
  }
}

/** Workload `upsert_stream`: the reference's contract. Closed loop, one
  * client on the driver thread: add one micro-batch to a MemoryStream
  * feeding `MergePipeline.writer`, wait until it is committed, repeat.
  */
object UpsertStream {
  val Keys = 100000
  /** A flush costs about the same at 500 records as at 20,000 (per-day
    * driver work dominates), so flushes are large enough for the
    * records to matter.
    */
  val FlushRecords = 20000
  /** On a fresh JVM flushes keep getting faster (JIT); after the seeding
    * flush and four more, they are within ~10% of their settled time.
    */
  val WarmFlushes = 4
  /** `--seconds` per 16 timed flushes (one `bloomRebuildEvery` cycle)
    * on 4 cores; the timed window always covers whole cycles, so every
    * run pays the same number of bloom rebuilds.
    */
  val SecondsPerCycle = 30.0
  val TailPct = 0.75

  def timedFlushes(seconds: Int): Int =
    16 * math.max(1, math.round(seconds / SecondsPerCycle).toInt)

  /** The table as the model says it must be vs as read back: rows only
    * in one of them, counted both ways.
    */
  def mismatches(actual: DataFrame, expected: DataFrame): Long = {
    val a = actual.select("k1", "f1", "f2", "f3", "_pday")
    val e = expected.select("k1", "f1", "f2", "f3", "_pday")
    a.exceptAll(e).count() + e.exceptAll(a).count()
  }

  final class Stream(spark: SparkSession, runDir: String) {
    private val sps = spark
    import sps.implicits._
    val input: MemoryStream[UpsertRec] = MemoryStream[UpsertRec](spark)
    val warehouse = s"$runDir/warehouse"
    val root = s"$warehouse/default/t"
    private val config = GraftSinkConfig(
      upsertEnabled = true, deleteEnabled = true, kafkaKeyFieldName = Some("k1"),
      mergeIntervalMs = -1L, mergeRecordsThreshold = 10000000L)
    val query = MergePipeline.writer(UpsertGen.kafkaShape(input.toDF()), config, Seq("k1"),
      s"$runDir/checkpoint", t => s"$warehouse/${t.dataset}/${t.table}").start()

    /** Add one batch and wait until it is committed; returns ns. */
    def flush(recs: Seq[UpsertRec]): Long = {
      val t0 = System.nanoTime()
      input.addData(recs)
      query.processAllAvailable()
      System.nanoTime() - t0
    }

    def stop(): Unit = query.stop()

    /** The engine thread that runs each micro-batch's `foreachBatch`. */
    def thread: Thread = Thread.getAllStackTraces.keySet.asScala
      .find(_.getName.startsWith("stream execution thread for")).get
  }

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val a = ctx.args
    val ledger = new Ledger
    val gen = new UpsertGen(a.seed, Keys)
    val model = new LwwModel
    val timed = timedFlushes(a.seconds)
    val s = new Stream(spark, a.runDir)
    try {
      // set-up: seed every key, then warm-up flushes (JIT, codegen)
      val first = gen.initial()
      model(first)
      Log(s"seed flush ${Stats.nanosToMs(s.flush(first))} ms")
      (1 to WarmFlushes).foreach { n =>
        val b = gen.batch(n, FlushRecords); model(b)
        Log(s"warm flush $n ${Stats.nanosToMs(s.flush(b))} ms")
      }
      val setupS = ctx.setupDone()
      ctx.trace.foreach(_.sample(s.thread))
      val win = ctx.openWindow()
      val lat = mutable.ArrayBuffer.empty[Double]
      val spans = mutable.ArrayBuffer.empty[(Long, Long, Long, Int)] // batch, e0, e1, files
      var dead = false
      val first0 = WarmFlushes + 1
      (first0 until first0 + timed).foreach { n =>
        val b = gen.batch(n, FlushRecords)
        model(b)
        if (!dead) {
          val before = if (ctx.trace.isDefined) Fs.liveDataFiles(s.root) else Set.empty[String]
          val e0 = System.currentTimeMillis()
          ledger.attempt(s"flush $n")(s.flush(b)) match {
            case Some(ns) =>
              val e1 = System.currentTimeMillis()
              lat += Stats.nanosToMs(ns)
              Log(s"flush $n ${lat.last} ms")
              val files =
                if (ctx.trace.isDefined) (Fs.liveDataFiles(s.root) -- before).size else 0
              spans += ((n.toLong, e0, e1, files))
            case None => dead = true
          }
        } else ledger.attempt(s"flush $n")(throw new IllegalStateException("query is dead"))
      }
      val (common, fsRead, fsWritten) = win.close(ctx)
      val timedRecords = spans.size.toLong * FlushRecords
      val totalS = lat.sum / 1000.0
      s.stop()

      // correctness gate (outside the timed window)
      val table = WarehouseTable.open(spark, s.root)
      ledger.attempt("last-write-wins gate")(mismatches(table.read(), model.toDF(spark)))
        .filter(_ != 0L).foreach(bad => ledger.fail(s"last-write-wins gate: $bad rows differ"))

      val layers = ctx.trace.map { t =>
        t.stopSampling()
        t.awaitProgress(spans.map(_._1).toSeq)
        val ops = spans.toSeq.map { case (b, e0, e1, files) =>
          Trace.OpSpan(e0, e1, t.jobsOfBatch(b), files)
        }
        val engine = spans.toSeq.flatMap { case (b, _, _, _) => t.progressOf(b) }.map { p =>
          val d = p.durationMs
          (d.getOrDefault("triggerExecution", 0L) - d.getOrDefault("addBatch", 0L)).toDouble
        }
        common ++ t.writeLayers(ops, timedRecords) ++ Map(
          "streaming.engine_ms_p50" -> (if (engine.isEmpty) 0.0 else Stats.median(engine)),
          "wh.fs_bytes_written_per_record" -> fsWritten.toDouble / timedRecords,
          "wh.fs_bytes_read_per_record" -> fsRead.toDouble / timedRecords,
          "wh.table_mb" -> Fs.bytesUnder(s.root) / 1e6)
      }.getOrElse(Map.empty[String, Double])

      Result(
        correct = ledger.failed == 0,
        attempted = ledger.attempted,
        failed = ledger.failed,
        e2e = Metrics.e2e(Map(
          "setup_s" -> setupS,
          "rec_per_s" -> timedRecords / totalS,
          "op_ms_p50" -> Stats.median(lat.toSeq),
          "op_ms_tail" -> Stats.pct(lat.toSeq, TailPct))),
        layers = Metrics.layers(layers),
        info = Map(
          "keys" -> Keys, "flush_records" -> FlushRecords, "warm_flushes" -> WarmFlushes,
          "timed_flushes" -> lat.size, "tail_percentile" -> TailPct,
          "tail_samples_beyond" -> Stats.beyond(lat.size, TailPct),
          "table_rows" -> model.size, "table_mb" -> Fs.bytesUnder(s.root) / 1e6,
          "errors" -> ledger.errors.toSeq))
    } finally {
      if (s.query.isActive) s.stop()
    }
  }
}
