package graft

import graft.sources.{GraftFileIndex, WarehouseTable}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** `spark.read.format("graft")` — the connector that makes the
  * warehouse consumable by standard tools. Pins:
  *
  *  - current reads equal the programmatic [[WarehouseTable.read]]
  *    (committed files only — uncommitted junk invisible);
  *  - `versionAsOf` / `timestampAsOf` equal [[WarehouseTable.readAsOf]]
  *    across merges that archived the replaced generations, including
  *    a FILE-granular DML history where one day's as-of generation
  *    spans an archive dir and the live dir;
  *  - plain-SQL access through a temp view (`USING graft`);
  *  - partition pruning, parquet filter/projection pushdown and
  *    zone-map day skipping all engage through the stock file-source
  *    planner (FileSourceScanExec metrics + explain audit — the 100 TB
  *    scan-bounding proofs, now via the connector).
  */
class GraftDataSourceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private val destSchema = StructType(Seq(
    StructField("k1", LongType),
    StructField("f1", StringType)))

  private def tmpRoot(): String =
    Files.createTempDirectory("graft-dsv").toString + "/tbl"

  private def ts(day: Int) = to_timestamp(lit(f"2024-01-$day%02d 12:00:00"))

  private def batch(rows: Seq[(Long, String)], day: Int): DataFrame =
    rows.toDF("k1", "f1").withColumn("partitionTime", ts(day))

  private def asPairs(df: DataFrame): Set[(Long, String, String)] =
    df.select($"k1", $"f1", $"_pday".cast("string"))
      .as[(Long, String, String)].collect().toSet

  /** Seeded table: v1 = 2 days of appends, v2 = merge updating one key
    * (archives the replaced generation of day 1).
    */
  private def seeded(): (String, WarehouseTable) = {
    val root = tmpRoot()
    val t = WarehouseTable.create(spark, root, Seq("k1"), destSchema)
    t.append(batch(Seq(1L -> "a", 2L -> "b"), day = 1))
    t.append(batch(Seq(3L -> "c"), day = 2))
    t.merge(Seq((2L, Some("b2"), 10L, 1)).toDF("k", "v", "i", "day").select(
      struct($"k".as("k1")).as("key"),
      struct($"v".as("f1")).as("value"),
      $"i".as("i"),
      to_timestamp(lit("2024-01-01 13:00:00")).as("partitionTime")))
    (root, t)
  }

  test("format(\"graft\") current read equals the programmatic read, " +
      "and ignores landed-but-uncommitted files") {
    val (root, t) = seeded()
    val programmatic = asPairs(t.read())
    // junk a concurrent writer landed but never committed — the
    // connector's manifest-exact listing never sees it (the
    // directory-based read() would choke on it, which is exactly why
    // the manifest is the source of truth)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val junk = new org.apache.hadoop.fs.Path(
      s"$root/data/_pday=2024-01-01/part-uncommitted.parquet")
    val o = fs.create(junk); o.write("junk".getBytes("UTF-8")); o.close()
    val viaConnector = spark.read.format("graft").load(root)
    assert(asPairs(viaConnector) ==
      Set((1L, "a", "2024-01-01"), (2L, "b2", "2024-01-01"),
        (3L, "c", "2024-01-02")))
    assert(asPairs(viaConnector) == programmatic)
    fs.delete(junk, false)
  }

  test("versionAsOf time travel equals readAsOf across an archived merge") {
    val (root, t) = seeded()
    val v1 = spark.read.format("graft").option("versionAsOf", "2").load(root)
    assert(asPairs(v1) == asPairs(t.readAsOf(2)))
    val pre = spark.read.format("graft").option("versionAsOf", "1").load(root)
    assert(asPairs(pre) ==
      Set((1L, "a", "2024-01-01"), (2L, "b", "2024-01-01")))
    assert(asPairs(pre) == asPairs(t.readAsOf(1)))
  }

  test("versionAsOf resolves a FILE-granular DML history: one day's as-of " +
      "generation spans the archive and the live dir") {
    val root = tmpRoot()
    val t = WarehouseTable.create(spark, root, Seq("k1"), destSchema)
    (1 to 4).foreach(i => t.append(batch(Seq(i.toLong -> s"v$i"), day = 1)))
    val vBefore = t.currentVersion
    // file-granular delete: ONLY the file holding k1=2 rewrites; the
    // other three files of the day carry forward live
    t.deleteWhere($"k1" === 2L)
    val asOf = spark.read.format("graft")
      .option("versionAsOf", vBefore.toString).load(root)
    assert(asPairs(asOf) == (1 to 4).map(i =>
      (i.toLong, s"v$i", "2024-01-01")).toSet)
    assert(asPairs(spark.read.format("graft").load(root)) ==
      Set((1L, "v1", "2024-01-01"), (3L, "v3", "2024-01-01"),
        (4L, "v4", "2024-01-01")))
  }

  test("timestampAsOf picks the newest snapshot at or before the instant") {
    val (root, t) = seeded()
    val commitTs = t.history().find(_._1 == 2L).get._3
    val df = spark.read.format("graft")
      .option("timestampAsOf", commitTs.toString).load(root)
    assert(asPairs(df) == asPairs(t.readAsOf(2)))
    intercept[IllegalArgumentException] {
      spark.read.format("graft").option("timestampAsOf", "12").load(root)
    }
  }

  test("plain SQL through a temp view (USING graft), with time travel") {
    val (root, _) = seeded()
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW g_cur USING graft " +
      s"OPTIONS (path '$root')")
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW g_v1 USING graft " +
      s"OPTIONS (path '$root', versionAsOf '1')")
    assert(spark.sql("SELECT f1 FROM g_cur WHERE k1 = 2").as[String].head() == "b2")
    assert(spark.sql("SELECT f1 FROM g_v1 WHERE k1 = 2").as[String].head() == "b")
    assert(spark.sql("SELECT count(*) FROM g_cur").as[Long].head() == 3L)
  }

  test("partition pruning reaches the connector's file index: a _pday " +
      "filter scans only that day's files") {
    val (root, _) = seeded()
    val df = spark.read.format("graft").load(root)
      .where($"_pday" === "2024-01-02")
    val (rows, totals) = ScanMetrics.selectedByQueries(spark) { df.collect() }
    assert(rows.map(_.getLong(0)).toSet == Set(3L))
    assert(totals.numFiles == 1L,
      s"partition pruning did not bound the scan: ${totals.numFiles} files")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters:") && plan.contains("_pday"),
      s"no partition filter in the scan:\n$plan")
  }

  test("parquet filter + projection pushdown engage through the connector") {
    val (root, _) = seeded()
    val df = spark.read.format("graft").load(root)
      .where($"k1" === 3L).select($"f1")
    assert(df.as[String].collect().toSeq == Seq("c"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(k1), EqualTo(k1,3)"),
      s"no parquet pushdown through the connector:\n$plan")
    val read = "ReadSchema: [^\n]*".r.findFirstIn(plan).getOrElse("")
    assert(read.contains("f1") && read.contains("k1") && !read.contains("junkcol"),
      s"projection not pruned: $read")
    assert(!plan.contains("rowcount"), "sanity")
  }

  test("zone-map day skipping: a pushed range predicate prunes days " +
      "planner-side once the sidecar cache exists") {
    val root = tmpRoot()
    val evSchema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("event_type", StringType)))
    val t = WarehouseTable.create(spark, root, Seq("event_id"), evSchema)
    // 4 days, ids time-correlated: day i holds [i*100, i*100+99]
    (1 to 4).foreach { d =>
      t.append((0 until 100).map(i => (d * 100L + i, s"t$d")).toDF(
        "event_id", "event_type").withColumn("partitionTime", ts(d)))
    }
    val noCache = spark.read.format("graft").load(root)
      .where($"event_id".between(150L, 199L))
    val (_, cold) = ScanMetrics.selectedByQueries(spark) { noCache.collect() }
    assert(cold.numFiles == 4L,
      s"without a sidecar cache the planner must not prune: ${cold.numFiles}")
    t.rangeCandidateDays("event_id", 0L, 0L) // builds + caches the maps
    val warm = spark.read.format("graft").load(root)
      .where($"event_id".between(150L, 199L))
    val (rows, totals) = ScanMetrics.selectedByQueries(spark) { warm.collect() }
    assert(rows.length == 50 && rows.map(_.getLong(0)).forall(id =>
      id >= 150L && id <= 199L))
    assert(totals.numFiles == 1L,
      s"zone maps did not skip days through the connector: ${totals.numFiles}")
  }

  test("write path: df.write.format(\"graft\") creates, appends, evolves, " +
      "and Overwrite truncates as a committed (time-travelable) version") {
    val root = tmpRoot()
    def df(rows: Seq[(Long, String)], day: Int) = batch(rows, day)
    // create (keys required on first write)
    intercept[IllegalArgumentException] {
      df(Seq(1L -> "a"), 1).write.format("graft").save(root)
    }
    df(Seq(1L -> "a", 2L -> "b"), 1).write.format("graft")
      .option("keys", "k1").save(root)
    assert(asPairs(spark.read.format("graft").load(root)) ==
      Set((1L, "a", "2024-01-01"), (2L, "b", "2024-01-01")))
    // append (default mode Append on an existing table)
    df(Seq(3L -> "c"), 2).write.format("graft").mode("append").save(root)
    assert(spark.read.format("graft").load(root).count() == 3)
    // ErrorIfExists / Ignore semantics
    intercept[IllegalStateException] {
      df(Seq(9L -> "x"), 1).write.format("graft")
        .mode("errorifexists").save(root)
    }
    df(Seq(9L -> "x"), 1).write.format("graft").mode("ignore").save(root)
    assert(spark.read.format("graft").load(root).count() == 3)
    // schema evolution on write: a new nullable column joins the table
    Seq((4L, "d", "extra")).toDF("k1", "f1", "f2")
      .withColumn("partitionTime", ts(2))
      .write.format("graft").mode("append").save(root)
    val evolved = spark.read.format("graft").load(root)
    assert(evolved.columns.contains("f2"))
    assert(evolved.where($"f2".isNotNull).count() == 1)
    // Overwrite = ONE atomic commit replacing the whole content (never
    // a committed-empty gap between a truncate and an append); the
    // pre-overwrite state stays time-travelable
    val t = WarehouseTable.open(spark, root)
    val preOverwrite = t.currentVersion
    df(Seq(7L -> "z"), 3).write.format("graft").mode("overwrite").save(root)
    val after = spark.read.format("graft").load(root)
    assert(asPairs(after.select($"k1", $"f1", $"_pday")) ==
      Set((7L, "z", "2024-01-03")))
    assert(t.currentVersion == preOverwrite + 1,
      "overwrite must be exactly one committed version — a separate " +
        "truncate commit would expose a committed empty table")
    assert(t.history().exists(_._2 == "overwrite"))
    assert(!t.history().exists(h => h._1 > preOverwrite && h._2 == "truncate"))
    assert(spark.read.format("graft")
      .option("versionAsOf", preOverwrite.toString).load(root).count() == 4,
      "pre-overwrite snapshot lost")
    // every intermediate version is non-empty: no reader can resolve a
    // committed empty table anywhere in the overwrite's history
    (1L to t.currentVersion).foreach { v =>
      assert(spark.read.format("graft")
        .option("versionAsOf", v.toString).load(root).count() > 0,
        s"version $v reads as a committed empty table")
    }
    // post-overwrite merges still work (blooms were rebuilt exact from
    // the staged generation)
    t.merge(Seq((7L, Some("z2"), 1L)).toDF("k", "v", "i")
      .select(struct($"k".as("k1")).as("key"),
        when($"v".isNotNull, struct($"v".as("f1"))).as("value"),
        $"i", ts(3).as("partitionTime"), lit(0L).as("batchNumber")))
    assert(asPairs(spark.read.format("graft").load(root)
      .select($"k1", $"f1", $"_pday")) == Set((7L, "z2", "2024-01-03")))
  }

  test("writeStream.format(\"graft\"): exactly-once streaming sink — restart " +
      "from the checkpoint appends only the new data, replays are no-ops") {
    val root = tmpRoot()
    val srcDir = Files.createTempDirectory("graft-stream-src").toString
    val ckpt = Files.createTempDirectory("graft-stream-ckpt").toString
    def writeSrc(rows: Seq[(Long, String)], name: String): Unit =
      rows.toDF("k1", "f1").coalesce(1)
        .write.mode("overwrite").parquet(s"$srcDir/$name")
    writeSrc(Seq(1L -> "a", 2L -> "b"), "f1")
    def runStream(): Unit = {
      val q = spark.readStream.schema("k1 LONG, f1 STRING")
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$srcDir/*")
        .withColumn("partitionTime", ts(1))
        .writeStream.format("graft")
        .option("path", root)
        .option("keys", "k1")
        .option("checkpointLocation", ckpt)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    runStream()
    assert(asPairs(spark.read.format("graft").load(root)) ==
      Set((1L, "a", "2024-01-01"), (2L, "b", "2024-01-01")))
    // restart on the SAME checkpoint with one more source file: only
    // the new rows land — committed batches replay as durable no-ops
    writeSrc(Seq(3L -> "c"), "f2")
    runStream()
    assert(asPairs(spark.read.format("graft").load(root)) ==
      Set((1L, "a", "2024-01-01"), (2L, "b", "2024-01-01"),
        (3L, "c", "2024-01-01")))
    // third restart with nothing new: zero change
    runStream()
    assert(spark.read.format("graft").load(root).count() == 3)
    // the sink rejects non-Append output modes loudly
    val bad = intercept[Exception] {
      spark.readStream.schema("k1 LONG, f1 STRING").parquet(s"$srcDir/*")
        .groupBy($"k1").count()
        .writeStream.format("graft").option("path", root)
        .outputMode("complete")
        .option("checkpointLocation",
          Files.createTempDirectory("ck2").toString)
        .start()
    }
    assert(bad.getMessage != null)
  }

  test("INSERT INTO a graft view is refused loudly — it would bypass the " +
      "commit protocol and silently read back as nothing") {
    val (root, t) = seeded()
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW g_ins USING graft " +
      s"OPTIONS (path '$root')")
    val e = intercept[Exception] {
      spark.sql("INSERT INTO g_ins VALUES (9, 'x', '2024-01-01')")
    }
    def chainHasRefusal(x: Throwable): Boolean = {
      var c = x; var d = 0
      while (c != null && d < 10) {
        if (String.valueOf(c.getMessage).contains("commit protocol")) return true
        c = c.getCause; d += 1
      }
      false
    }
    assert(chainHasRefusal(e), s"unexpected failure shape: $e")
    // nothing landed, reads unaffected
    assert(spark.sql("SELECT count(*) FROM g_ins").head().getLong(0) == 3L)
    assert(t.read().count() == 3L)
  }

  test("index-level pruning unit: partition filters evaluate against day " +
      "tokens; sizeInBytes reports the pinned snapshot") {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Literal}
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    val (root, t) = seeded()
    val idx = new GraftFileIndex(spark, t, None)
    val all = idx.listFiles(Nil, Nil)
    assert(all.map(_.files.size).sum == idx.inputFiles.length)
    val attr = AttributeReference("_pday", StringType)()
    val pruned = idx.listFiles(Seq(EqualTo(attr,
      Literal(UTF8String.fromString("2024-01-02"), StringType))), Nil)
    assert(pruned.size == 1 && pruned.head.files.nonEmpty)
    assert(idx.sizeInBytes ==
      all.flatMap(_.files).map(_.getLen).sum && idx.sizeInBytes > 0)
    // bad version rejected eagerly
    intercept[IllegalArgumentException] {
      spark.read.format("graft").option("versionAsOf", "99").load(root)
    }
  }

  test("zone-map skipping is fingerprint-fenced: a sidecar whose fp does " +
      "not match the pinned file set never prunes (stale-stats race)") {
    val root = tmpRoot()
    val evSchema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("event_type", StringType)))
    val t = WarehouseTable.create(spark, root, Seq("event_id"), evSchema)
    (1 to 2).foreach { d =>
      t.append((0 until 100).map(i => (d * 100L + i, s"t$d")).toDF(
        "event_id", "event_type").withColumn("partitionTime", ts(d)))
    }
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // hand-write a LYING sidecar for day 1 (claims max=0, so a query on
    // id 150 would prove the day empty) under two fingerprints
    def b64(s: String) =
      java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))
    def writeSidecar(fp: String): Unit = {
      val dir = new org.apache.hadoop.fs.Path(s"$root/_graft/zonemaps/event_id")
      fs.mkdirs(dir)
      val out = fs.create(
        new org.apache.hadoop.fs.Path(dir, "2024-01-01.props"), true)
      out.write(
        s"fp=$fp\nnonnull=100\nmin=${b64("0")}\nmax=${b64("0")}".getBytes("UTF-8"))
      out.close()
    }
    def dayRows(): Long = spark.read.format("graft").load(root)
      .where($"event_id".between(100L, 150L)).count()
    // fp matching the pinned files: the (lying) stats are trusted → the
    // day is skipped and rows go missing — proves the skip engages
    val liveFiles = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$root/data/_pday=2024-01-01"))
      .filter(_.isFile).toSeq.map(st => (st.getPath.getName, st.getLen))
    val parts = liveFiles.map { case (n, l) => s"$n:$l" }.sorted.mkString(",")
    val realFp = java.security.MessageDigest.getInstance("MD5")
      .digest(parts.getBytes("UTF-8")).map("%02x".format(_)).mkString
    writeSidecar(realFp)
    assert(dayRows() == 0L,
      "sanity: a matching-fp sidecar must engage the skip")
    // fp from some OTHER file set (a concurrent rewrite moved the day):
    // the sidecar must be ignored and the day scanned
    writeSidecar("deadbeef" * 4)
    assert(dayRows() == 51L,
      "a fingerprint-mismatched sidecar pruned the pinned file set — " +
        "silent wrong results under concurrent DML")
  }

  test("streaming sink requires an explicit checkpointLocation option — " +
      "a defaulted replay namespace would cross checkpoint lineages") {
    val root = tmpRoot()
    val srcDir = Files.createTempDirectory("graft-ckreq-src").toString
    Seq(1L -> "a").toDF("k1", "f1").write.parquet(s"$srcDir/f1")
    def chain(x: Throwable): Boolean = {
      var c = x; var d = 0
      while (c != null && d < 10) {
        if (String.valueOf(c.getMessage).contains("checkpointLocation"))
          return true
        c = c.getCause; d += 1
      }
      false
    }
    val e = intercept[Exception] {
      spark.readStream.schema("k1 LONG, f1 STRING").parquet(s"$srcDir/*")
        .withColumn("partitionTime", ts(1))
        .writeStream.format("graft")
        .option("path", root).option("keys", "k1")
        .start() // no checkpointLocation option anywhere
    }
    assert(chain(e), s"unexpected failure shape: $e")
    // the dangerous branch (advisor-found): the SESSION CONF supplies a
    // checkpoint, so Spark happily starts the query — but the conf value
    // is not forwarded to createSink, and a silently-defaulted replay
    // namespace would cross checkpoint lineages. The sink must refuse.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.checkpointLocation",
      Files.createTempDirectory("graft-ckreq-conf").toString)
    val e2 = intercept[Exception] {
      s2.readStream.schema("k1 LONG, f1 STRING").parquet(s"$srcDir/*")
        .withColumn(
          "partitionTime", to_timestamp(lit("2024-01-01 12:00:00")))
        .writeStream.format("graft")
        .option("path", root).option("keys", "k1")
        .start()
    }
    assert(chain(e2), s"conf-only checkpoint must still refuse: $e2")
    assert(!fs2Exists(root), "no table state may land from refused starts")
  }

  private def fs2Exists(root: String): Boolean = {
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(new org.apache.hadoop.fs.Path(s"$root/_graft/schema.json"))
  }

  test("day-scoped overwrite (option overwriteDays): atomic slice " +
      "backfill — named days replaced or emptied, others untouched, " +
      "stray-day rows refused") {
    val root = tmpRoot()
    val t = WarehouseTable.create(spark, root, Seq("k1"), destSchema)
    t.append(batch(Seq(1L -> "a"), day = 1))
    t.append(batch(Seq(2L -> "b"), day = 2))
    t.append(batch(Seq(3L -> "c"), day = 3))
    // replace day 1, EMPTY day 3 (named but no rows), leave day 2 alone
    batch(Seq(10L -> "a2"), day = 1)
      .write.format("graft").mode("overwrite")
      .option("overwriteDays", "2024-01-01,2024-01-03").save(root)
    assert(asPairs(spark.read.format("graft").load(root)) ==
      Set((10L, "a2", "2024-01-01"), (2L, "b", "2024-01-02")))
    // rows routing OUTSIDE the named slices refuse the whole write
    val e = intercept[IllegalArgumentException] {
      batch(Seq(9L -> "x"), day = 2).write.format("graft")
        .mode("overwrite").option("overwriteDays", "2024-01-01").save(root)
    }
    assert(e.getMessage.contains("outside the overwritten"), e.getMessage)
    // the refused write left no trace; the replaced days time-travel
    assert(asPairs(spark.read.format("graft").load(root)) ==
      Set((10L, "a2", "2024-01-01"), (2L, "b", "2024-01-02")))
    assert(asPairs(spark.read.format("graft")
      .option("versionAsOf", "3").load(root)) ==
      Set((1L, "a", "2024-01-01"), (2L, "b", "2024-01-02"),
        (3L, "c", "2024-01-03")))
  }

  test("watermarked window aggregation streams into the graft sink: " +
      "append mode emits each finalized window exactly once") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dstRoot = tmpRoot()
    val ck = Files.createTempDirectory("graft-wm-ck").toString
    val input = MemoryStream[(String, java.sql.Timestamp)](spark)
    // per-key hourly event counts, 0-lateness watermark: the stateful
    // agg's Append-mode output (only CLOSED windows) composes with the
    // sink's exactly-once appendBatch — the standard streaming-ETL
    // rollup (events → windowed counts → warehouse table)
    val agg = input.toDF().toDF("k", "ts")
      .withWatermark("ts", "0 seconds")
      .groupBy(window($"ts", "1 hour"), $"k")
      .agg(count("*").as("n"))
      .select($"k".as("k1"), $"n",
        $"window.start".as("partitionTime"))
    val q = agg.writeStream.format("graft")
      .option("path", dstRoot).option("keys", "k1")
      .option("checkpointLocation", ck)
      .outputMode("append")
      .start()
    try {
      def t(h: Int, m: Int) =
        java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
      input.addData(("a", t(10, 5)), ("a", t(10, 40)), ("b", t(10, 59)))
      q.processAllAvailable()
      // hour 10 is still open — nothing durable yet
      assert(spark.read.format("graft").load(dstRoot).count() == 0)
      // an hour-11 event moves the watermark past hour 10: its windows
      // finalize and land in the table, partitioned by window start
      input.addData(("a", t(11, 1)))
      q.processAllAvailable()
      val out = spark.read.format("graft").load(dstRoot)
        .select($"k1", $"n", $"_pday".cast("string"))
        .as[(String, Long, String)].collect().toSet
      assert(out == Set(("a", 2L, "2024-01-01"), ("b", 1L, "2024-01-01")),
        s"got $out")
      // hour 11 stays open (no later event): still exactly 2 rows
      q.processAllAvailable()
      assert(spark.read.format("graft").load(dstRoot).count() == 2)
    } finally q.stop()
  }

  test("dynamic partition pruning: a join keyed on _pday scans only the " +
      "days the filtered dimension selects — the 100 TB star-join path") {
    val root = tmpRoot()
    val t = WarehouseTable.create(spark, root, Seq("k1"), destSchema)
    // 8 days, one file each; a star join's fact side
    (1 to 8).foreach { d =>
      t.append(batch((1 to 20).map(i => (d * 100L + i) -> s"d$d"), day = d))
    }
    // dimension with a static filter selecting 2 of the 8 days; comes
    // from parquet so the DPP heuristic sees real relation stats
    val dimPath = Files.createTempDirectory("graft-dpp-dim").toString
    (1 to 8).map(d => (f"2024-01-$d%02d", if (d <= 2) "keep" else "drop"))
      .toDF("d", "tag").write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath).where($"tag" === "keep")
    val fact = spark.read.format("graft").load(root)
    val joined = fact.join(dim, fact("_pday") === dim("d"))
      .select($"k1", $"d")
    val (rows, totals) = ScanMetrics.selectedByQueries(spark) { joined.collect() }
    assert(rows.length == 40, s"expected 2 days x 20 rows, got ${rows.length}")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"no dynamic pruning filter on the fact scan:\n$plan")
    // The fact scan's runtime selection is the DPP witness — without it
    // all 8 day files are read and only the join discards the rows.
    // Identify the fact scan by its read schema (k1 lives only there);
    // the dim side reads its own parquet file count.
    val factScans = totals.readSchemas.zip(totals.numFilesPerScan)
      .filter(_._1.contains("k1")).map(_._2)
    assert(factScans.nonEmpty && factScans.forall(_ == 2L),
      s"fact scan not dynamically pruned to 2 of 8 day-files: " +
        s"fact-scan files=$factScans, all=${totals.numFilesPerScan}")
  }
}
