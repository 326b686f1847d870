package graft.sources

import graft.operators.MergeOps
import graft.schema.{EvolutionPolicy, SchemaUnion}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.util.sketch.BloomFilter

import java.io.{BufferedInputStream, BufferedOutputStream}
import java.util.UUID

/** S3/S6/S7 + the partition-pruned MERGE — a day-partitioned parquet
  * "warehouse table" playing the role BigQuery plays for the reference:
  * the durable destination the streaming sink appends to and the MERGE
  * rewrites (`MergeQueries.java:176-308`, `SchemaManager.java:212-281`).
  *
  * Layout under `root/`:
  * {{{
  *   data/_pday=YYYY-MM-DD/ (parquet files)   day partitions (BigQuery's
  *                                     _PARTITIONTIME decorator analog,
  *                                     PartitionedTableId.java:209-227)
  *   _graft/schema.json                table schema (SchemaManager cache);
  *                                     written last by [[create]], so its
  *                                     presence marks a complete table
  *   _graft/keys.json                  key fields
  *   _graft/options.props              layout options ([[TableOptions]])
  *   _graft/snapshots/CURRENT          committed version (0 = created,
  *                                     nothing committed yet)
  *   _graft/snapshots/v&lt;N&gt;.list        per-version day→file manifests
  *                                     (time travel: [[readAsOf]]/[[history]])
  *   _graft/history/v&lt;N&gt;/_pday=…       the data files version N replaced
  *                                     (reclaimed by [[vacuum]])
  *   _graft/history/v&lt;N&gt;/_prelive      files live in version N's swapped
  *                                     days before its swap (crash journal)
  *   _graft/bloom2/YYYY-MM-DD.bloom    per-partition key bloom filter
  *                                     (GFB3 magic + commit-version stamp)
  *   _graft/zonemaps/&lt;col&gt;/&lt;day&gt;.props per-day column min/max sidecars
  *   _graft/landings/&lt;id&gt;              markers of landed, not yet
  *                                     committed appends (vacuum skips them)
  *   _graft/batches/[&lt;stream&gt;-]b&lt;id&gt;  exactly-once markers of committed
  *                                     streaming batches
  * }}}
  *
  * A directory without `_graft/snapshots/CURRENT` is not a table:
  * [[WarehouseTable.open]] rejects it.
  *
  * == 100 TB design: why the merge scans only a bounded partition set ==
  *
  * A naive MERGE full-outer-joins the whole destination per micro-batch —
  * the round-1 scale-killer. BigQuery avoids it because day partitions
  * bound the scan. We reproduce that bound with two mechanisms:
  *
  *  1. '''Touched days''': rows only ever land in `date(partitionTime)`
  *     partitions of their batch, so inserts touch only the batch's days.
  *  2. '''Per-partition key blooms''': an update/delete must find the
  *     key's ''existing'' row, which may live in an older partition (in
  *     BigQuery, UPDATE never moves a row across partitions — neither do
  *     we). Scanning all partitions to look for it would defeat pruning,
  *     so every partition write refreshes a key bloom filter (1% fpp).
  *     At merge time the batch's distinct key hashes (bounded by the
  *     micro-batch, 8 bytes each) are broadcast and a distributed map
  *     over the day list probes each partition's bloom straight from
  *     table storage; only possibly-matching partitions join the scan
  *     set. Cost: O(batch) broadcast + O(days) bloom reads spread across
  *     the cluster — driver memory independent of table history.
  *
  * Every rewrite writes its new files to a private staging dir, then
  * swaps them in file by file ([[swapFilesGranular]], the one way files
  * leave `data/`) under a multi-writer commit protocol — the analog of
  * BigQuery's transactional
  * MERGE: the writer atomically claims the next snapshot version
  * ([[claimCommit]]), aborts retryably when a concurrent commit touched
  * its days, and publishes the version's manifest after the swap
  * ([[finalizeCommit]]); a crashed claim is rolled back by the next
  * writer that meets it. The reference instead serializes merges through
  * a one-task scheduler (`MergeBatches.java:213-277`).
  */
final class WarehouseTable private (
    val spark: SparkSession,
    val root: String,
    val keyFields: Seq[String],
    val options: TableOptions) {

  import WarehouseTable._

  val partitionCol = "_pday"
  private val dataPath = s"$root/data"
  private def fs: FileSystem = new Path(root).getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  /** Time slice a timestamp column into this table's partition value
    * (granularity per `TimePartitioning.Type`,
    * `config/BigQuerySinkConfig.java:496-499`).
    *
    * Pinned to UTC via pure epoch arithmetic, mirroring the reference's
    * `utcTime.toEpochDay()` math (`utils/PartitionedTableId.java:210`):
    * epoch-micros → floor-divided into epoch days/hours → calendar
    * fields of the tz-free `DateType`. No session-timezone rendering or
    * shift anywhere, so routing is identical for any session TZ —
    * including across the session zone's DST transitions, where a
    * `to_utc_timestamp`+`date_format` round trip applies offsets at two
    * different instants and can misroute rows near the boundary — and
    * always agrees with [[sliceEndMs]] (which interprets slice strings
    * as UTC; BigQuery time partitioning is likewise UTC-based).
    */
  private def sliceExpr(ts: Column): Column = {
    // exact for |micros| < 2^53 (≈ year 2255); floor handles pre-1970
    val micros = unix_micros(ts)
    val d = date_from_unix_date(floor(micros / lit(86400000000.0)).cast("int"))
    val y = lpad(year(d).cast("string"), 4, "0")
    val m = lpad(month(d).cast("string"), 2, "0")
    val dd = lpad(dayofmonth(d).cast("string"), 2, "0")
    val dash = lit("-")
    // concat (not concat_ws): a null timestamp must yield a null slice,
    // as date_format did, not an empty string
    options.granularity match {
      case "HOUR" =>
        val h = lpad(pmod(floor(micros / lit(3600000000.0)), lit(24))
          .cast("int").cast("string"), 2, "0")
        concat(y, dash, m, dash, dd, dash, h)
      case "DAY" => concat(y, dash, m, dash, dd)
      case "MONTH" => concat(y, dash, m)
      case "YEAR" => y
      case "NONE" => lit("all")
    }
  }

  /** Partition-routing expression for a flat (dest-shaped) frame:
    * a named record field when column-based partitioning is configured
    * (`timestampPartitionFieldName`, `SchemaManager.java:73`), else the
    * batch's `partitionTime`.
    */
  private def routeExpr(partitionTimeCol: String): Column =
    sliceExpr(col(options.partitionField.getOrElse(partitionTimeCol)))

  /** Clustering-as-sort (`SchemaManager.java:574-610` analog): range-
    * partition by (partition, clustering keys) and sort within tasks so
    * each written file covers a narrow, non-overlapping clustering range
    * — parquet row-group min/max stats then let key-equality reads skip
    * whole files. At 100 TB this is the difference between scanning a
    * day partition and touching one file of it.
    */
  private[sources] def clusteredWrite(df: DataFrame): DataFrame =
    if (options.clusteringFields.isEmpty)
      // Unclustered tables still need day-aligned write tasks: written
      // as-is, every one of the plan's N tasks holds rows of every day
      // it saw, so a write fans out into O(tasks × days) small files —
      // each subsequent scan/merge/bloom pass then pays per-file open
      // cost, and at warehouse scale the file count grows without
      // bound. AQE's rebalance keyed on the partition column instead
      // groups each day into as few evenly-sized tasks as its volume
      // needs: small days collapse to one file, skewed days split.
      df.hint("rebalance", col(partitionCol))
    else if (options.layout == "ZORDER" && options.clusteringFields.size >= 2) {
      // Morton layout: files cover hyper-rectangles of the clustering
      // space, so predicates on ANY clustering field skip files (the
      // linear sort below only skips on the leading field). One extra
      // approxQuantile pass over the batch fixes the bucket bounds.
      val z = ZOrder.zValue(df, options.clusteringFields)
      df.withColumn("__z", z)
        .repartitionByRange(col(partitionCol), col("__z"))
        .sortWithinPartitions(col(partitionCol), col("__z"))
        .drop("__z")
    } else {
      val cols = col(partitionCol) +: options.clusteringFields.map(c => col(s"`$c`"))
      df.repartitionByRange(cols: _*).sortWithinPartitions(cols: _*)
    }

  // ---- schema (S6: SchemaManager.createOrUpdateTable analog) ----

  def schema: StructType =
    DataType.fromJson(readMetaString(spark, s"$root/_graft/schema.json"))
      .asInstanceOf[StructType]

  /** Update the table's layout options in place (BigQuery supports
    * altering partition expiration/clustering on existing tables;
    * `SchemaManager.createOrUpdateTable` analog for table metadata).
    * Returns a handle carrying the new options.
    */
  def alterOptions(newOptions: TableOptions): WarehouseTable = {
    newOptions.validate(schema)
    // BigQuery forbids repartitioning an existing table; we must too once
    // data exists — already-written slice strings would not parse under a
    // new granularity (so TTL could never expire them) and new writes
    // would mix partition-key formats in the same _pday namespace.
    // Clustering and expiration remain alterable in place.
    if ((newOptions.granularity != options.granularity ||
        newOptions.partitionField != options.partitionField) &&
        listDays().nonEmpty)
      throw new IllegalArgumentException(
        s"cannot change granularity (${options.granularity} -> ${newOptions.granularity}) " +
          s"or partitionField (${options.partitionField} -> ${newOptions.partitionField}) " +
          "on a table with existing partitions; copy into a new table instead")
    writeMetaString(spark, s"$root/_graft/options.props",
      WarehouseTable.optionsToProps(newOptions))
    val updated = new WarehouseTable(spark, root, keyFields, newOptions)
    WarehouseTable.refreshCached(updated) // keep openCached handles current
    updated
  }

  /** Evolve the persisted schema from an observed batch schema using the
    * reference's unionization rules (`SchemaManager.java:212-281`).
    *
    * Concurrency: read-union-write is a lost-update window (two
    * concurrent evolves adding different fields would each rebase on
    * the pre-evolution schema and the last write would drop the
    * other's field — a torn schema). Serialized by a lease-style lock
    * file (atomic create-if-absent, the commit protocol's primitive):
    * the union is recomputed UNDER the lock, so every evolution rebases
    * on the latest persisted schema and the schema file only ever
    * grows. A crashed holder's lock goes stale after 60 s (evolution is
    * a driver-side metadata op — seconds, not minutes) and is broken by
    * the next evolver; lock acquisition failing within the claim-wait
    * budget aborts retryably like any commit conflict.
    */
  def evolveSchema(observed: StructType,
      policy: EvolutionPolicy = EvolutionPolicy()): StructType = {
    val lock = s"$root/_graft/schema.lock"
    val lockPath = new Path(lock)
    var deadline = System.currentTimeMillis() + WarehouseTable.claimWaitMs
    // an un-owned schema.json write (a breaker deleted our lock
    // mid-union, possibly interleaving with another evolver) must get
    // at least one full repair pass even when the claim-wait deadline
    // has already lapsed (advisor-found): exiting right after the torn
    // write would persist it with no repair. One extension, not
    // unbounded — a second tear inside the extended window still
    // throws, but by then a repair ATTEMPT ran.
    var repairCredit = true
    val nonce = UUID.randomUUID().toString
    def lockContent() =
      try Some(readMetaString(spark, lock).trim)
      catch { case _: java.io.IOException => None } // vanished
    var backoff = 10L
    while (System.currentTimeMillis() <= deadline) {
      if (tryWriteNewMetaString(spark, lock,
          s"${System.currentTimeMillis()}:$nonce")) {
        val evolved = SchemaUnion.evolve(Seq(schema, observed), policy)
        // re-verify ownership IMMEDIATELY before the write: if a
        // breaker already deleted our lock during the union, writing
        // now would knowingly race the next evolver — retry the
        // acquire instead (nothing persisted yet, no repair needed)
        if (lockContent().exists(_.endsWith(s":$nonce"))) {
          writeMetaString(spark, s"$root/_graft/schema.json", evolved.json)
          // ownership verify AFTER the write: a breaker that misjudged
          // this lock as stale (its staleness read raced our acquire)
          // may have deleted it mid-write, letting another evolver's
          // write interleave with ours — in that case our union may be
          // the torn one, so retry the whole acquire+union (the schema
          // file only grows; a re-run under a held lock repairs any
          // interleaving)
          val owned = lockContent().exists(_.endsWith(s":$nonce"))
          if (owned) { fs.delete(lockPath, false); return evolved }
          // lock is gone or a successor's — never delete what isn't
          // ours. Guarantee the repair pass a torn write needs:
          if (repairCredit && System.currentTimeMillis() >
              deadline - WarehouseTable.claimWaitMs / 2) {
            repairCredit = false
            deadline = System.currentTimeMillis() + WarehouseTable.claimWaitMs
          }
        }
      } else {
        val held = lockContent()
        val heldSince = held.flatMap(_.split(":").headOption)
          .flatMap(_.toLongOption)
        if (heldSince.exists(ts => System.currentTimeMillis() - ts > 60000L)) {
          // stale: holder crashed mid-evolve. Re-read IMMEDIATELY before
          // the break — if the content changed since the staleness
          // decision, a new holder acquired in between and the lock is
          // live; deleting it would let two evolvers into the section
          if (lockContent() == held) fs.delete(lockPath, false)
        } else {
          Thread.sleep(backoff)
          backoff = math.min(backoff * 2, 500L)
        }
      }
    }
    throw new java.util.ConcurrentModificationException(
      s"schema evolution lock on $root unresolved after " +
        s"${WarehouseTable.claimWaitMs}ms — re-run")
  }

  // ---- read ----

  /** Full-table read (partition column included; partition pruning via
    * `where(col("_pday") ...)` reaches the file index natively). The
    * result is conformed to the table's persisted (possibly evolved)
    * schema: columns added by schema evolution read as NULL from
    * partitions written before the evolution.
    */
  def read(): DataFrame = {
    val days = listDays()
    if (days.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        schema.add(partitionCol, "string"))
    else
      conformToSchema(readWithTableSchema(days))
  }

  /** Partition read against the PERSISTED schema instead of
    * `mergeSchema`: footer reconciliation ("mergeSchema") runs a whole
    * Spark job over every file's metadata before the real scan — at
    * warehouse scale that is an O(files) metadata pass per read, and
    * locally it is one extra job per append/merge/bloom pass. The
    * persisted schema already IS the union of every file ever written
    * (evolution goes through [[evolveSchema]]), so handing it to the
    * reader directly gets the same result — evolution-added columns
    * missing from older files read as NULL — with zero footer jobs.
    * The partition column stays directory-inferred, exactly as before.
    */
  private def readWithTableSchema(days: Seq[String],
      projected: Option[StructType] = None): DataFrame = {
    // a concurrent swap that empties a listed day removes its dir, so
    // one vanishing between the caller's existence check and this
    // listing surfaces as the typed retryable stale-read abort
    val df = guardStaleRead(spark.read
      .schema(projected.getOrElse(schema))
      .option("basePath", dataPath)
      .parquet(days.map(d => s"$dataPath/$partitionCol=$d"): _*))
    // the partition column comes from directory inference, which finds
    // NOTHING when a concurrent swap archived every file of the listed
    // days but had not yet removed their dirs — the df then silently
    // lacks `partitionCol` and downstream references explode as
    // UNRESOLVED_COLUMN. Surface it as the same abort (nothing
    // committed; a re-run reads the new generation).
    if (!df.columns.contains(partitionCol))
      throw new java.util.ConcurrentModificationException(
        s"partitions ${days.mkString(",")} were emptied by a concurrent " +
          "swap while being listed — re-run against the current table state")
    df
  }

  /** Project a raw partition read onto the persisted table schema:
    * evolution-added columns missing from older files become NULL, extra
    * file columns are dropped, order follows the schema.
    */
  private def conformToSchema(df: DataFrame,
      snap: StructType = schema): DataFrame = {
    val have = df.columns.toSet
    val cols = snap.fields.toSeq.map { f =>
      if (have.contains(f.name)) col(s"`${f.name}`")
      else lit(null).cast(f.dataType).as(f.name)
    } :+ col(partitionCol)
    df.select(cols: _*)
  }

  /** Read a specific set of day partitions — the pruned dest scan the
    * merge uses. Only the named partitions' files enter the plan.
    */
  def readDays(days: Seq[String]): DataFrame = {
    val existing = days.filter(d => fs.exists(new Path(s"$dataPath/$partitionCol=$d")))
    if (existing.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        schema.add(partitionCol, "string"))
    else
      readWithTableSchema(existing)
  }

  /** Convert a stale-read failure — a concurrent swap moved files this
    * op had planned to read (plan-time PATH_NOT_FOUND or execution-time
    * FAILED_READ/FileNotFound) — into the protocol's typed retryable
    * abort. The op committed nothing; re-running reads the new
    * generation. Genuine data loss still surfaces: a re-run fails the
    * same way against a table whose CURRENT manifest references the
    * missing file, which readAsOf reports as corruption.
    */
  private def guardStaleRead[T](body: => T): T =
    try body
    catch {
      case e: Throwable if {
        var c: Throwable = e; var hit = false; var depth = 0
        while (c != null && depth < 12 && !hit) {
          val m = String.valueOf(c.getMessage)
          hit = c.isInstanceOf[java.io.FileNotFoundException] ||
            m.contains("FAILED_READ") || m.contains("PATH_NOT_FOUND")
          c = c.getCause; depth += 1
        }
        hit
      } =>
        throw new java.util.ConcurrentModificationException(
          "a concurrent swap archived files this operation had planned " +
            s"to read — re-run against the current table state: ${e.getMessage}")
    }

  /** Committed-files read of `days` at CURRENT — the dest input every
    * SWAP op (merge/compact) must use instead of a directory listing
    * (soak-found fix): a listing sweeps a concurrent append's
    * landed-but-uncommitted files into the rewrite; when that append's
    * conflict walk aborts it and it retries, its rows exist twice. The
    * manifest holds exactly the committed files; a file a concurrent
    * swap archives mid-read fails the job with the documented
    * transient FAILED_READ (retryable).
    */
  private[sources] def readCommitted(days: Seq[String],
      snap: StructType = schema): DataFrame = {
    def empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      snap.add(partitionCol, "string"))
    // CURRENT=0 reads no manifest: nothing is committed yet
    val manifest = readManifest(currentVersion)
    val paths = days.flatMap(d => manifest.getOrElse(d, Seq.empty)
      .map(f => s"$dataPath/$partitionCol=$d/$f"))
    if (paths.isEmpty) empty
    else guardStaleRead(conformToSchema(
      spark.read.schema(snap).option("basePath", dataPath)
        .parquet(paths: _*), snap))
  }

  def listDays(): Seq[String] = {
    val p = new Path(dataPath)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(_.startsWith(s"$partitionCol="))
      .map(_.stripPrefix(s"$partitionCol="))
      .sorted
  }

  // ---- zone maps (lazy per-day column stats for range pruning) ----

  private def zoneMapDir = s"$root/_graft/zonemaps"

  /** Fingerprint of a day's current file set (names + sizes) — the
    * staleness key for its cached zone map. Any rewrite (merge,
    * compaction, restore) changes the file list, so a stale map can
    * never prune against new data: correctness needs NO write-path
    * hook, which is what makes the maps self-healing (the bloom
    * sidecar, by contrast, must be maintained at every write site
    * because its probe has no cheap staleness witness).
    */
  private def dayFingerprint(day: String): String =
    WarehouseTable.fileSetFingerprint(
      fs.listStatus(new Path(s"$dataPath/$partitionCol=$day"))
        .filter(_.isFile).toSeq.map(st => (st.getPath.getName, st.getLen)))

  /** Read-only view of the cached zone-map sidecars for `colName` over
    * `days`: day → (fingerprint the stats were computed under, (min,
    * max, non-null)). NEVER rebuilds — safe to call at plan time (the
    * planner must not launch a stats scan as a side effect) and from a
    * pinned-snapshot reader, which must validate the fingerprint
    * against ITS OWN pinned file set, not the live dir (advisor-found:
    * a concurrent rewrite between snapshot pin and planning would
    * otherwise let current-state maps prove a day empty under the NEW
    * data and silently drop it from the OLD file list).
    */
  private[sources] def cachedZoneMaps(colName: String, days: Seq[String])
      : Map[String, (String, (Option[String], Option[String], Long))] =
    days.flatMap { d =>
      val p = s"$zoneMapDir/$colName/$d.props"
      if (!fs.exists(new Path(p))) None
      else {
        val kv = readMetaString(spark, p).linesIterator
          .map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
        def b64(k: String): Option[String] = kv.get(k).filter(_.nonEmpty)
          .map(s => new String(java.util.Base64.getDecoder.decode(s), "UTF-8"))
        kv.get("fp").map(fp =>
          d -> (fp, (b64("min"), b64("max"), kv.getOrElse("nonnull", "0").toLong)))
      }
    }.toMap

  /** Per-day zone maps (min, max, non-null count) for `colName`,
    * computed lazily on first use and cached under `_graft/zonemaps`
    * keyed by each day's file fingerprint; only days whose fingerprint
    * moved are rescanned — one column-pruned job over exactly those
    * days. Supported column types: numeric and string.
    *
    * == 100 TB design ==
    *
    * This is partition-level data skipping ABOVE parquet's row-group
    * stats: a range predicate on a column correlated with time (ids,
    * sequence numbers, monotone measures) prunes whole day directories
    * before the scan plan is even built — no file listing, no footer
    * reads for skipped days. The stats job reads one column of the
    * stale days only (pruned explicit schema, same discipline as the
    * bloom rebuild), and the cache is O(days) tiny sidecar files.
    */
  def dayZoneMaps(colName: String): Map[String, (Option[String], Option[String], Long)] = {
    val f = schema.fields.find(_.name == colName).getOrElse(
      throw new IllegalArgumentException(s"no such column: $colName"))
    require(f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] ||
      f.dataType == org.apache.spark.sql.types.StringType,
      s"zone maps support numeric and string columns, not ${f.dataType.simpleString}")
    val days = listDays()
    val fps = days.map(d => d -> dayFingerprint(d)).toMap
    fs.mkdirs(new Path(s"$zoneMapDir/$colName"))
    val cached = cachedZoneMaps(colName, days)
    val stale = days.filter(d => !cached.get(d).exists(_._1 == fps(d)))
    val fresh: Map[String, (Option[String], Option[String], Long)] =
      if (stale.isEmpty) Map.empty
      else {
        val one = StructType(Seq(f))
        val c = col(s"`$colName`")
        readWithTableSchema(stale, Some(one))
          .groupBy(col(partitionCol).cast("string").as("d"))
          .agg(min(c).cast("string").as("mn"), max(c).cast("string").as("mx"),
            count(c).as("nn"))
          .collect()
          .map { r =>
            val d = r.getString(0)
            val zm = (Option(r.getString(1)), Option(r.getString(2)), r.getLong(3))
            def enc(o: Option[String]) = o.fold("")(s =>
              java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8")))
            writeMetaString(spark, s"$zoneMapDir/$colName/$d.props",
              s"fp=${fps(d)}\nnonnull=${zm._3}\nmin=${enc(zm._1)}\nmax=${enc(zm._2)}")
            d -> zm
          }.toMap
      }
    days.map(d => d -> fresh.getOrElse(d, cached(d)._2)).toMap
  }

  /** The day partitions a `[lo, hi]` range predicate on `colName` can
    * possibly match — everything else is skipped by zone map. A day of
    * only-null values never matches a range predicate.
    */
  def rangeCandidateDays(colName: String, lo: Any, hi: Any): Seq[String] = {
    val numeric = schema.fields.find(_.name == colName)
      .exists(_.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
    // string bounds under UTF8String binary order — the collation the
    // sidecar's Spark min/max stats were computed with (Java String `<=`
    // is UTF-16 code-unit order, which disagrees above the BMP).
    // Pruning is only ever by PROOF of disjointness: a bound that fails
    // to parse back (a double column whose min/max stringified to
    // NaN/Infinity) proves nothing and the day is conservatively kept —
    // a throw here would turn a skip-optimization into a failed read.
    def provedLt(a: String, b: String): Boolean =
      if (numeric)
        (try BigDecimal(a) < BigDecimal(b)
        catch { case _: NumberFormatException => false })
      else org.apache.spark.unsafe.types.UTF8String.fromString(a)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b)) < 0
    dayZoneMaps(colName).collect {
      case (d, (Some(mn), Some(mx), nn))
        if nn > 0 && !provedLt(mx, lo.toString) && !provedLt(hi.toString, mn) => d
    }.toSeq.sorted
  }

  /** Zone-map-pruned range read: only the partitions whose cached
    * [min, max] for `colName` intersects `[lo, hi]` enter the scan
    * plan; the residual predicate still applies row-level (zone maps
    * are a superset filter, like the bloom probe). Result is conformed
    * to the table schema like [[read]].
    */
  def readRange(colName: String, lo: Any, hi: Any): DataFrame = {
    val keep = rangeCandidateDays(colName, lo, hi)
    val base =
      if (keep.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          schema.add(partitionCol, "string"))
      else conformToSchema(readWithTableSchema(keep))
    base.where(col(s"`$colName`") >= lit(lo) && col(s"`$colName`") <= lit(hi))
  }

  // ---- append (S3: streaming-insert sink) ----

  /** Partitioned append (`SimpleBigQueryWriter.java:63-79`): rows are
    * flat dest rows plus a `partitionTime` timestamp column that routes
    * each row to its time-slice partition (T6). If the batch carries
    * Kafka coordinates (`topic`,`partition`,`offset`), the reference's
    * insertId dedup (`SinkRecordConverter.java:142-147`) is applied
    * WITHIN the batch before writing — cross-invocation replay safety is
    * [[appendBatch]]'s job (this method, called twice, appends twice,
    * like BigQuery streaming inserts outside the insertId window).
    */
  def append(df: DataFrame, partitionTimeCol: String = "partitionTime"): DataFrame =
    appendRouted(df
      .withColumn(partitionCol, routeExpr(partitionTimeCol))
      .drop(partitionTimeCol))

  /** [[append]] for a frame already carrying the partition column (the
    * SQL `INSERT INTO` path, whose rows arrive pre-routed — the
    * overwrite twin is [[overwriteRouted]]).
    */
  private[sources] def appendRouted(preRouted: DataFrame): DataFrame = {
    val kafkaCols = Seq("topic", "partition", "offset")
    val routed =
      if (kafkaCols.forall(preRouted.columns.contains))
        preRouted.dropDuplicates(kafkaCols)
      else preRouted
    // cached across the bloom/day aggregation and the write (micro-batch
    // bounded): the write otherwise re-scans and re-routes the input
    routed.cache()
    try {
      // conflict window opens BEFORE any file lands (commitSnapshot doc)
      val readBase = currentVersion
      // write FIRST: the staged move reports the touched days, which
      // dirs pre-existed, and the batch's on-disk size — all free FS
      // metadata — so bloom maintenance needs no day-discovery job
      val (myFiles, preExisting, stagedBytes, stagedRowsOrOver, landing) =
        WarehouseTable.prof("append.writeStaged") {
          writeStagedInto(clusteredWrite(routed)) }
      // blooms BEFORE the commit: a concurrent merge must never probe a
      // committed version whose new keys its day blooms don't cover.
      // Micro-batch-sized appends collect raw (day, hash) pairs off the
      // cache — no aggregation exchange, one job — and build the day
      // blooms driver-side (bit-identical sizing to the aggregate, so
      // upsertBlooms' mergeInPlace keeps working); a bulk append above
      // the byte gate keeps the distributed bloom aggregation, whose
      // shuffle spreads construction and ships only O(days) blooms back
      val dayBlooms: Seq[(String, Array[Byte])] =
        if (myFiles.isEmpty) Seq.empty
        else if (WarehouseTable.useDriverBloomFold(stagedBytes, stagedRowsOrOver))
          driverDayBlooms(routed.select(
            col(partitionCol).cast("string").as("d"),
            xxhash64(keyString(keyFields.map(col))).as("h")).collect())
        else routed
          .groupBy(col(partitionCol).cast("string").as("d"))
          .agg(bloomAggColumn.as("bloom")).collect()
          .map(r => (r.getString(0), r.getAs[Array[Byte]](1))).toSeq
      // pre-commit stamp is readBase, NOT the predicted readBase+1 (r12
      // advisor): the commit may re-sequence higher (stamp would
      // understate coverage) or abort while another writer's
      // key-deleting commit lands at exactly readBase+1 (stamp would
      // hide its tightness loss). readBase never overstates; the
      // restamp below bumps it to the version actually finalized.
      WarehouseTable.prof("append.blooms") {
        upsertBlooms(dayBlooms, preExisting, readBase) }
      if (myFiles.nonEmpty) {
        val committedV = WarehouseTable.prof("append.commit") {
          try commitSnapshot("append", myFiles, readBase + 1)
          catch {
          case e: WarehouseTable.CommitIndeterminateException =>
            // the finalized manifest may be live (CURRENT unreadable
            // mid-failure): deleting the landed files could orphan a
            // published manifest — leave everything for the operator;
            // the landing marker keeps the sweep off them meanwhile
            throw e
          case e: Throwable =>
            // an overlapping swap won the window — or the commit failed
            // for ANY other reason with the manifest verifiably
            // unpublished: remove what we landed (a retry re-appends
            // it) so no phantom uncommitted rows linger in the live
            // dirs (deleteLanded is best-effort idempotent)
            deleteLanded(myFiles)
            releaseLandingMarker(landing)
            throw e
        } }
        WarehouseTable.prof("append.restamp") {
          restampBlooms(myFiles.keys.toSeq.sorted, committedV, readBase) }
      }
      releaseLandingMarker(landing)
      expireOldPartitions()
      autoVacuum()
    } finally routed.unpersist()
    routed
  }

  /** Exactly-once batch append for the streaming path. `foreachBatch` is
    * at-least-once: a batch whose write succeeded but whose checkpoint
    * commit didn't is replayed, and a plain [[append]] would duplicate
    * its rows. A COMMITTED batch is detected first — by its durable
    * `_graft/batches/b<batchId>` marker, or (crash between commit and
    * marker) by its tag in the CURRENT manifest's batches header — and
    * the replay returns without touching the table: under file-exact
    * manifests, re-landing a committed batch's files would orphan every
    * older snapshot that references the originals (the multi-writer
    * soak caught exactly this). An UNCOMMITTED prior attempt's files
    * reference nothing, so they are swept and re-landed under
    * deterministic `b<batchId>-` names (the Spark-native analog of the
    * reference's insertId dedup + preCommit offset bookkeeping,
    * `MergeBatches.java:286-299`). Requires deterministic partition
    * routing across replays, i.e. event-time partitioning (T6); the
    * processing-time mode has the same day-boundary caveat as the
    * reference's insertId window.
    */
  def appendBatch(df: DataFrame, batchId: Long,
      partitionTimeCol: String = "partitionTime",
      streamId: String = "default"): Unit = {
    // markers and batch tags are NAMESPACED by streamId (advisor-found):
    // a stream restarted with a fresh checkpoint reuses small batchIds,
    // and un-namespaced markers from the old run would silently no-op
    // its real new batches. Callers pass a checkpoint-derived id.
    val ns = streamId.map(c =>
      if (c.isLetterOrDigit || c == '_' || c == '-') c else '_')
    val tag = s"$ns:$batchId"
    val filePrefix =
      if (ns == "default") s"b$batchId-" else s"$ns-b$batchId-"
    // replay of a COMMITTED batch: durable no-op. Marker first (cheap);
    // then the CURRENT manifest's batches header — written ATOMICALLY
    // with the commit and carried forward by every later commit, so it
    // covers both the crash-between-commit-and-marker window AND the
    // case where a merge/compact has since rewritten the batch's files
    // (erasing their b<id>- names). Tags are `<ns>:<id>:<commitMillis>`.
    val marker = new Path(s"$root/_graft/batches/" +
      (if (ns == "default") s"b$batchId" else s"$ns-b$batchId"))
    if (fs.exists(marker)) return
    if (manifestBatches(currentVersion).exists(_.startsWith(s"$tag:"))) {
      writeMetaString(spark, marker.toString, "committed")
      return
    }
    val kafkaCols = Seq("topic", "partition", "offset")
    val deduped =
      if (kafkaCols.forall(df.columns.contains)) df.dropDuplicates(kafkaCols)
      else df
    val routed = deduped
      .withColumn(partitionCol, routeExpr(partitionTimeCol))
      .drop(partitionTimeCol)
    val staging = s"$root/.append-$batchId"
    clusteredWrite(routed).write
      .mode(SaveMode.Overwrite).partitionBy(partitionCol).parquet(staging)
    val stagingPath = new Path(staging)
    val touched = fs.listStatus(stagingPath).toSeq
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith(s"$partitionCol="))
    // batch blooms from the staged files BEFORE the move — key columns
    // only, O(batch) I/O. After the move [[upsertBlooms]] unions them
    // into the existing day blooms, so the per-flush bloom cost no
    // longer re-scans the whole partition (O(table) under streaming
    // cadence — the difference between a flush that costs the batch and
    // one that grows with table history). Replay-safe: a prior attempt's
    // keys may linger in the old bloom after its files are deleted,
    // which only ever widens the bloom (superset ⇒ extra scan, never a
    // lost update).
    val keySet = keyFields.toSet
    val keySchema = StructType(schema.fields.filter(f => keySet.contains(f.name)))
    val stagedFileStatuses = touched.flatMap(dirName =>
      fs.listStatus(new Path(s"$staging/$dirName")).toSeq.filter(_.isFile))
    val stagedBytes = stagedFileStatuses.map(_.getLen).sum
    // footer reads only happen when the byte gate already passed
    // (advisor-found: a def passed to a strict parameter still
    // evaluates, so the short-circuit must be explicit)
    def stagedRows = parquetRowCount(stagedFileStatuses
      .filterNot(_.getPath.getName.startsWith("_")).map(_.getPath))
    val dayBlooms: Seq[(String, Array[Byte])] =
      if (touched.isEmpty) Seq.empty
      else {
        val stagedDf = spark.read.option("basePath", staging)
          .schema(keySchema.add(StructField(partitionCol, StringType)))
          .parquet(touched.map(d => s"$staging/$d"): _*)
        // micro-batches under the byte gate: raw (day, hash) collect,
        // day blooms built driver-side — one scan job, no aggregation
        // exchange (same fold as [[append]]); bulk batches keep the
        // distributed aggregation
        if (stagedBytes <= WarehouseTable.appendHashCollectMaxBytes &&
            WarehouseTable.useDriverBloomFold(stagedBytes, stagedRows))
          driverDayBlooms(stagedDf.select(
            col(partitionCol).cast("string").as("d"),
            xxhash64(keyString(keyFields.map(col))).as("h")).collect())
        else stagedDf
          .groupBy(col(partitionCol).cast("string").as("d"))
          .agg(bloomAggColumn.as("bloom")).collect()
          .map(r => (r.getString(0), r.getAs[Array[Byte]](1))).toSeq
      }
    val preExisting = touched
      .filter(dirName => fs.exists(new Path(s"$dataPath/$dirName")))
      .map(_.stripPrefix(s"$partitionCol=")).toSet
    // conflict window opens BEFORE any file lands (commitSnapshot doc)
    val readBase = currentVersion
    // landing marker BEFORE the first rename (see writeStagedInto doc)
    val landing = writeLandingMarker(s"b$batchId-$ns",
      touched.map(_.stripPrefix(s"$partitionCol=")))
    val myFiles: Map[String, Seq[String]] = touched.map { dirName =>
      val destDir = new Path(s"$dataPath/$dirName")
      fs.mkdirs(destDir)
      // replay cleanup: drop this batch's files from a previous attempt
      fs.listStatus(destDir).toSeq
        .filter(_.getPath.getName.startsWith(filePrefix))
        .foreach(st => fs.delete(st.getPath, false))
      val names = fs.listStatus(new Path(s"$staging/$dirName")).toSeq
        .filter(st => st.isFile && !st.getPath.getName.startsWith("_"))
        .zipWithIndex.map { case (st, i) =>
          val name = s"$filePrefix$i-${st.getPath.getName}"
          fs.rename(st.getPath, new Path(destDir, name))
          name
        }
      dirName.stripPrefix(s"$partitionCol=") -> names
    }.filter(_._2.nonEmpty).toMap
    fs.delete(stagingPath, true)
    // stamp discipline as in [[append]]: readBase pre-commit, actual
    // finalized version after
    upsertBlooms(dayBlooms, preExisting, readBase)
    if (myFiles.nonEmpty) {
      val committedV =
        try commitSnapshot("append-batch", myFiles, readBase + 1,
          Some(s"$tag:${System.currentTimeMillis()}"))
        catch {
        case e: WarehouseTable.CommitIndeterminateException =>
          // manifest possibly published (see [[append]]): never delete
          // the landed files; the landing marker protects them
          throw e
        case e: Throwable =>
          // any other commit failure with the manifest verifiably
          // unpublished: the landed files reference nothing — sweep
          // them so a non-retried caller doesn't leave phantom rows in
          // the live dirs forever
          deleteLanded(myFiles)
          releaseLandingMarker(landing)
          throw e
      }
      restampBlooms(myFiles.keys.toSeq.sorted, committedV, readBase)
    }
    releaseLandingMarker(landing)
    // durable only AFTER the snapshot committed: a crash anywhere above
    // leaves no marker, and the replay re-runs from the manifest check
    writeMetaString(spark, marker.toString, "committed")
    // bound the marker directory: a streaming table commits one marker
    // per micro-batch forever. foreachBatch only ever replays batches
    // AFTER the last checkpoint commit — batchIds are monotonic, so a
    // batch 64 ids back can never replay again (the checkpoint that
    // produced it committed long ago). Sliding window, best-effort (a
    // missed delete is retried at id+64).
    if (batchId >= 64L) {
      val aged = if (ns == "default") s"b${batchId - 64L}"
        else s"$ns-b${batchId - 64L}"
      try { fs.delete(new Path(s"$root/_graft/batches/$aged"), false); () }
      catch { case _: java.io.IOException => () }
    }
    expireOldPartitions()
    autoVacuum()
  }

  /** Insert-if-absent append (dedup-on-ingest): rows whose key already
    * exists ANYWHERE in the table are dropped; the rest append. The
    * first write of a key wins forever — the content-addressed ingest a
    * training-data corpus table needs (key = content hash), where
    * [[merge]]'s last-write-wins would pointlessly rewrite partitions.
    *
    * == 100 TB design ==
    *
    * Existing partitions are NEVER rewritten (no swap, no dest
    * shuffle): the batch's key hashes probe every partition's bloom
    * (the [[bloomCandidateDays]] inverted probe — broadcast O(batch)
    * hashes, read blooms from storage), only the candidate partitions'
    * KEY COLUMNS are scanned for the anti-join (pruned explicit
    * schema), and the surviving rows flow to a plain [[append]]. A
    * batch with no bloom hits touches zero data files.
    *
    * Naturally idempotent: a replayed batch anti-joins away the rows
    * its previous attempt appended (content-keyed exactly-once without
    * batchId bookkeeping). The batch must be key-unique within itself
    * (pre-dedup with `DedupOps.exactDedup`/`incrementalExactDedup`).
    * Returns the appended (routed) rows.
    */
  def insertNewOnly(df: DataFrame, partitionTimeCol: String = "partitionTime"): DataFrame = {
    df.cache()
    try {
      // no .distinct(): the batch is key-unique by contract (doc above),
      // so the raw hash projection collects the same set without an
      // aggregation exchange — one job instead of an AQE round-trip.
      // The LIMIT caps driver heap: a backfill over the gate probes via
      // one distributed batch bloom instead (fixed bytes to the driver)
      val hashGate = math.min(
        WarehouseTable.appendHashCollectMaxRows, (Int.MaxValue - 1).toLong)
      val hashDf = df.select(xxhash64(keyString(keyFields.map(col))).as("h"))
      val taken = hashDf.limit(hashGate.toInt + 1).collect().map(_.getLong(0))
      if (taken.isEmpty) return df // empty batch: nothing to do
      // bulk on the RAW take length (a truncated take's distinct is not
      // the batch's key set); probe ALL partitions (empty batch-day
      // exclusion), keys could be anywhere. A bulk batch skips the
      // probe entirely: the anti-join below is then ONE exact
      // keys-only column-pruned pass over every partition — strictly
      // cheaper than any separate discovery pass at backfill scale,
      // since discovery itself would scan the same key columns
      val candDays =
        if (taken.length <= hashGate) bloomCandidateDays(taken.distinct, Seq.empty)
        else {
          WarehouseTable.bulkMergePaths.incrementAndGet()
          listDays()
        }
      val keySet = keyFields.toSet
      val keySchema = StructType(schema.fields.filter(f => keySet.contains(f.name)))
      val fresh =
        if (candDays.isEmpty) df
        else df.join(
          readWithTableSchema(candDays, Some(keySchema)),
          keyFields, "left_anti")
      append(fresh, partitionTimeCol)
    } finally { df.unpersist(); () }
  }

  // ---- merge (J1/J2 against a real partitioned table) ----

  /** Partition-pruned upsert(/delete) MERGE of a staged micro-batch
    * (`{key, value, i, partitionTime, batchNumber}`, the intermediate
    * shape of `SchemaManager.java:622-672`) into this table — the
    * native-Spark `MergeQueries.upsertDeleteMergeFlushQuery`.
    *
    * Semantics (mirroring BigQuery MERGE):
    *  - batch deduped per key by greatest `i` (A1);
    *  - matched + value → UPDATE in place (row keeps its partition);
    *  - matched + null value → DELETE (when `delete`);
    *  - unmatched + value → INSERT into `date(partitionTime)` partition,
    *    day-truncated exactly like `CAST(CAST(DATE(src.partitionTime) AS
    *    DATE) AS TIMESTAMP)` (`MergeQueries.java:429-452`).
    *
    * A batch of at most `broadcastMaxRows` rows rewrites only the dest
    * files holding one of its keys; a larger one rewrites its candidate
    * days whole through the sort-merge [[mergeJoin]] ([[mergeFlush]]).
    * No flush rewrites whole days for layout's sake: file layout is
    * left to compaction ([[compactSmall]], [[compactPartitions]]).
    *
    * Returns the set of partition days the flush scanned.
    */
  def merge(staged: DataFrame, delete: Boolean = true,
      broadcastMaxRows: Long = WarehouseTable.broadcastMergeMaxRows): Seq[String] = {
    val src = MergeOps.latestPerKey(staged)
    // when delete is off, a (precondition-violating) tombstone updates
    // matched rows to null values and inserts null-value rows — exactly
    // the full-outer plan's behavior
    val live = if (delete) col("value").isNotNull else lit(true)
    mergeFlush("merge", src, mustMatch = lit(true), mayInsert = live,
      broadcastMaxRows)(
      matchedRows = (survivors, matched, snap) => {
        // updates keep the dest row's day; inserts are the live batch
        // keys no dest row matched
        val liveRows = src.where(live).as("s")
        val updates = matched.as("m")
          .join(broadcast(liveRows), keyMatch("m"), "inner")
          .select(keyFields.map(f => col(s"m.`$f`").as(f)) ++
            batchValues(src, snap, "s.") :+
            col(s"m.$partitionCol").as(partitionCol): _*)
        val matchedKeys = matched.select(keyFields.map(f => col(s"`$f`")): _*)
        val inserts = liveRows
          .join(broadcast(matchedKeys.as("m")), keyMatch("m"), "left_anti")
        survivors.unionByName(updates).unionByName(batchRows(inserts, snap))
      },
      dayRows = (dest, _, snap) => mergeJoin(dest, src, delete, snap))
  }

  /** J3 delete-only MERGE against the table (`MergeQueries.java:310-412`):
    * tombstone-fence the batch, delete dest rows whose key has a
    * surviving tombstone, then plain-insert every surviving
    * non-tombstone row into its `date(partitionTime)` partition
    * (duplicates allowed, as in the reference's delete-only mode). Same
    * flush as [[merge]]: only tombstones need to find existing rows.
    */
  def mergeDeleteOnly(staged: DataFrame): Seq[String] = {
    val fenced = MergeOps.tombstoneFence(staged)
    val tomb = col("value").isNull
    mergeFlush("merge-delete", fenced, mustMatch = tomb, mayInsert = !tomb,
      WarehouseTable.broadcastMergeMaxRows)(
      matchedRows = (survivors, _, snap) =>
        survivors.unionByName(batchRows(fenced.where(!tomb), snap)),
      dayRows = (dest, bulk, snap) => {
        // a bulk tombstone set no longer fits an executor: shuffled
        // anti-join instead of a broadcast one
        val tombKeys = fenced.where(tomb).select(col("key")).as("s")
        dest.as("d")
          .join(if (bulk) tombKeys else broadcast(tombKeys), keyMatch("d"), "left_anti")
          .unionByName(batchRows(fenced.where(!tomb), snap))
      })
  }

  /** The one flush behind [[merge]] and [[mergeDeleteOnly]]; each mode
    * supplies only what differs:
    *
    *  - `batch`: the prepared batch (`key`, `value`, `partitionTime`
    *    structs and columns), cached for the flush;
    *  - `mustMatch`: the batch rows that must find their key's existing
    *    row — they drive the bloom probe and the matched-file join;
    *  - `mayInsert`: the batch rows that may add their key to their
    *    slice day — their hashes join that day's bloom;
    *  - `matchedRows(survivors, matched, snap)`: the new rows replacing
    *    the matched files, given those files' rows no batch key hits
    *    and the matched dest keys (key columns + `_pday`);
    *  - `dayRows(dest, bulk, snap)`: the new rows of whole candidate days.
    *
    * One rule picks the plan: a batch that fits the driver (at most
    * [[WarehouseTable.appendHashCollectMaxRows]] rows) and has at most
    * `fileGranularMaxRows` rows rewrites only the dest files holding a
    * matched key and carries every other file forward
    * ([[matchFiles]]); anything larger rewrites its candidate days.
    *
    * Blooms: the file-granular flush unions the batch's insert hashes
    * into the touched day blooms driver-side ([[unionBloomsAfterSwap]]).
    * Every whole-day flush, every [[WarehouseTable.bloomRebuildEvery]]-th
    * version and any flush scanning a day whose bloom needs healing
    * ([[bloomNeedsHeal]]) instead write EXACT blooms of every scanned
    * day's new file set — carried plus staged files ([[exactBlooms]]) —
    * computed before the claim and written inside it.
    */
  private def mergeFlush(op: String, batch: DataFrame, mustMatch: Column,
      mayInsert: Column, fileGranularMaxRows: Long)(
      matchedRows: (DataFrame, DataFrame, StructType) => DataFrame,
      dayRows: (DataFrame, Boolean, StructType) => DataFrame): Seq[String] = {
    batch.cache()
    try {
      // conflict window opens before the dest read (claimCommit doc)
      val readBase = currentVersion
      val probe = batch.select(stagedSlice("").as("d"),
        xxhash64(keyString(keyFields.map(f => col(s"key.$f")))).as("h"),
        mustMatch.as("match"), mayInsert.as("ins"))
      // ONE capped collect (and one cache materialization) serves the
      // emptiness check, the row count, the touched-day set, the bloom
      // probe's key hashes AND the post-swap bloom union. The raw
      // projection needs no aggregation exchange, so the collect is a
      // single stage (one job fewer per flush). The LIMIT is the
      // driver-heap gate (the append fold's row bound): a
      // backfill-scale batch over it takes the BULK path below, where
      // nothing per-row ever crosses the driver.
      val hashGate = math.min(
        WarehouseTable.appendHashCollectMaxRows, (Int.MaxValue - 1).toLong)
      val dayHash = WarehouseTable.prof("merge.probeCollect") {
        probe.limit(hashGate.toInt + 1).collect() }
      if (dayHash.isEmpty) return Seq.empty // nothing staged → nothing to rewrite
      val bulk = dayHash.length > hashGate
      val (batchDays, candDays, insertHashes) =
        if (!bulk) WarehouseTable.prof("merge.candidateDays") {
          val matchHashes = dayHash.filter(_.getBoolean(2)).map(_.getLong(1)).distinct
          // insert hashes per slice day: exactly the keys the flush can
          // ADD to that day — matched keys are already in their dest
          // day's bloom
          val insByDay = dayHash
            .filter(r => r.getBoolean(3) && r.getString(0) != null)
            .groupBy(_.getString(0)).map { case (d, rs) => d -> rs.map(_.getLong(1)) }
          val bd = dayHash.map(_.getString(0)).filter(_ != null).distinct.toSeq
          (bd, bloomCandidateDays(matchHashes, bd), insByDay)
        } else {
          // BULK path (ad-hoc backfill): the day set via a distributed
          // distinct (O(days) rows back), candidate days via the exact
          // keys semi-join, blooms exact from the staging output
          WarehouseTable.bulkMergePaths.incrementAndGet()
          val bd = WarehouseTable.prof("merge.bulk.days") {
            probe.select(col("d")).where(col("d").isNotNull)
              .distinct().collect().map(_.getString(0)).toSeq }
          val matchKeys = batch.where(mustMatch)
            .select(keyFields.map(f => col(s"key.$f").as(f)): _*)
          val cand = WarehouseTable.prof("merge.bulk.candidateDays") {
            exactCandidateDays(matchKeys, bd) }
          (bd, cand, Map.empty[String, Array[Long]])
        }
      val days = (batchDays ++ candDays).distinct.sorted

      // ONE schema snapshot for the whole op: the dest read, the update
      // and insert column lists, and the union all see the same fields.
      // A concurrent evolveSchema between two `schema` reads inside one
      // merge would otherwise tear the plan (soak-found: dest read with
      // the evolved schema unions against batch-shaped updates →
      // CANNOT_RESOLVE_COLUMN). The evolved field reaches these rows on
      // the NEXT flush; reads conform it to NULL meanwhile.
      val snap = schema
      // `!bulk` is explicit (not implied by the row ceiling, which tests
      // shrink independently): the bulk path keeps no per-row driver state
      val fileGranular = !bulk && dayHash.length <= fileGranularMaxRows
      val (merged, matchedFiles) =
        if (fileGranular) WarehouseTable.prof("merge.fgPlan") {
          val (survivors, matched, files) =
            matchFiles(days, batch.where(mustMatch).select(col("key")), snap)
          (matchedRows(survivors, matched, snap), files)
        } else (dayRows(readCommitted(days, snap), bulk, snap), Map.empty[String, Seq[String]])
      val staging = s"$root/.merge-${UUID.randomUUID().toString.take(8)}"
      val preExisting = days.filter(d =>
        fs.exists(new Path(s"$dataPath/$partitionCol=$d"))).toSet
      WarehouseTable.prof("merge.stagingWrite") {
        guardStaleRead(clusteredWrite(merged).write
          .mode(SaveMode.Overwrite).partitionBy(partitionCol).parquet(staging)) }
      val stagedFiles = stagedDayFiles(staging)
      val affected = (matchedFiles.keySet ++ stagedFiles.keySet).toSeq.sorted

      // exact blooms on the tightening cadence decided on the EXPECTED
      // version readBase+1 — a re-sequenced claim slips the tightening a
      // version, a maintenance schedule, not a correctness property
      val exact = !fileGranular ||
        (readBase + 1) % WarehouseTable.bloomRebuildEvery == 0 ||
        days.exists(bloomNeedsHeal)
      // an exact flush rewrites every scanned day's bloom, so it commits
      // all of them (a concurrent append to one aborts and re-unions its
      // keys — the writeExactBlooms argument); a union flush commits
      // only the days whose files change
      val touched = if (exact) days else affected
      val atBase =
        if (!exact || !fileGranular) Map.empty[String, Seq[String]]
        else try readManifest(readBase)
        catch { case _: java.io.IOException => Map.empty[String, Seq[String]] }
      // the files of day `d` at readBase this flush carries forward
      def carried(d: String): Seq[String] = atBase.getOrElse(d, Seq.empty)
        .filterNot(matchedFiles.getOrElse(d, Seq.empty).toSet)
      val blooms = if (!exact) None else Some(WarehouseTable.prof("merge.exactBlooms") {
        exactBlooms(Seq(dataPath -> touched.map(d => d -> carried(d)).toMap,
          staging -> stagedFiles)) })
      val v = WarehouseTable.prof("merge.claim") {
        claimCommit(op, days, readBase + 1) }
      // the file-granular plan replaces the matched files of the days
      // whose files change; the whole-day plan replaces its days whole
      val replaced = if (!fileGranular) None
        else Some(affected.map(d => d -> matchedFiles.getOrElse(d, Seq.empty)).toMap)
      WarehouseTable.prof("merge.publish") {
        publish(op, v, touched, Some(staging), stagedFiles, replaced) { entries =>
          blooms match {
            // the new entries differ from the files the blooms were
            // built from only when a concurrent vacuum removed readBase's
            // manifest before it was read — then the blooms may miss
            // carried keys: drop them (missing reads as always-candidate;
            // the next exact flush heals)
            case Some(bs) if touched.forall(d => entries(d).toSet ==
                (carried(d) ++ stagedFiles.getOrElse(d, Seq.empty)).toSet) =>
              writeExactBlooms(touched, bs, v)
            case Some(_) => dropBlooms(touched)
            case None => unionBloomsAfterSwap(days, insertHashes, preExisting, v)
          }
        }
        expireOldPartitions()
        autoVacuum()
      }
      days
    } finally batch.unpersist()
  }

  /** The file-granular dest side of [[mergeFlush]]: the keys-only scan
    * of `days` also carries `input_file_name`, so its inner join against
    * `matchKeys` (a `key` struct column) yields the EXACT matched
    * (day, file) set, and only those files are read in full. Returns
    * (the matched files' rows no such key hits, the matched dest keys
    * with their `_pday`, day → matched file names). Every unmatched file
    * carries forward without a byte of I/O: a 10-key flush into a day of
    * hundreds of clustered files reads and rewrites a handful. Every
    * join broadcasts the batch-bounded side; the dest is never shuffled.
    */
  private def matchFiles(days: Seq[String], matchKeys: DataFrame,
      snap: StructType): (DataFrame, DataFrame, Map[String, Seq[String]]) = {
    // keys + slice + file name only: Catalyst prunes the scan to the
    // key columns' pages
    val destKeys = readCommitted(days, snap).select(
      keyFields.map(f => col(s"`$f`")) :+ col(partitionCol) :+
        element_at(split(input_file_name(), "/"), -1).as("_gfile"): _*)
    // matched dest rows (≤ batch keys): ONE bounded collect serves the
    // matched-file set (driver-side dedup — a distinct() would cost an
    // exchange and an extra AQE job per flush) and, rebuilt as a
    // LocalRelation with the plan's own schema, the callers' matched-key
    // legs — one job, no persisted blocks to free
    val matchedPlan = destKeys.as("d")
      .join(broadcast(matchKeys.as("s")), keyMatch("d"), "inner")
      .select(keyFields.map(f => col(s"d.`$f`").as(f)) :+
        col(s"d.$partitionCol").as(partitionCol) :+
        col(s"d.$partitionCol").cast("string").as("_gday") :+ col("_gfile"): _*)
    val matchedDest = WarehouseTable.prof("merge.fgPlan.touchedCollect") {
      guardStaleRead(matchedPlan.collect()) }
    val matched = spark.createDataFrame(
      java.util.Arrays.asList(matchedDest: _*), matchedPlan.schema)
    val files: Map[String, Seq[String]] = matchedDest
      .groupBy(_.getAs[String]("_gday"))
      .map { case (d, rs) =>
        d -> rs.map(_.getAs[String]("_gfile")).distinct.toSeq.sorted }
    val paths = files.toSeq.flatMap { case (d, names) =>
      names.map(n => s"$dataPath/$partitionCol=$d/$n")
    }
    val destMatched =
      if (paths.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          snap.add(partitionCol, "string"))
      else guardStaleRead(conformToSchema(spark.read.schema(snap)
        .option("basePath", dataPath).parquet(paths: _*), snap))
    val survivors = destMatched.as("d")
      .join(broadcast(matchKeys.as("s")), keyMatch("d"), "left_anti")
    (survivors, matched, files)
  }

  /** Equality of the `dest`-aliased key columns with the batch's
    * `s.key` struct fields.
    */
  private def keyMatch(dest: String): Column =
    keyFields.map(f => col(s"$dest.$f") === col(s"s.key.$f")).reduce(_ && _)

  /** The op's snapshot value fields from a batch's `value` struct
    * (qualified by `prefix`), fields the batch lacks as typed NULLs
    * ([[mergeValueFields]]).
    */
  private def batchValues(batch: DataFrame, snap: StructType,
      prefix: String): Seq[Column] =
    mergeValueFields(batch, snap).map { case (f, inBatch) =>
      if (inBatch) col(s"${prefix}value.`${f.name}`").as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }

  /** Batch rows as new dest rows, routed to their slice day. */
  private def batchRows(rows: DataFrame, snap: StructType): DataFrame =
    rows.select(keyFields.map(f => col(s"key.$f").as(f)) ++
      batchValues(rows, snap, "") :+ stagedSlice("").as(partitionCol): _*)

  /** Non-key fields of the op's schema snapshot, each flagged with
    * whether the batch's `value` struct carries it. Fields the batch
    * lacks relax to NULL on update/insert (the engine's relaxation
    * semantics — [[graft.streaming.MergePipeline]] conforms batches the
    * same way); batch fields ABSENT from the snapshot fail loud — they
    * would otherwise be dropped silently, so the caller must evolve the
    * table schema first.
    */
  private def mergeValueFields(src: DataFrame,
      snap: StructType): Seq[(StructField, Boolean)] = {
    val vfs = src.schema("value").dataType.asInstanceOf[StructType].fieldNames.toSet
    val keySet = keyFields.toSet
    val valueFields = snap.fields.toSeq.filterNot(f => keySet.contains(f.name))
    val unknown = vfs -- valueFields.map(_.name).toSet
    require(unknown.isEmpty,
      s"batch value fields ${unknown.mkString(", ")} are not in the table " +
        "schema — evolve the table schema before merging")
    valueFields.map(f => f -> vfs.contains(f.name))
  }

  /** Insert-routing slice for a staged upsert row: the configured record
    * field (inside `value`) when column-based partitioning is on, else
    * the staged `partitionTime`. NULL for tombstones in field mode
    * (tombstones never insert).
    */
  private def stagedSlice(prefix: String): Column = options.partitionField match {
    case Some(f) => sliceExpr(col(s"${prefix}value.`$f`"))
    case None => sliceExpr(col(s"${prefix}partitionTime"))
  }


  /** Generic SQL `MERGE INTO` executor (the [[graft.plans]] DML rule's
    * engine; programmatic callers welcome too). Unlike [[merge]] — the
    * fixed kafka-shaped upsert — this takes the full ANSI clause set:
    * arbitrary join condition, ordered WHEN MATCHED
    * (UPDATE/DELETE [AND cond]), WHEN NOT MATCHED (INSERT [AND cond]),
    * and WHEN NOT MATCHED BY SOURCE (UPDATE/DELETE [AND cond]).
    *
    * Column-reference contract: target columns are addressed
    * `col("__t.<name>")` (the dest scan is aliased `__t`; `<name>`
    * includes [[partitionCol]]), source columns by the `source`
    * frame's own resolved attributes — the DML rule rewrites the
    * analyzed expressions into exactly this shape.
    *
    * == 100 TB design ==
    *
    * Day-pruned copy-on-write: ONE distributed semi-join discovers the
    * exact partition days holding any match (no per-row driver state),
    * insert destinations come from evaluating the insert slice
    * assignment over the (clause-filtered) source, and only that day
    * set is read, merged and atomically swapped — days outside it are
    * never touched. `WHEN NOT MATCHED BY SOURCE` inherently reads
    * every day (its predicate ranges over unmatched target rows).
    * Rows may MOVE days (`UPDATE SET … _pday = …`, or INSERT-star
    * carrying a new slice): destinations are discovered from the
    * staged output and the merge re-runs once with the widened read
    * set — the second pass reaches a fixpoint by construction (same
    * input rows ⇒ same destinations). Touched-day blooms rebuild
    * EXACT from staging. One commit, snapshot-isolated, time-travelable.
    *
    * Not enforced (documented divergence from ANSI): the
    * multiple-source-rows-match-one-target-row cardinality error; the
    * first-clause-wins evaluation order IS enforced.
    */
  def mergeInto(source: DataFrame, condition: Column,
      matched: Seq[MergeIntoClause], notMatched: Seq[MergeIntoClause],
      notMatchedBySource: Seq[MergeIntoClause]): Seq[String] = {
    require((matched ++ notMatched ++ notMatchedBySource).nonEmpty,
      "MERGE needs at least one WHEN clause")
    notMatched.foreach(c => require(c.isInstanceOf[MergeIntoInsert],
      "WHEN NOT MATCHED supports only INSERT"))
    (matched ++ notMatchedBySource).foreach(c =>
      require(!c.isInstanceOf[MergeIntoInsert],
        "WHEN [NOT] MATCHED [BY SOURCE] supports only UPDATE/DELETE"))
    val snap = schema
    val readBase = currentVersion
    val allDays = listDays()
    val outFields = snap.fields.toSeq :+ StructField(partitionCol, StringType)
    def emptyDest = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(snap.fields :+ StructField(partitionCol, StringType)))

    // exact match-day discovery: one semi-join, O(days) back
    val matchDays: Seq[String] =
      if (allDays.isEmpty || (matched.isEmpty && notMatched.isEmpty)) Seq.empty
      else guardStaleRead(readCommitted(allDays, snap).as("__t")
        .join(source, condition, "left_semi")
        .select(col(partitionCol).cast("string"))
        .distinct().collect()).map(_.getString(0)).toSeq
    // insert destinations, evaluated over the clause-filtered source
    // (a superset of the actually-inserted rows — sound)
    val insertDays: Seq[String] = notMatched.flatMap {
      case MergeIntoInsert(cond, assigns) =>
        val slice = assigns.getOrElse(partitionCol,
          throw new IllegalArgumentException(
            s"graft MERGE: every INSERT clause must assign $partitionCol " +
              "(the partition slice the row lands in)"))
        cond.fold(source)(source.where(_))
          .select(slice.cast("string").as("d")).where(col("d").isNotNull)
          .distinct().collect().map(_.getString(0)).toSeq
      case _ => Seq.empty
    }.distinct

    var readSet: Set[String] =
      if (notMatchedBySource.nonEmpty) allDays.toSet
      else (matchDays ++ insertDays.filter(allDays.contains)).toSet
    if (readSet.isEmpty && insertDays.isEmpty) return Seq.empty

    def firstClause(clauses: Seq[MergeIntoClause],
        value: MergeIntoClause => Column, default: Column): Column =
      clauses.foldRight(default)((cl, els) =>
        when(coalesce(cl.cond.getOrElse(lit(true)), lit(false)), value(cl))
          .otherwise(els))

    // ANSI cardinality rule: >1 source rows matching one target row
    // (with an applicable clause) is an error, not silent duplication.
    // One window shuffle on the merged days; opt out for a known-keyed
    // source with spark.graft.merge.cardinalityCheck=false.
    val cardinalityCheck =
      spark.conf.get("spark.graft.merge.cardinalityCheck", "true").toBoolean

    def buildMerged(dest: DataFrame): DataFrame = {
      val t = dest.withColumn("__t_present", lit(true))
        .withColumn("__t_rid", monotonically_increasing_id()).as("__t")
      val s = source.withColumn("__s_present", lit(true))
      val joined = t.join(s, condition, "full_outer")
      val tp = coalesce(col("__t_present"), lit(false))
      val sp = coalesce(col("__s_present"), lit(false))
      def tcol(f: String) = col(s"__t.`$f`")
      def matchedVal(f: StructField) = firstClause(matched, {
        case MergeIntoUpdate(_, as) =>
          as.getOrElse(f.name, tcol(f.name)).cast(f.dataType)
        case _ => tcol(f.name) // DELETE: value irrelevant, row dropped
      }, tcol(f.name))
      def bySourceVal(f: StructField) = firstClause(notMatchedBySource, {
        case MergeIntoUpdate(_, as) =>
          as.getOrElse(f.name, tcol(f.name)).cast(f.dataType)
        case _ => tcol(f.name)
      }, tcol(f.name))
      def insertVal(f: StructField) = firstClause(notMatched, {
        case MergeIntoInsert(_, as) =>
          as.get(f.name).map(_.cast(f.dataType))
            .getOrElse(lit(null).cast(f.dataType))
        case _ => lit(null).cast(f.dataType)
      }, lit(null).cast(f.dataType))
      val anyMatchedApplies =
        firstClause(matched, _ => lit(true), lit(false))
      val multiMatch =
        if (!cardinalityCheck || matched.isEmpty) lit(false)
        else count(when(sp, 1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("__t_rid"))) > 1
      val matchedKeep =
        when(multiMatch && anyMatchedApplies, raise_error(lit(
          "graft MERGE: multiple source rows matched a single target row " +
            "with an applicable WHEN MATCHED clause (ANSI cardinality " +
            "violation); dedup the source, or set " +
            "spark.graft.merge.cardinalityCheck=false")).cast("boolean"))
        .otherwise(firstClause(matched,
          cl => lit(!cl.isInstanceOf[MergeIntoDelete]), lit(true)))
      val keep =
        when(tp && sp, matchedKeep)
        .when(!tp && sp,
          firstClause(notMatched, _ => lit(true), lit(false)))
        .otherwise( // target-only
          firstClause(notMatchedBySource,
            cl => lit(!cl.isInstanceOf[MergeIntoDelete]), lit(true)))
      val cols = outFields.map { f =>
        when(tp && sp, matchedVal(f))
          .when(!tp && sp, insertVal(f))
          .otherwise(bySourceVal(f))
          .cast(f.dataType).as(f.name)
      }
      // keep is materialized as a column first: it may carry the
      // cardinality window, which cannot sit inside a WHERE clause
      val merged = joined.withColumn("__keep", keep)
        .where(col("__keep")).select(cols: _*)
      // a surviving row with no slice cannot be routed — fail loudly
      // (covers INSERT clauses that assigned a null _pday)
      merged.withColumn(partitionCol,
        when(col(partitionCol).isNull, raise_error(lit(
          s"graft MERGE: a result row has a null $partitionCol slice — " +
            "INSERT/UPDATE must produce a non-null partition day")))
          .otherwise(col(partitionCol)))
    }

    // stage; if rows moved into existing days we did not read, widen the
    // read set and re-run once (destinations are input-determined, so
    // the second pass is a fixpoint)
    var staging: String = null
    var stagedFiles: Map[String, Seq[String]] = Map.empty
    var done = false
    while (!done) {
      val dest =
        if (readSet.isEmpty) emptyDest
        else readCommitted(readSet.toSeq.sorted, snap)
      val result = buildMerged(dest)
      staging = s"$root/.merge-${UUID.randomUUID().toString.take(8)}"
      guardStaleRead(clusteredWrite(result).write
        .mode(SaveMode.Overwrite).partitionBy(partitionCol).parquet(staging))
      stagedFiles = stagedDayFiles(staging)
      val extra = (stagedFiles.keySet -- readSet).filter(allDays.contains)
      if (extra.isEmpty) done = true
      else { fs.delete(new Path(staging), true); readSet = readSet ++ extra }
    }
    val days = (readSet ++ stagedFiles.keySet).toSeq.distinct.sorted
    if (days.isEmpty) { fs.delete(new Path(staging), true); return Seq.empty }
    // exact blooms: arbitrary updates/deletes make union-maintenance
    // unsound here, and the staging IS the touched days' new generation
    val blooms = exactBlooms(Seq(staging -> stagedFiles))
    val v = claimCommit("merge-into", days, readBase + 1)
    publish("merge-into", v, days, Some(staging), stagedFiles, None)(_ =>
      writeExactBlooms(days, blooms, v))
    expireOldPartitions()
    autoVacuum()
    days
  }

  /** The whole-day plan for bulk and over-ceiling batches: a pruned
    * full-outer merge join (sort-merge — full-outer cannot broadcast).
    * Updates keep the dest row's partition day; inserts get their slice.
    */
  private def mergeJoin(dest: DataFrame, src: DataFrame, delete: Boolean,
      snap: StructType): DataFrame = {
    val joined = dest.as("d").join(src.as("s"), keyMatch("d"), "full_outer")
    val srcPresent = col("s.key").isNotNull
    val base =
      if (delete) joined.where(!(srcPresent && col("s.value").isNull))
      else joined
    // matched rows take the batch value for every snapshot field (absent
    // batch fields relax to NULL — same as the file-granular plan);
    // survivors keep their dest values
    base.select(
      keyFields.map(f => coalesce(col(s"s.key.$f"), col(s"d.$f")).as(f)) ++
        mergeValueFields(src, snap).map { case (f, inBatch) =>
          val fromSrc =
            if (inBatch) col(s"s.value.`${f.name}`")
            else lit(null).cast(f.dataType)
          when(srcPresent, fromSrc).otherwise(col(s"d.`${f.name}`")).as(f.name)
        } :+
        coalesce(col(s"d.$partitionCol"), stagedSlice("s.")).as(partitionCol): _*)
  }

  // ---- bloom key index ----

  /** Day blooms store `xxhash64(keyString)` longs probed with
    * `mightContainLong`, behind the `GFB3` magic
    * ([[WarehouseTable.BloomMagic]]). A bloom of any other content is
    * probe-INCOMPATIBLE — probing it with these hashes could return
    * false negatives, which silently drops partitions from the merge
    * scan set (lost updates). So a file without the magic is treated as
    * MISSING (the day falls back into the scan set — only ever extra
    * work, never wrong results) and is rebuilt on the next refresh.
    */
  private def bloomDir = s"$root/_graft/bloom2"

  // \u0001 separator so multi-field keys cannot alias ("ab","c") vs ("a","bc")
  private def keyString(cols: Seq[Column]): Column =
    concat_ws("\u0001", cols.map(_.cast("string")): _*)

  /** The shared bloom-building aggregate: Spark's native (codegen'd)
    * `BloomFilterAggregate` over `xxhash64(key)`, sized identically for
    * every bloom this table writes — identical sizing is what makes two
    * blooms of the same table mergeable (same bit width, same hash
    * count), which [[upsertBlooms]] relies on.
    */
  private def bloomAgg(child: Column): Column = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftbridge.Bridge
    val items = WarehouseTable.bloomExpectedItems
    Bridge.column(new BloomFilterAggregate(
      Bridge.expression(child),
      Bridge.expression(lit(items)),
      Bridge.expression(lit(BloomFilter.optimalNumOfBits(items, 0.01))))
      .toAggregateExpression())
  }

  private def bloomAggColumn: Column =
    bloomAgg(xxhash64(keyString(keyFields.map(col))))

  /** Total record count of the given parquet files, straight from
    * their footers — O(files) driver-side metadata reads, no data
    * pages. Feeds the bloom-fold row gate.
    */
  private def parquetRowCount(paths: Seq[Path]): Long =
    paths.map { p =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(p, spark.sparkContext.hadoopConfiguration)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }.sum

  /** Build per-day blooms on the driver from raw (day, key-hash) rows —
    * bit-identical sizing to [[bloomAgg]], so the results stay
    * mergeable with aggregate-built blooms. O(batch) input by the
    * callers' byte gates; rows with a null day are skipped.
    */
  private def driverDayBlooms(
      pairs: Array[org.apache.spark.sql.Row]): Seq[(String, Array[Byte])] = {
    val items = WarehouseTable.bloomExpectedItems
    pairs.filter(_.getString(0) != null).groupBy(_.getString(0))
      .map { case (d, rs) =>
        val b = BloomFilter.create(items, BloomFilter.optimalNumOfBits(items, 0.01))
        rs.foreach(r => b.putLong(r.getLong(1)))
        val bos = new java.io.ByteArrayOutputStream()
        b.writeTo(bos)
        d -> bos.toByteArray
      }.toSeq
  }

  /** EXACT per-day key blooms of a swap's new file sets, in ONE
    * aggregation over the key columns only. `groups` pairs a base dir
    * holding `_pday=<day>/` subdirs with day → file names under it: a
    * rewrite of whole days passes its staged files; a file-granular
    * flush adds the files it carries forward in `data/`. Two properties matter: the
    * distributed scan runs BEFORE the caller claims its commit (a
    * rebuild inside the claim held it long enough to time out every
    * concurrent committer's claim wait), and it reads
    * only the caller's private staging files plus committed files the
    * claim walk guards (a commit replacing one aborts the caller's
    * claim), so no concurrent swap can race it into a stale bloom (a
    * post-finalize rebuild over live dirs could overwrite a newer
    * merge's bloom with content missing its keys — a superset
    * violation). The caller writes the result driver-side in-claim via
    * [[writeExactBlooms]] (O(days) metadata writes, microseconds).
    */
  private def exactBlooms(
      groups: Seq[(String, Map[String, Seq[String]])]): Map[String, Array[Byte]] = {
    val keySet = keyFields.toSet
    val keySchema = StructType(schema.fields.filter(f => keySet.contains(f.name)))
      .add(StructField(partitionCol, StringType))
    // guarded at CONSTRUCTION too: DataSource resolution checks path
    // existence eagerly, so a concurrent swap archiving a carried file
    // must surface as the typed retryable CME (readCommitted's contract)
    val reads = guardStaleRead(groups.flatMap { case (base, files) =>
      val paths = files.toSeq.flatMap { case (d, names) =>
        names.map(n => s"$base/$partitionCol=$d/$n") }
      if (paths.isEmpty) None
      else Some(spark.read.option("basePath", base).schema(keySchema).parquet(paths: _*))
    })
    if (reads.isEmpty) Map.empty
    else guardStaleRead(reads.reduce(_ unionByName _)
      .groupBy(col(partitionCol).cast("string").as("d"))
      .agg(bloomAggColumn.as("bloom")).collect())
      .map(r => (r.getString(0), r.getAs[Array[Byte]](1))).toMap
  }

  /** Write one format-3 bloom file: magic, the commit-version stamp the
    * content covers (the exact-staleness witness [[describeHealth]]
    * counts against), then the serialized filter.
    */
  private def writeBloomFile(p: Path, stamp: Long,
      write: java.io.OutputStream => Unit): Unit = {
    val out = new BufferedOutputStream(fs.create(p, true))
    try {
      out.write(WarehouseTable.BloomMagic)
      out.write(java.nio.ByteBuffer.allocate(8).putLong(stamp).array())
      write(out)
    } finally out.close()
  }

  /** Serialize bloom-sidecar writes table-wide. Every writer of a day
    * bloom is a read-modify-write ([[upsertBlooms]] merges,
    * [[restampBlooms]] re-reads then rewrites) or a blind overwrite
    * ([[writeExactBlooms]], [[refreshBlooms]]) of a SHARED file with no
    * other mutual exclusion: two concurrent appends to the same day
    * could each merge into the bloom they read and the last write drop
    * the other's keys — an UNDER-approximating bloom, whose missed
    * probe inserts a duplicate key on a later merge (the one unsound
    * direction). The same lease-style nonced lock as [[evolveSchema]]
    * (atomic create-if-absent; stale after
    * [[WarehouseTable.bloomLeaseStaleMs]] — sections are
    * driver-side ms, so a minute of hold can only be a dead writer)
    * makes each bloom critical section atomic. Ordering is one-way
    * (commit claim, THEN bloom lease; never the reverse), so no
    * deadlock. Returns None when the lease cannot be acquired within
    * the claim-wait budget — callers fall back to the conservative
    * direction (drop the touched blooms: missing reads as
    * always-candidate) instead of writing unserialised.
    *
    * FENCED (advisor-found): the lease is breakable after
    * [[WarehouseTable.bloomLeaseStaleMs]], and a holder stalled past
    * that (GC pause, FS hang) whose read-merge-write completes AFTER
    * the break would overwrite the interleaving writer's bloom with a
    * merge based on pre-break content — dropping that writer's keys,
    * the one unsound (under-approximating) direction. The nonce check
    * on release can't prevent the torn WRITE, so after the critical
    * section the lock is re-read: if the nonce is no longer ours, the
    * `touched` days' blooms are DROPPED — always sound (missing reads
    * as always-candidate; the next exact pass heals) — so a lost lease
    * degrades to the conservative fallback instead of a torn write.
    */
  private def withBloomLease[T](touched: Iterable[String])
      (body: => T): Option[T] = {
    fs.mkdirs(new Path(bloomDir))
    val lock = s"$bloomDir/.lease"
    val nonce = UUID.randomUUID().toString
    val deadline = System.currentTimeMillis() + WarehouseTable.bloomLeaseWaitMs
    var backoff = 5L
    while (System.currentTimeMillis() <= deadline) {
      if (tryWriteNewMetaString(spark, lock,
          s"${System.currentTimeMillis()}:$nonce")) {
        try return Some(body)
        finally {
          // release only what is still ours: a breaker that misjudged
          // this lease as stale may have reaped it already
          val mine =
            try readMetaString(spark, lock).trim.endsWith(s":$nonce")
            catch { case _: java.io.IOException => false }
          if (mine) fs.delete(new Path(lock), false)
          // lease lost mid-section (broken as stale, possibly re-held
          // by another writer): our writes may have torn theirs — drop
          // to the conservative direction rather than leave a bloom
          // that could under-approximate
          else dropBlooms(touched)
        }
      } else {
        val heldTs =
          try readMetaString(spark, lock).trim.split(":").headOption
            .flatMap(_.toLongOption).getOrElse(0L)
          catch { case _: java.io.IOException => -1L } // vanished: retry now
        if (heldTs >= 0L &&
            (heldTs == 0L || System.currentTimeMillis() - heldTs >
              WarehouseTable.bloomLeaseStaleMs)) {
          fs.delete(new Path(lock), false) // break the dead holder's lease
        } else if (heldTs >= 0L) {
          Thread.sleep(backoff)
          backoff = math.min(backoff * 2, 200L)
        }
      }
    }
    None
  }

  /** The conservative bloom fallback: a missing bloom reads as
    * always-candidate, so dropping is always sound (the next exact
    * pass heals the day; [[describeHealth]] reports it meanwhile).
    */
  private def dropBlooms(days: Iterable[String]): Unit =
    days.foreach { d =>
      val p = new Path(s"$bloomDir/$d.bloom")
      if (fs.exists(p)) fs.delete(p, false)
    }

  /** Re-stamp existing day blooms to `stamp` without changing content —
    * for committed ops whose key effect the content ALREADY covers:
    * updateWhere (keys are unassignable) and the append paths, which
    * merge their keys in pre-commit at stamp readBase and bump to the
    * version [[commitSnapshot]] actually finalized once it returns
    * (never the predicted readBase+1 — a re-sequenced commit would be
    * understated and an aborted one could mask a concurrent
    * key-deleting commit at that version). Bumps ONLY blooms already
    * current through the op's read base (`oldStamp >= readBase`): a
    * bloom that had fallen behind (a prior DELETE left it a superset)
    * keeps its old stamp, so the health staleness count keeps
    * recording the tightness loss instead of this op hiding it. Runs
    * under the held claim: a concurrent overlapping append aborts at
    * the claim walk and re-unions its keys on retry, so the
    * read-rewrite here cannot lose a committed key (the
    * [[writeExactBlooms]] argument).
    */
  private def restampBlooms(days: Seq[String], stamp: Long,
      readBase: Long): Unit = {
    // lease-serialized ([[withBloomLease]]): the re-read + rewrite must
    // not span a concurrent merge's read-modify-write. A timed-out
    // lease SKIPS (no drop): the stamp merely stays lower — staleness
    // over-reports, the safe direction — and content is untouched.
    withBloomLease(days) {
      days.foreach { d =>
        val p = new Path(s"$bloomDir/$d.bloom")
        WarehouseTable.readStampedBloom(fs, p).foreach { case (old, b) =>
          // old < stamp: never overwrite a bloom a newer committed op
          // already stamped (its content may be tighter than this read)
          if (old >= readBase && old < stamp) writeBloomFile(p, stamp, b.writeTo(_))
        }
      }
    }
    ()
  }

  /** Install pre-computed exact day blooms after a swap: days absent
    * from the bloom map (swapped away, or holding no file the blooms
    * were built from) lose their bloom — missing blooms read as
    * always-candidate, the conservative direction. Driver-side metadata
    * writes only; safe to run while holding the commit claim. `stamp`
    * is the claim's commit version.
    */
  private def writeExactBlooms(days: Seq[String],
      blooms: Map[String, Array[Byte]], stamp: Long): Unit = {
    fs.mkdirs(new Path(bloomDir))
    val wrote = withBloomLease(days) {
      days.foreach { d =>
        val bloomPath = new Path(s"$bloomDir/$d.bloom")
        blooms.get(d) match {
          case Some(bytes) =>
            writeBloomFile(bloomPath, stamp, _.write(bytes))
          case None =>
            if (fs.exists(bloomPath)) fs.delete(bloomPath, false)
        }
      }
    }
    if (wrote.isEmpty) dropBlooms(days) // lease timeout: conservative
  }

  /** A scanned pre-existing day whose bloom cannot take the driver-side
    * union — missing, or a header without the current magic. Such a
    * flush writes exact blooms ([[mergeFlush]]), which heals the day
    * immediately while keeping distributed work out of the claim
    * window. Header-only probe: 4 bytes, not the whole bloom.
    */
  private def bloomNeedsHeal(d: String): Boolean = {
    if (!fs.exists(new Path(s"$dataPath/$partitionCol=$d"))) return false
    val p = new Path(s"$bloomDir/$d.bloom")
    if (!fs.exists(p)) return true // pre-existing day, no bloom yet
    try {
      val in = fs.open(p)
      try {
        val m = new Array[Byte](WarehouseTable.BloomMagic.length)
        val n = in.read(m)
        n != m.length || !java.util.Arrays.equals(m, WarehouseTable.BloomMagic)
      } finally in.close()
    } catch {
      // vanished between exists and open (a concurrent swap dropped
      // it): missing ⇒ heal — the conservative direction
      case _: java.io.IOException => true
    }
  }

  /** Post-swap bloom maintenance for the merge flush WITHOUT re-reading
    * the rewritten files: the batch's per-day insert key hashes — already
    * on the driver from the probe's day-collect — are unioned into each
    * rewritten day's bloom, driver-side, zero jobs.
    *
    * Valid because a day's post-merge keyset is a subset of
    * (old keyset ∪ batch keys): survivors and updates were in the old
    * bloom, inserts are batch keys routed to their slice day, and
    * deletes only REMOVE keys. The union therefore stays a SUPERSET of
    * the day's keys — the only property [[bloomCandidateDays]] needs
    * for correctness. Deleted keys linger as stale bits, costing
    * candidate scans (never wrong results); staleness is bounded by the
    * periodic exact rebuild — every [[WarehouseTable.bloomRebuildEvery]]
    * -th committed version's flush writes [[exactBlooms]] instead, as
    * does any [[compactPartitions]].
    *
    * Per-day cases: day dir gone after the swap → skipped ([[publish]]
    * already dropped its bloom); fresh day → bloom = exactly the batch
    * hashes routed there; pre-existing day with no batch hashes (pure
    * bloom-candidate that only kept/lost rows) → old bloom untouched
    * (already a superset); pre-existing +
    * batch hashes → old ∪ batch. Any day whose existing bloom is
    * unreadable, of an unknown format, or size-incompatible loses it
    * (missing reads as always-candidate) until the next exact flush.
    */
  private def unionBloomsAfterSwap(days: Seq[String],
      insertHashes: Map[String, Array[Long]],
      preExisting: Set[String], stamp: Long): Unit = {
    fs.mkdirs(new Path(bloomDir))
    val items = WarehouseTable.bloomExpectedItems
    def batchBloom(hashes: Array[Long]): BloomFilter = {
      val b = BloomFilter.create(items, BloomFilter.optimalNumOfBits(items, 0.01))
      hashes.foreach(b.putLong)
      b
    }
    def writeBloom(p: Path, b: BloomFilter): Unit =
      writeBloomFile(p, stamp, b.writeTo(_))
    val rebuild = days.filter { d =>
      val bloomPath = new Path(s"$bloomDir/$d.bloom")
      // a day emptied by the merge (or never created): no bloom to keep
      if (!fs.exists(new Path(s"$dataPath/$partitionCol=$d"))) false
      else {
        val hashes = insertHashes.getOrElse(d, Array.empty[Long])
        if (!preExisting.contains(d)) { writeBloom(bloomPath, batchBloom(hashes)); false }
        else WarehouseTable.readVersionedBloom(fs, bloomPath) match {
          case None => true // missing/unreadable existing bloom: rebuild
          case Some(_) if hashes.isEmpty => false // old bloom already covers
          case Some(old) =>
            try { old.mergeInPlace(batchBloom(hashes)); writeBloom(bloomPath, old); false }
            catch { case scala.util.control.NonFatal(_) => true }
        }
      }
    }
    // failed-union days (unreadable/size-incompatible existing
    // bloom — rare self-heal): DROP the stale bloom instead of a
    // live-dir rebuild scan. Missing blooms read as always-candidate
    // (conservative), and the next periodic exact pass — computed from
    // staging, outside any claim — restores them. This keeps the claim
    // window free of distributed work AND avoids the stale-overwrite
    // race a post-finalize live-dir rebuild would have.
    dropBlooms(rebuild)
  }

  /** Rebuild the key blooms of the given partitions from their live
    * data (the append path's fallback, a clone's baseline) in a SINGLE
    * job: one scan of the touched partitions, one `groupBy(day)` with
    * Spark's native `BloomFilterAggregate` (the codegen'd aggregate
    * behind runtime row-group filtering) over `xxhash64(key)`, one small
    * collect of (day, bloomBytes). The aggregate's buffer lives as an in-memory
    * sketch during partial aggregation and serializes with the sketch's
    * own compact `writeTo` — no Java-serialization round-trips.
    * Partitions that no longer exist get their bloom removed.
    */
  private def refreshBlooms(days: Seq[String], stamp: Long): Unit = {
    val existing = days.filter(d => fs.exists(new Path(s"$dataPath/$partitionCol=$d")))
    days.filterNot(existing.contains).foreach { d =>
      val bloomPath = new Path(s"$bloomDir/$d.bloom")
      if (fs.exists(bloomPath)) fs.delete(bloomPath, false)
    }
    if (existing.isEmpty) return
    val agg = bloomAggColumn
    // key columns only: the bloom needs nothing else, and handing the
    // reader a pruned explicit schema keeps the rebuild scan to the key
    // columns' pages (no footer-merge job, no value-column I/O)
    val keySet = keyFields.toSet
    val keySchema = StructType(schema.fields.filter(f => keySet.contains(f.name)))
    // the distributed rebuild scan runs OUTSIDE the bloom lease
    // (seconds of cluster work must not serialize the ms-scale sidecar
    // writers); only the write phase takes it
    val rows = readWithTableSchema(existing, Some(keySchema))
      .groupBy(col(partitionCol).cast("string").as("d"))
      .agg(agg.as("bloom"))
      .collect()
    fs.mkdirs(new Path(bloomDir))
    val wrote = withBloomLease(existing) {
      rows.foreach { r =>
        writeBloomFile(new Path(s"$bloomDir/${r.getString(0)}.bloom"), stamp,
          _.write(r.getAs[Array[Byte]](1)))
      }
    }
    if (wrote.isEmpty) dropBlooms(existing) // lease timeout: conservative
  }

  /** Append-path bloom maintenance WITHOUT re-reading the written files:
    * the batch's own per-day blooms (built from the cached batch in the
    * same aggregation that discovers the touched days) are unioned into
    * the existing day blooms driver-side. Valid because append only ever
    * ADDS rows — old-bloom ∪ batch-bloom covers exactly the partition's
    * keys; deletes (which would leave stale bits) never take this path.
    * Any day where the union can't be formed exactly — existing bloom
    * unreadable/size-incompatible while the partition already had
    * data — falls back to a full [[refreshBlooms]] rebuild, so the
    * invariant "day bloom is a superset of the day's keys" (what keeps
    * [[bloomCandidateDays]] from dropping a partition with a live key,
    * i.e. correctness of the pruned merge) always holds.
    */
  private def upsertBlooms(dayBlooms: Seq[(String, Array[Byte])],
      preExisting: Set[String], stamp: Long): Unit = {
    if (dayBlooms.isEmpty) return
    fs.mkdirs(new Path(bloomDir))
    val valid = dayBlooms.filter(_._1 != null)
    // the whole read-merge-write loop is ONE lease-held critical
    // section ([[withBloomLease]] doc: a concurrent same-day writer
    // interleaving between this read and this write would lose keys —
    // the unsound direction); a timed-out lease drops the touched
    // blooms instead of writing unserialised
    val rebuild: Seq[String] = withBloomLease(valid.map(_._1)) { valid.flatMap { case (d, bytes) =>
      val p = new Path(s"$bloomDir/$d.bloom")
      val batch =
        try Option(BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes)))
        catch { case scala.util.control.NonFatal(_) => None }
      // a merge keeps min(existing stamp, requested stamp): merging an
      // append's keys into a bloom a DELETE left behind does not repair
      // that tightness loss, so the written stamp must not claim
      // coverage the content lacks — [[describeHealth]]'s staleness
      // column keeps counting until an exact rebuild heals the day
      val merged: Option[(BloomFilter, Long)] = batch.flatMap { b =>
        if (!preExisting.contains(d)) {
          // fresh partition: batch IS the keyset — unless a CONCURRENT
          // append to the same fresh day already wrote its bloom, in
          // which case overwriting would drop that writer's keys
          // (under-approximation = probe misses = duplicate keys);
          // union with it instead, rebuild if the union can't be formed
          if (!fs.exists(p)) Some((b, stamp))
          else WarehouseTable.readStampedBloom(fs, p).flatMap { case (os, other) =>
            try { other.mergeInPlace(b); Some((other, math.min(os, stamp))) }
            catch { case scala.util.control.NonFatal(_) => None }
          }
        }
        else WarehouseTable.readStampedBloom(fs, p).flatMap { case (os, old) =>
          try { old.mergeInPlace(b); Some((old, math.min(os, stamp))) }
          catch { case scala.util.control.NonFatal(_) => None }
        }
      }
      merged match {
        case Some((b, st)) =>
          writeBloomFile(p, st, b.writeTo(_))
          None
        case None => Some(d)
      }
    } }.getOrElse { dropBlooms(valid.map(_._1)); Seq.empty }
    // the exact rebuild's distributed scan runs OUTSIDE the lease
    if (rebuild.nonEmpty) refreshBlooms(rebuild, stamp)
  }

  /** Probe for partitions *outside* the batch's own days that might hold
    * an existing row for some batch key; only those join the merge's
    * dest scan.
    *
    * The probe is INVERTED relative to the obvious plan: instead of
    * broadcasting every partition's bloom to the batch (a broadcast that
    * grows linearly with table history — ~1.2 GB for a 3-year table at
    * 1 M keys/day), we broadcast the batch's distinct key *hashes*
    * (bounded by micro-batch size, 8 bytes/key) and map over the day
    * list: each task reads its days' blooms straight from table storage
    * and probes all batch keys against them. Driver and broadcast memory
    * are O(batch), storage reads are O(days) spread across the cluster,
    * and no dest data files are touched at all.
    */
  private def bloomCandidateDays(keyHashes: Array[Long],
      batchDays: Seq[String]): Seq[String] = {
    val otherDays = listDays().filterNot(batchDays.contains)
    if (otherDays.isEmpty) return Seq.empty
    // ONE bloom-dir listing instead of an exists() RPC per day: on a
    // multi-year table (thousands of partitions) the per-day round
    // trips would dominate the probe's driver time on object storage
    val bloomsOnDisk: Set[String] = {
      val p = new Path(bloomDir)
      if (!fs.exists(p)) Set.empty
      else fs.listStatus(p).toSeq.map(_.getPath.getName)
        .filter(_.endsWith(".bloom")).map(_.stripSuffix(".bloom")).toSet
    }
    val withBloom = otherDays.filter(bloomsOnDisk.contains)
    // no bloom → must scan (partition written before blooms existed)
    val noBloom = otherDays.filterNot(withBloom.contains)
    if (withBloom.isEmpty) return noBloom
    if (keyHashes.isEmpty) return noBloom
    val bcKeys = spark.sparkContext.broadcast(keyHashes)
    val bcConf = spark.sparkContext.broadcast(
      new graft.util.SerializableHadoopConf(spark.sparkContext.hadoopConfiguration))
    val dir = bloomDir
    val slices = math.max(1, math.min(withBloom.size, spark.sparkContext.defaultParallelism))
    val hits = spark.sparkContext.parallelize(withBloom, slices)
      .mapPartitions { it =>
        val keys = bcKeys.value
        val conf = bcConf.value.value
        it.filter { d =>
          val p = new Path(s"$dir/$d.bloom")
          val dfs = p.getFileSystem(conf)
          WarehouseTable.readVersionedBloom(dfs, p) match {
            case Some(bloom) => keys.exists(bloom.mightContainLong)
            // unreadable / unknown-format bloom → must scan the day
            case None => true
          }
        }
      }.collect().toSeq
    noBloom ++ hits
  }

  /** Bulk-batch candidate discovery (the
    * over-[[WarehouseTable.appendHashCollectMaxRows]] sibling of
    * [[bloomCandidateDays]]): an EXACT distributed left-semi join of
    * the other days' key columns against the batch keys. Blooms are
    * the wrong tool here twice over — collecting per-key hashes is the
    * driver bound this path exists to avoid, and any bloom-vs-bloom
    * bit test saturates at backfill density (expected stray bit
    * collisions grow with |batch|·|day|·k²/bits, so "any shared bit"
    * keeps ~every day) — while the keys-only column-pruned scan here
    * is a small fraction of the full-row rewrite the SMJ merge pays
    * for every candidate day, so exactness directly minimizes the
    * expensive step. Nothing per-row crosses the driver: only the
    * O(days) distinct day list returns. `srcKeys` carries exactly the
    * key columns under their table names.
    */
  private def exactCandidateDays(srcKeys: DataFrame,
      batchDays: Seq[String]): Seq[String] = {
    val otherDays = listDays().filterNot(batchDays.contains)
    if (otherDays.isEmpty) return Seq.empty
    val keySet = keyFields.toSet
    val keySchema = StructType(schema.fields.filter(f => keySet.contains(f.name)))
    readWithTableSchema(otherDays, Some(keySchema))
      .join(srcKeys, keyFields.toSeq, "left_semi")
      .select(col(partitionCol).cast("string"))
      .distinct().collect().map(_.getString(0)).toSeq
  }

  // ---- compaction (table maintenance) ----

  /** SHALLOW clone — the zero-copy sibling of [[cloneTo]] (which
    * deep-clones by rewriting rows): a new independent table over the
    * SAME data bytes.
    * Data files hardlink into the clone (zero-copy where the
    * filesystem supports it; byte-copy fallback otherwise), metadata
    * (schema/keys/options) is copied, and the bloom + zone-map
    * sidecars come along — they stay VALID because both are keyed by
    * (file name, size) fingerprints, which links preserve. The clone
    * starts a FRESH snapshot lineage (one baseline `clone` commit);
    * source history does not carry over.
    *
    * Divergence safety rests on the table's write discipline: no path
    * ever mutates a data file in place — merge/compaction/restore
    * write new files and swap them in by name, and vacuum deletes names —
    * so a hardlinked byte range is immutable for as long as either
    * table references it, and POSIX keeps the inode alive until the
    * last name drops. Writes to the clone therefore never perturb the
    * source and vice versa (spec-pinned both directions).
    */
  def shallowCloneTo(destRoot: String): WarehouseTable = {
    val destFs = new Path(destRoot).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    require(!destFs.exists(new Path(s"$destRoot/_graft/schema.json")),
      s"clone destination is already a table: $destRoot")
    writeTableMeta(spark, destRoot, keyFields, schema, options)
    val days = listDays()
    val dayFiles: Map[String, Seq[String]] = days.map { d =>
      val srcDir = new Path(s"$dataPath/$partitionCol=$d")
      val dstDir = new Path(s"$destRoot/data/$partitionCol=$d")
      destFs.mkdirs(dstDir)
      d -> fs.listStatus(srcDir).toSeq.filter(_.isFile).map { st =>
        linkOrCopy(st.getPath, new Path(dstDir, st.getPath.getName), destFs)
        st.getPath.getName
      }.filterNot(n => n.startsWith("_") || n.startsWith("."))
    }.filter(_._2.nonEmpty).toMap
    Seq("bloom2", "zonemaps").foreach { side =>
      val src = new Path(s"$root/_graft/$side")
      if (fs.exists(src))
        org.apache.hadoop.fs.FileUtil.copy(fs, src, destFs,
          new Path(s"$destRoot/_graft/$side"), false,
          spark.sparkContext.hadoopConfiguration)
    }
    val clone = WarehouseTable.open(spark, destRoot)
    clone.commitSnapshot("clone", dayFiles, clone.currentVersion + 1)
    clone
  }

  /** Hardlink when source and destination are plain local paths (the
    * zero-copy case); stream-copy otherwise or when the link fails
    * (cross-device, store without link support).
    */
  private def linkOrCopy(src: Path, dst: Path,
      destFs: FileSystem): Unit = {
    val linked =
      if (src.toUri.getScheme == "file" || src.toUri.getScheme == null) {
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(dst.toUri.getPath),
            java.nio.file.Paths.get(src.toUri.getPath))
          true
        } catch { case _: Exception => false }
      } else false
    if (!linked) {
      org.apache.hadoop.fs.FileUtil.copy(fs, src, destFs, dst, false,
        spark.sparkContext.hadoopConfiguration)
      ()
    }
  }

  /** Rewrite the given partitions' files through the clustering sort
    * (write-new-then-swap, blooms refreshed). Micro-batch appends
    * accumulate one small batch-keyed file set per flush; over days of
    * streaming that degrades scans (file-open overhead) and defeats
    * min/max skipping. Periodic compaction restores the layout — the
    * maintenance job BigQuery's managed storage performs implicitly.
    * Returns the partitions rewritten.
    */
  def compactPartitions(days: Seq[String] = listDays()): Seq[String] = {
    val existing = days.filter(d => fs.exists(new Path(s"$dataPath/$partitionCol=$d")))
    if (existing.isEmpty) return Seq.empty
    // conflict window opens before the dest read (claimCommit doc)
    val readBase = currentVersion
    val staging = s"$root/.compact-${UUID.randomUUID().toString.take(8)}"
    guardStaleRead(clusteredWrite(readCommitted(existing)).write
      .mode(SaveMode.Overwrite).partitionBy(partitionCol).parquet(staging))
    val stagedFiles = stagedDayFiles(staging)
    // compaction is the designated tightening point for the stale bits
    // the merge-path bloom union leaves behind: ALWAYS exact, computed
    // from the private staging dir before the claim (exactBlooms
    // doc — no distributed work inside the claim window, no race with
    // concurrent swaps)
    val blooms = exactBlooms(Seq(staging -> stagedFiles))
    val v = claimCommit("compact", existing, readBase + 1)
    publish("compact", v, existing, Some(staging), stagedFiles, None)(_ =>
      writeExactBlooms(existing, blooms, v))
    autoVacuum()
    existing
  }

  /** Bin-packing compaction (Delta OPTIMIZE analog, file-granular):
    * within each day, consolidate ONLY the data files smaller than
    * `smallBytes` into a fresh generation and carry every
    * already-healthy file forward untouched. Selection is pure
    * metadata (the CURRENT manifest joined to one live-dir listing —
    * no data read decides); the rewrite reads exactly the small files.
    * Keys are untouched, so day blooms stay as tight as they were and
    * are re-stamped to this commit ([[updateWhere]]'s argument).
    * Returns the days rewritten.
    *
    * == 100 TB design ==
    *
    * Streaming ingest leaves a long tail of micro-batch files per day;
    * whole-day [[compactPartitions]] pays I/O proportional to RESIDENT
    * data to fix churn-proportional fragmentation. This pays
    * churn-proportional I/O: a day holding 5 compacted 1 GB files and
    * 300 flush files rewrites the 300 small ones and never touches the
    * 5 GB.
    */
  def compactSmall(smallBytes: Long,
      minSmallFiles: Int = 2): Seq[String] = {
    require(smallBytes > 0, s"smallBytes must be positive: $smallBytes")
    require(minSmallFiles >= 2, s"minSmallFiles must be >= 2: $minSmallFiles")
    val readBase = currentVersion
    val snap = schema
    val manifest = readManifest(readBase)
    val smallByDay: Map[String, Seq[String]] = manifest.flatMap { case (d, names) =>
      val dir = new Path(s"$dataPath/$partitionCol=$d")
      if (!fs.exists(dir)) None
      else {
        val sizes = fs.listStatus(dir).toSeq
          .filter(_.isFile).map(st => st.getPath.getName -> st.getLen).toMap
        val small = names.filter(n => sizes.get(n).exists(_ < smallBytes))
        if (small.size >= minSmallFiles) Some(d -> small.sorted) else None
      }
    }
    if (smallByDay.isEmpty) return Seq.empty
    val days = smallByDay.keys.toSeq.sorted
    val smallPaths = days.flatMap(d =>
      smallByDay(d).map(n => s"$dataPath/$partitionCol=$d/$n"))
    // guardStaleRead at CONSTRUCTION too (not only the staged write):
    // DataSource resolution checks path existence eagerly, so a swap
    // archiving a matched file between the listing and this line must
    // surface as the protocol's typed retryable CME, not a raw
    // AnalysisException (readCommitted's contract)
    val source = guardStaleRead(conformToSchema(spark.read.schema(snap)
      .option("basePath", dataPath).parquet(smallPaths: _*), snap))
    val staging = s"$root/.compact-${UUID.randomUUID().toString.take(8)}"
    // clusteredWrite day-aligns and consolidates on its own (rebalance
    // hint / range repartition): small days collapse to one file
    guardStaleRead(clusteredWrite(source).write
      .mode(SaveMode.Overwrite).partitionBy(partitionCol).parquet(staging))
    val stagedFiles = stagedDayFiles(staging)
    val v = claimCommit("compact-small", days, readBase + 1)
    publish("compact-small", v, days, Some(staging), stagedFiles,
      Some(smallByDay))(_ => restampBlooms(days, v, readBase))
    autoVacuum()
    days
  }

  /** Fragmentation-aware compaction policy: rewrite ONLY partitions
    * holding more than `maxFilesPerDay` data files. One recursive
    * listing decides (no data read); healthy partitions keep their
    * files byte-identical, so steady-state maintenance cost tracks the
    * streaming-append churn, not table size — running blanket
    * [[compactPartitions]] over a 100 TB table to fix yesterday's
    * micro-batches is the thing this avoids. Returns the partitions
    * rewritten.
    */
  def compactFragmented(maxFilesPerDay: Int): Seq[String] = {
    require(maxFilesPerDay > 0, s"maxFilesPerDay must be positive: $maxFilesPerDay")
    val fragmented = listDays().filter { d =>
      val p = new Path(s"$dataPath/$partitionCol=$d")
      fs.exists(p) && fs.listStatus(p).count(st =>
        st.isFile && !st.getPath.getName.startsWith("_")) > maxFilesPerDay
    }
    if (fragmented.isEmpty) Seq.empty else compactPartitions(fragmented)
  }

  /** Predicate DELETE (`DELETE FROM t WHERE cond` — beyond the
    * reference, which only deletes by key tombstone): rows where `cond`
    * is TRUE are removed; FALSE and NULL rows survive (SQL DELETE
    * semantics). Returns the rewritten days.
    *
    * == 100 TB design ==
    *
    * FILE-granular write amplification (Delta-class): one pruned
    * committed scan (predicate pushdown reaches the parquet scan,
    * `input_file_name` is evaluated post-scan) finds the exact
    * (day, file) pairs that HOLD matches — only those FILES are
    * rewritten and archived; every other file in a matched day is
    * carried forward untouched, byte-identical, never read. A delete
    * matching one file of a 400-file day moves one file, not 400. The
    * rewrite keeps the merge/compact swap discipline: staged into a
    * private dir, committed under a day-level claim, the replaced
    * files archived for time travel ([[readAsOf]] resolves per file).
    * A day deleted empty drops from the table (and loses its bloom);
    * surviving days keep their blooms — deletion only removes keys, so
    * the existing blooms stay supersets (sound; the next compact
    * tightens them, and [[describeHealth]] counts the staleness).
    */
  def deleteWhere(cond: Column): Seq[String] =
    rewriteWhere("delete-where", cond,
      df => df.where(!coalesce(cond, lit(false))), schema,
      preservesKeys = false)

  /** Shared file-granular engine of [[deleteWhere]] / [[updateWhere]]:
    * find the exact matched files with one pushdown scan, rewrite ONLY
    * those through `rewrite`, carry every other file of the touched
    * days forward untouched, and commit under the swap claim. `snap`
    * is the caller's ONE schema snapshot for the whole op (the
    * soak-found evolve-vs-merge tear discipline).
    */
  private def rewriteWhere(op: String, cond: Column,
      rewrite: DataFrame => DataFrame, snap: StructType,
      preservesKeys: Boolean): Seq[String] = {
    val readBase = currentVersion
    val allDays = listDays()
    if (allDays.isEmpty) return Seq.empty
    // ONE scan finds the (day, file) pairs actually holding matches —
    // exact (not footer-min/max "may match"), from the same pruned
    // pushdown scan that used to find only the days
    val matches = guardStaleRead(readCommitted(allDays, snap).where(cond)
      .groupBy(col(partitionCol).cast("string").as("d"),
        input_file_name().as("f")).count().collect())
    if (matches.isEmpty) return Seq.empty
    val replaced: Map[String, Seq[String]] = matches.toSeq
      .map(r => (r.getString(0), r.getString(1).split('/').last))
      .groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2).distinct.sorted }
    val days = replaced.keys.toSeq.sorted
    // the rewrite reads ONLY the matched files
    val matchedPaths = days.flatMap(d =>
      replaced(d).map(f => s"$dataPath/$partitionCol=$d/$f"))
    val source = guardStaleRead(conformToSchema(
      spark.read.schema(snap).option("basePath", dataPath)
        .parquet(matchedPaths: _*), snap))
    val staging = s"$root/.merge-${UUID.randomUUID().toString.take(8)}"
    guardStaleRead(clusteredWrite(rewrite(source)).write
      .mode(SaveMode.Overwrite).partitionBy(partitionCol).parquet(staging))
    val stagedFiles = stagedDayFiles(staging)
    val v = claimCommit(op, days, readBase + 1)
    // a key-preserving rewrite (UPDATE) leaves the day blooms as tight
    // as it found them — re-stamp current blooms to this commit so the
    // health staleness column reads 0; a DELETE leaves them supersets
    // on purpose, and the un-bumped stamp is precisely what surfaces
    // that as heal-worthy
    publish(op, v, days, Some(staging), stagedFiles, Some(replaced))(_ =>
      if (preservesKeys) restampBlooms(days, v, readBase))
    expireOldPartitions()
    autoVacuum()
    days
  }

  /** Predicate UPDATE (`UPDATE t SET c = e, ... WHERE cond` — the
    * sibling of [[deleteWhere]], completing the DML square next to
    * append/merge): rows where `cond` is TRUE take every assignment;
    * FALSE/NULL rows are unchanged. SQL UPDATE semantics: all
    * assignment expressions evaluate against the OLD row (one
    * projection computes them simultaneously, so `SET a = b, b = a`
    * swaps). Key fields and the partition-routing field cannot be
    * assigned — a key change is a delete+insert (merge's job), and a
    * partition-field change would strand the row in a day its value no
    * longer matches.
    *
    * Same 100 TB shape as [[deleteWhere]] — FILE-granular: one
    * pushdown-pruned scan finds the exact files holding matches, only
    * those rewrite under the commit claim (unmatched files of the same
    * day carry forward untouched), the replaced generation stays
    * time-travelable. Keys are untouched, so the day blooms remain
    * EXACT (not merely supersets).
    */
  def updateWhere(cond: Column,
      assignments: Map[String, Column]): Seq[String] = {
    require(assignments.nonEmpty, "updateWhere needs at least one assignment")
    val snap = schema
    val keySet = keyFields.toSet
    val badKeys = assignments.keySet.intersect(keySet)
    require(badKeys.isEmpty,
      s"cannot assign key fields ${badKeys.mkString(", ")} — use merge")
    options.partitionField.foreach(pf => require(!assignments.contains(pf),
      s"cannot assign the partition-routing field $pf"))
    val unknown = assignments.keySet -- snap.fieldNames.toSet
    require(unknown.isEmpty,
      s"assigned fields ${unknown.mkString(", ")} are not in the table schema")
    val condT = coalesce(cond, lit(false))
    val cols = snap.fields.toSeq.map { f =>
      assignments.get(f.name) match {
        case Some(e) =>
          when(condT, e.cast(f.dataType)).otherwise(col(s"`${f.name}`")).as(f.name)
        case None => col(s"`${f.name}`")
      }
    } :+ col(partitionCol)
    rewriteWhere("update-where", cond, df => df.select(cols: _*), snap,
      preservesKeys = true)
  }

  // ---- partition expiration (SchemaManager.java:74, partitionExpiration) ----

  /** Drop partitions whose time slice ended more than
    * `partitionExpirationMs` before `asOfMs` (BigQuery's partition
    * expiration analog), along with their blooms. Runs as part of
    * append/merge bookkeeping; no-op unless a TTL is configured. A
    * logical delete with nothing staged: the dropped days' files move
    * to the version archive through the one swap (snapshot reads keep
    * serving them until [[vacuum]]). Driver-side metadata work only —
    * one rename per dropped file, no data scan. Returns the dropped
    * slices.
    */
  def expirePartitions(asOfMs: Long): Seq[String] = options.partitionExpirationMs match {
    case None => Seq.empty
    case Some(ttl) =>
      val cutoff = asOfMs - ttl
      dropDays("expire", currentVersion,
        listDays().filter(d => sliceEndMs(d).exists(_ < cutoff)))
  }

  /** Drop EVERY partition as one committed version (BigQuery
    * `TRUNCATE TABLE` analog). Same shape as [[expirePartitions]]: the
    * whole current generation moves to the version archive under the
    * claim (a truncate is time-travelable and restorable), blooms drop,
    * the manifest empties. One rename per live file, no data scan.
    * Returns the dropped slices.
    */
  def truncate(): Seq[String] = dropDays("truncate", currentVersion, listDays())

  /** Commit `days` emptied: claim them (`readBase`: CURRENT before the
    * day listing), swap every live file out with nothing staged in.
    */
  private def dropDays(op: String, readBase: Long,
      days: Seq[String]): Seq[String] = {
    if (days.isEmpty) return Seq.empty
    val v = claimCommit(op, days, readBase + 1)
    publish(op, v, days, None, Map.empty, None)(_ => ())
    days
  }

  /** Atomic REPLACE of the whole table content with `df` in ONE
    * committed version — the semantics a BI tool expects from
    * `mode("overwrite")` (Delta's equivalent is likewise a single
    * commit): [[overwriteRouted]] over every day. Returns the day set
    * of the new generation.
    */
  def overwrite(df: DataFrame, partitionTimeCol: String = "partitionTime"): Seq[String] =
    overwriteRouted(df
      .withColumn(partitionCol, routeExpr(partitionTimeCol))
      .drop(partitionTimeCol))

  /** Day-scoped [[overwrite]]: atomically replace exactly `days`,
    * routing rows by their `partitionTime` — the classic warehouse
    * backfill, DataFrame-API twin of SQL `INSERT OVERWRITE ... PARTITION
    * (_pday=...)` (Delta's `replaceWhere`). A target day with no staged
    * rows is emptied; rows routed outside `days` fail the op
    * ([[overwriteRouted]]). Returns the target days.
    */
  def overwriteDays(df: DataFrame, days: Seq[String],
      partitionTimeCol: String = "partitionTime"): Seq[String] = {
    val targets = days.distinct.sorted
    require(targets.nonEmpty, "overwriteDays: no target day slices")
    overwriteRouted(df
      .withColumn(partitionCol, routeExpr(partitionTimeCol))
      .drop(partitionTimeCol),
      s"overwritten slices ${targets.mkString(",")}", _ => targets.toSet)
    targets
  }

  /** The one overwrite: atomically replace every day slice in scope
    * with the rows of `routed` (a frame already carrying the partition
    * column) in ONE committed version. `inScope(stagedDays)` names the
    * replaced slices; the four forms differ only there:
    *
    *  - full ([[overwrite]], SQL `INSERT OVERWRITE`): every day;
    *  - [[overwriteDays]]: the target set;
    *  - `INSERT INTO t REPLACE WHERE <day predicate>` (also `INSERT
    *    OVERWRITE ... PARTITION (_pday=...)`): the matching days —
    *    ranges work, the backfill-a-month shape;
    *  - dynamic (`spark.sql.sources.partitionOverwriteMode=dynamic`,
    *    the V2 `SupportsDynamicOverwrite` contract): the staged days.
    *
    * The new generation is fully staged before the claim. Staged rows
    * routing outside the scope fail the op before any claim (`scope`
    * names it in the error): silently dropping them or widening the
    * replacement would rewrite slices the caller did not name. Blooms
    * are exact from staging; a reader sees the old generation or the
    * new one, never a gap, and the replaced one stays time-travelable
    * and restorable.
    *
    * Touched-day race: an in-scope day committed by a concurrent writer
    * between the day listing and the claim would evade the swap — so
    * after winning the claim the manifest base is re-checked, and any
    * in-scope day outside the claimed set releases the claim and
    * re-resolves (bounded retries, then the standard concurrent-conflict
    * abort). Returns the day set of the new generation.
    */
  private[graft] def overwriteRouted(routed: DataFrame,
      scope: String = "whole table",
      inScope: Set[String] => String => Boolean = _ => _ => true): Seq[String] = {
    val staging = s"$root/.overwrite-${UUID.randomUUID().toString.take(8)}"
    guardStaleRead(clusteredWrite(routed).write
      .mode(SaveMode.Overwrite).partitionBy(partitionCol).parquet(staging))
    val stagedFiles = stagedDayFiles(staging)
    val replaces = inScope(stagedFiles.keySet)
    val stray = stagedFiles.keySet.filterNot(replaces)
    if (stray.nonEmpty) {
      fs.delete(new Path(staging), true)
      throw new IllegalArgumentException(
        s"overwrite of $root: staged rows route to " +
          s"${stray.toSeq.sorted.mkString(",")}, outside the $scope — " +
          "refuse rather than replace slices the statement did not name")
    }
    // exact blooms from the private staging dir — the new generation IS
    // the staged content, so the probe filter is exact from version one
    val blooms = exactBlooms(Seq(staging -> stagedFiles))
    var attempt = 0
    while (true) {
      val readBase = currentVersion
      val days = (listDays().filter(replaces) ++ stagedFiles.keys).distinct.sorted
      if (days.isEmpty) { fs.delete(new Path(staging), true); return Seq.empty }
      val v = claimCommit("overwrite", days, readBase + 1)
      // the claim walk aborted any OVERLAPPING concurrent commit, but a
      // commit creating a BRAND-NEW in-scope day between listDays() and
      // the claim shares no day with ours — re-check against the exact
      // manifest finalize will rebase on, and re-resolve if one slipped
      // in (releasing the not-yet-acted-on claim frees the slot)
      val extra = manifestBase(v).keySet.filter(replaces) -- days
      if (extra.isEmpty) {
        publish("overwrite", v, days, Some(staging), stagedFiles, None)(_ =>
          writeExactBlooms(days, blooms, v))
        expireOldPartitions()
        autoVacuum()
        return stagedFiles.keys.toSeq.sorted
      }
      fs.delete(new Path(s"$snapDir/v$v.list"), false)
      attempt += 1
      if (attempt > 5) {
        fs.delete(new Path(staging), true)
        throw new java.util.ConcurrentModificationException(
          s"overwrite of $root: new partitions in scope kept appearing " +
            s"(${extra.mkString(",")}) across $attempt claim attempts")
      }
    }
    Seq.empty // unreachable
  }

  private def expireOldPartitions(): Unit =
    if (options.partitionExpirationMs.nonEmpty) {
      expirePartitions(System.currentTimeMillis()); ()
    }

  /** End instant (epoch ms, UTC) of a partition slice string, per this
    * table's granularity; None for NONE (never expires) or unparseable.
    */
  private def sliceEndMs(slice: String): Option[Long] = {
    import java.time.{LocalDate, LocalDateTime, Year, YearMonth, ZoneOffset}
    import java.time.format.DateTimeFormatter
    try {
      val end = options.granularity match {
        case "HOUR" => LocalDateTime.parse(s"$slice:00",
          DateTimeFormatter.ofPattern("yyyy-MM-dd-HH:mm")).plusHours(1)
        case "DAY" => LocalDate.parse(slice).plusDays(1).atStartOfDay()
        case "MONTH" => YearMonth.parse(slice).plusMonths(1).atDay(1).atStartOfDay()
        case "YEAR" => Year.parse(slice).plusYears(1).atDay(1).atStartOfDay()
        case _ => return None
      }
      Some(end.toInstant(ZoneOffset.UTC).toEpochMilli)
    } catch { case _: java.time.format.DateTimeParseException => None }
  }

  // ---- the swap (the one way files leave `data/`) ----

  /** The publish step of every rewriting op, run after the caller's
    * [[claimCommit]] of version `v` over `touched`: swap, blooms,
    * manifest. Each touched day's new entry is the base manifest's
    * entry minus the replaced files plus the staged ones:
    *
    *  - `replaced = Some(day → files)`: those files leave their day;
    *    days absent from the map keep every file;
    *  - `replaced = None`: every touched day is replaced whole — every
    *    file live in it at swap time leaves, so its entry is exactly
    *    the staged files.
    *
    * `staging` holds the staged generation (`stagedFiles`); None stages
    * nothing (expire/truncate). The base is read AFTER winning the
    * claim, from the exact manifest finalize rebases on: the op's
    * pre-claim read base may be vacuumed under a long stage window,
    * while manifestBase(v) cannot be while the claim is held, and the
    * touched days' entries in it equal the read-time ones (any
    * overlapping commit aborted the claim walk). A day the swap emptied
    * loses its bloom (missing reads as always-candidate); `blooms` then
    * maintains the rest, given each touched day's new entry.
    */
  private def publish(op: String, v: Long, touched: Seq[String],
      staging: Option[String], stagedFiles: Map[String, Seq[String]],
      replaced: Option[Map[String, Seq[String]]])(
      blooms: Map[String, Seq[String]] => Unit): Unit = {
    val base = manifestBase(v)
    val entries = touched.map { d =>
      val staged = stagedFiles.getOrElse(d, Seq.empty)
      d -> replaced.fold(staged) { r =>
        val gone = r.getOrElse(d, Seq.empty).toSet
        base.getOrElse(d, Seq.empty).filterNot(gone.contains) ++ staged
      }
    }.toMap
    swapFilesGranular(staging, replaced.getOrElse(touched.map(d =>
      d -> listDayFiles(new Path(s"$dataPath/$partitionCol=$d"))).toMap), v)
    dropBlooms(touched.filter(entries(_).isEmpty))
    blooms(entries)
    finalizeCommit(op, touched, v, entries)
  }

  /** Swap one rewrite into `data/` file by file: inside each day of
    * `replaced`, ONLY the named files are renamed into the version
    * archive `_graft/history/v<archiveVersion>/` and the day's staged
    * files (under `staging`) renamed in; every other live file is
    * carried forward untouched — Delta-class write amplification (an
    * UPDATE matching one file of a 400-file day moves one file, not
    * 400). An empty list is a pure-addition day (a merge inserting into
    * — or creating — a day with no matched files); a day left with no
    * file is removed. Archived files stay serviceable to snapshot reads
    * ([[readAsOf]] resolves per file) until [[vacuum]].
    *
    * Before any archive day dir exists, [[journalLiveFiles]] records
    * every swapped day's pre-swap live files in ONE version-level
    * journal, from which [[recoverCrashedClaim]] rolls a crashed swap
    * back file by file. Underscore-prefixed names are invisible to
    * every file listing ([[listDayFiles]]) and to [[readAsOf]]'s
    * archive resolution.
    *
    * Multi-writer note (soak-spec pinned): the swap MOVES replaced
    * files into the version archive, so a live-path reader whose plan
    * listed files before the swap fails transiently with
    * `FAILED_READ.FILE_NOT_EXIST`. No data is lost — the files are in
    * the archive (`readAsOf` serves them) and the new generation is
    * complete before CURRENT advances — but concurrent writers must
    * treat that failure as a retryable abort, exactly like a lost
    * claim: re-plan and the retry reads the new generation.
    */
  private[sources] def swapFilesGranular(staging: Option[String],
      replaced: Map[String, Seq[String]], archiveVersion: Long): Unit = {
    journalLiveFiles(replaced.keys.toSeq, archiveVersion)
    fs.mkdirs(new Path(dataPath))
    val archDir = new Path(s"$historyDir/v$archiveVersion")
    replaced.toSeq.sortBy(_._1).foreach { case (d, names) =>
      val liveDir = new Path(s"$dataPath/$partitionCol=$d")
      val archDayDir = new Path(archDir, s"$partitionCol=$d")
      fs.mkdirs(archDayDir)
      names.foreach(n =>
        fs.rename(new Path(liveDir, n), new Path(archDayDir, n)))
      staging.map(s => new Path(s"$s/$partitionCol=$d")).filter(fs.exists)
        .foreach { stagedDay =>
          fs.mkdirs(liveDir) // fresh day: created by this swap
          listDayFiles(stagedDay).foreach(n =>
            fs.rename(new Path(stagedDay, n), new Path(liveDir, n)))
        }
      // every file replaced, nothing rewritten back, nothing carried:
      // the day is gone — drop the empty dir so listDays()/bloom
      // bookkeeping see it as such
      if (fs.exists(liveDir) && fs.listStatus(liveDir).isEmpty)
        fs.delete(liveDir, true)
    }
    staging.foreach(s => fs.delete(new Path(s), true))
  }

  /** The journal step of [[swapFilesGranular]]: write
    * `history/v<archiveVersion>/_prelive` ([[WarehouseTable.LiveSwapJournal]]),
    * one `day<TAB>file` line per file live in each of `days` the instant
    * before the swap's first archive dir or rename.
    */
  private[sources] def journalLiveFiles(days: Seq[String],
      archiveVersion: Long): Unit =
    writeMetaString(spark,
      s"$historyDir/v$archiveVersion/${WarehouseTable.LiveSwapJournal}",
      days.sorted.flatMap(d =>
        listDayFiles(new Path(s"$dataPath/$partitionCol=$d")).map(n => s"$d\t$n"))
        .mkString("\n"))

  // ---- snapshots / time travel ----

  private def snapDir = s"$root/_graft/snapshots"
  private def historyDir = s"$root/_graft/history"

  /** Current snapshot version; 0 before the first committed mutation. */
  def currentVersion: Long =
    readMetaString(spark, s"$snapDir/CURRENT").trim.toLong

  private def listDayFiles(dir: Path): Seq[String] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.filter(_.isFile).map(_.getPath.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith("."))

  /** Manifest of snapshot `version`: day → data file names. */
  private[sources] def readManifest(version: Long): Map[String, Seq[String]] = {
    val p = new Path(s"$snapDir/v$version.list")
    if (version <= 0 || !fs.exists(p)) Map.empty
    else readMetaString(spark, p.toString).linesIterator
      .filterNot(l => l.startsWith("#") || l.isEmpty)
      .map(_.split("\t", 2)).collect { case Array(d, f) => d -> f }
      .toSeq.groupBy(_._1).map { case (d, dfs) => d -> dfs.map(_._2) }
  }

  /** Operations whose files are purely ADDITIVE (no archive/swap of
    * existing files): safe to re-sequence after a concurrent commit by
    * re-listing the touched days. Everything else replaces partition
    * generations and must hold a version CLAIM before touching data
    * (see [[claimCommit]]).
    */
  private val appendSafeOps = Set("append", "append-batch", "clone")

  /** Header of claimed/committed version `v`: (op — `pending:` prefix
    * while a swap holds the claim but hasn't finalized —, claim/commit
    * epoch-millis — 0 when unparsable, which reads as maximally stale —,
    * touched days; empty day set = unknown, treated as
    * conflicting-with-everything).
    */
  private def commitMeta(v: Long): (String, Long, Set[String]) = {
    val parts = readMetaString(spark, s"$snapDir/v$v.list")
      .linesIterator.buffered.headOption.getOrElse("")
      .stripPrefix("#").split("\t", 3)
    (parts.headOption.getOrElse("?"),
      parts.lift(1).flatMap(_.toLongOption).getOrElse(0L),
      parts.lift(2).map(_.split(",").filter(_.nonEmpty).toSet).getOrElse(Set.empty))
  }

  private def isPendingOp(op: String): Boolean = op.startsWith("pending:")

  /** The newest FINALIZED version below `v` (pending claims hold no
    * file lists); 0 when none exists.
    */
  private def finalizedBelow(v: Long): Long = {
    var w = v - 1
    while (w > 0) {
      if (fs.exists(new Path(s"$snapDir/v$w.list"))) {
        if (!isPendingOp(commitMeta(w)._1)) return w
      }
      w -= 1
    }
    0L
  }

  /** The manifest to rebase a commit of version `v` on: the newest
    * FINALIZED version below `v` (pending claims hold no file lists);
    * empty when there is none.
    */
  private def manifestBase(v: Long): Map[String, Seq[String]] =
    readManifest(finalizedBelow(v))

  /** Committed-batch tags to carry into a commit rebased at `v`: the
    * batches line of the newest finalized version below it.
    */
  private def batchesBase(v: Long): Seq[String] =
    manifestBatches(finalizedBelow(v))

  /** Committed exactly-once batch tags (`<streamId>:<batchId>:<commitMillis>`)
    * recorded in snapshot `version`'s manifest header. Durable against
    * merge/compact rewrites — unlike the `b<id>-` file-name prefixes,
    * which a rewrite erases — because every commit carries the line
    * forward from its base manifest (advisor-found replay hole).
    */
  private[sources] def manifestBatches(version: Long): Seq[String] = {
    val p = new Path(s"$snapDir/v$version.list")
    if (version <= 0 || !fs.exists(p)) Seq.empty
    else readMetaString(spark, p.toString).linesIterator
      .find(_.startsWith("#batches\t"))
      .map(_.stripPrefix("#batches\t").split(",").filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
  }

  /** Window- and age-prune the carried batch tags when adding `tag`
    * (`<streamId>:<batchId>:<commitMillis>`):
    *
    *  - SAME-stream tags more than 64 ids behind drop (batchIds are
    *    monotonic per checkpoint; foreachBatch only replays batches
    *    after the last checkpoint commit, so a tag 64 ids back can
    *    never replay again — the bound that keeps a live stream's tags
    *    O(window), not O(stream lifetime));
    *  - OTHER streams' tags drop wholesale once that stream's NEWEST
    *    tag is older than [[WarehouseTable.batchTagRetentionMs]]: a
    *    stream silent that long is a dead checkpoint lineage (a live
    *    foreachBatch replays within minutes of its crash, not days),
    *    and without the age prune every ephemeral fresh-checkpoint
    *    restart would leave up to 64 tags in every future manifest
    *    FOREVER — O(restarts) metadata growth.
    */
  private def pruneBatchTags(batches: Seq[String], tag: String): Seq[String] = {
    val now = System.currentTimeMillis()
    def parse(t: String): (String, Long, Option[Long]) = {
      val parts = t.split(":")
      (parts(0), parts.lift(1).flatMap(_.toLongOption).getOrElse(-1L),
        parts.lift(2).flatMap(_.toLongOption))
    }
    val (ns, id, _) = parse(tag)
    val newestTs: Map[String, Long] = batches.map(parse)
      .collect { case (n, _, Some(ts)) if n != ns => n -> ts }
      .groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).max }
    val retention = WarehouseTable.batchTagRetentionMs
    batches.filter { b =>
      val (bn, bid, _) = parse(b)
      if (bn == ns) bid > id - 64L
      else newestTs.get(bn).forall(ts => now - ts <= retention)
    }
  }

  private def renderManifest(op: String, touched: Seq[String],
      updated: Map[String, Seq[String]],
      batches: Seq[String] = Seq.empty): String = {
    val body = new StringBuilder()
    body.append('#').append(op).append('\t')
      .append(System.currentTimeMillis()).append('\t')
      .append(touched.distinct.sorted.mkString(",")).append('\n')
    if (batches.nonEmpty)
      body.append("#batches\t")
        .append(batches.distinct.sorted.mkString(",")).append('\n')
    updated.toSeq.sortBy(_._1).foreach { case (d, files) =>
      files.sorted.foreach(f =>
        body.append(d).append('\t').append(f).append('\n'))
    }
    body.toString
  }

  private def advanceCurrent(v: Long): Unit =
    if (v > currentVersion)
      writeMetaString(spark, s"$snapDir/CURRENT", v.toString)

  /** Block until version `v`'s claim resolves: the file is gone
    * (rolled back), finalized, or stale (the caller's next look
    * recovers it). Commits must NEVER sequence past an unfinalized
    * claim (soak-found): a lower version finalizing after a higher one
    * builds its manifest from a base that misses the higher commit,
    * and the old listing-based repair for that hole swept concurrent
    * writers' uncommitted files into manifests. A healthy claim
    * holder finalizes within seconds (the claim is taken after staging
    * completes), so the wait is short and bounded by the stale-claim
    * timeout.
    */
  private def awaitClaimResolution(v: Long, op: String,
      touched: Seq[String]): Unit = {
    val budget = WarehouseTable.claimWaitMs
    val deadline = System.currentTimeMillis() + budget
    var backoff = 25L
    var waiting = true
    while (waiting) {
      waiting =
        try fs.exists(new Path(s"$snapDir/v$v.list")) && {
          val m = commitMeta(v)
          isPendingOp(m._1) && !isStaleClaim(m._2)
        }
        catch { case _: java.io.IOException => false } // vanished mid-check
      if (waiting) {
        if (System.currentTimeMillis() > deadline)
          concurrentAbort(v, op, s"pending claim unresolved after ${budget}ms",
            touched)
        Thread.sleep(backoff)
        backoff = math.min(backoff * 2, 2000L)
      }
    }
  }

  private def concurrentAbort(v: Long, op: String, theirOp: String,
      touched: Seq[String]): Nothing =
    throw new java.util.ConcurrentModificationException(
      s"snapshot v$v of $root was claimed concurrently (their op: " +
        s"'$theirOp', ours: '$op' on overlapping days " +
        s"${touched.mkString(",")}); this operation read stale data — " +
        "re-run it against the current table state")

  /** Claim the next free snapshot version for a SWAP op (merge/compact/
    * expire/restore) by atomically creating its version file with a
    * `pending:` header — create-if-absent is atomic on HDFS/local and a
    * conditional put on object stores, so two writers never own the
    * same version. The claim MUST precede any archive/swap: replaced
    * generations are archived under this number, so it has to be the
    * number the commit finally owns. A lost claim re-sequences past
    * winners whose days are disjoint, and aborts (before any data is
    * touched) when days overlap — the staged output was computed from
    * state the winner has since replaced.
    *
    * `fromVersion` (soak-found fix) must be `readBase + 1` where
    * `readBase` is CURRENT when the op STARTED READING: the walk then
    * examines every version committed during the read/stage window.
    * Starting at claim-time CURRENT+1 would silently skip a winner
    * that finalized mid-stage — this op's staged output was computed
    * from state that winner replaced, and committing it would resurrect
    * the old generation (lost update).
    */
  private[sources] def claimCommit(op: String, touched: Seq[String],
      fromVersion: Long): Long = {
    WarehouseTable.maybeHalt(WarehouseTable.haltPreCommitAt)
    val header = s"#pending:$op\t${System.currentTimeMillis()}\t" +
      touched.distinct.sorted.mkString(",") + "\n"
    @annotation.tailrec
    def loop(v: Long): Long =
      if (tryWriteNewMetaString(spark, s"$snapDir/v$v.list", header)) {
        // a free slot BELOW current is not free — it is a COMMITTED
        // version whose manifest a concurrent vacuum deleted during
        // this op's read/stage window (retention < window). Its days
        // are unknowable, and claiming it would finalize a manifest
        // CURRENT never points at while the swap replaces live data
        // the real CURRENT manifest still references (persistent stale
        // reads). Release the slot and abort — the retry re-reads.
        checkClaimedAboveCurrent(v, op, touched)
        v
      } else {
        val (theirOp, theirTs, theirDays) = commitMeta(v)
        if (isPendingOp(theirOp) && isStaleClaim(theirTs)) {
          // a writer died mid-swap holding this claim: roll its torn
          // state back and free the version. If OUR days overlap the
          // rolled-back ones, our staged output was computed from the
          // torn pre-recovery reads — abort so the caller recomputes
          // against the healed table (the retry finds the version free).
          recoverCrashedClaim(v)
          if (theirDays.isEmpty || touched.exists(theirDays.contains))
            concurrentAbort(v, op, s"$theirOp [crashed claim, rolled back]",
              touched)
          loop(v)
        } else if (isPendingOp(theirOp)) {
          // never sequence past an UNFINALIZED claim (awaitClaimResolution
          // doc) — wait for it to finalize/roll back, then re-examine
          awaitClaimResolution(v, op, touched)
          loop(v)
        } else if (theirDays.isEmpty || touched.exists(theirDays.contains))
          concurrentAbort(v, op, theirOp, touched)
        else loop(v + 1)
      }
    loop(fromVersion)
  }

  /** Guard against claiming a vacuumed committed slot (advisor-found):
    * the version walk starts at readBase+1, and if auto-vacuum deleted
    * a manifest in (readBase, CURRENT] during the op's read/stage
    * window, create-if-absent succeeds on the vacuumed slot even
    * though the version number is already spent. The winner must
    * therefore verify v > CURRENT *after* winning; on failure the
    * just-written file is removed (freeing nothing that was ours to
    * take) and the op aborts retryably. Safe against the reverse race:
    * while we hold an unfinalized claim at v, no writer sequences past
    * it ([[awaitClaimResolution]]), so CURRENT cannot advance to >= v
    * between this check and our finalize.
    */
  private def checkClaimedAboveCurrent(v: Long, op: String,
      touched: Seq[String]): Unit = {
    val cur = currentVersion
    if (v <= cur) {
      fs.delete(new Path(s"$snapDir/v$v.list"), false)
      concurrentAbort(v, op,
        s"vacuumed committed version (CURRENT=$cur)", touched)
    }
  }

  private def isStaleClaim(claimTs: Long): Boolean =
    System.currentTimeMillis() - claimTs > WarehouseTable.staleClaimTimeoutMs

  /** Roll back the torn data state of an abandoned swap claim — a
    * writer that died after [[claimCommit]] but before
    * [[finalizeCommit]], detected by a `pending:` header older than
    * [[WarehouseTable.staleClaimTimeoutMs]] (a finalize is a single
    * metadata write moments after the claim; minutes of `pending:` can
    * only mean a dead writer).
    *
    * [[swapFilesGranular]] writes its journal
    * ([[WarehouseTable.LiveSwapJournal]]: each swapped day's pre-swap
    * live files) before it creates any archive day dir, so recovery is
    * exact. Each day present under `history/v<claim>/` was reached by
    * the swap and rolls back file by file: the live files the journal
    * does not list are deleted (the torn new generation — plus any
    * concurrent append's uncommitted files, which abort on the
    * rolled-back overlap) and the archived files move back. A day
    * absent from the archive was never reached; its live files are the
    * intact pre-claim ones. An archive holding day dirs but no journal
    * is not something this table writes: recovery refuses it with an
    * [[IllegalStateException]] naming the version.
    *
    * Blooms of rolled-back days are dropped (the crashed writer may have
    * written them against the new generation; missing reads as
    * always-candidate), the archive dir is removed — [[vacuum]] never
    * counts an orphaned generation — and the claim file is deleted,
    * freeing its version number. Concurrent recoveries are safe:
    * renames/deletes are first-wins idempotent and the subsequent
    * re-claim goes through the atomic create-if-absent. The crashed
    * writer's staging dir (`.merge-*`/`.compact-*`/…) cannot be
    * attributed to a claim and is left behind — it lives outside
    * `data/`, invisible to every read path.
    */
  private def recoverCrashedClaim(v: Long): Unit = {
    val archDir = new Path(s"$historyDir/v$v")
    val processed: Seq[String] =
      if (!fs.exists(archDir)) Seq.empty
      else fs.listStatus(archDir).toSeq.map(_.getPath.getName)
        .filter(_.startsWith(s"$partitionCol="))
        .map(_.stripPrefix(s"$partitionCol="))
    val journal = new Path(archDir, WarehouseTable.LiveSwapJournal)
    if (processed.nonEmpty && !fs.exists(journal))
      throw new IllegalStateException(
        s"crashed claim v$v of $root: archive $archDir holds day dirs " +
          s"but no ${WarehouseTable.LiveSwapJournal} journal — not a swap " +
          "this table writes; refusing to roll it back")
    // day → files live before the swap
    val preLive: Map[String, Set[String]] =
      if (processed.isEmpty) Map.empty
      else readMetaString(spark, journal.toString).linesIterator
        .map(_.split("\t", 2)).collect { case Array(d, n) => d -> n }
        .toSeq.groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2).toSet }
    processed.foreach { d =>
      val live = new Path(s"$dataPath/$partitionCol=$d")
      val arch = new Path(archDir, s"$partitionCol=$d")
      val known = preLive.getOrElse(d, Set.empty[String])
      if (fs.exists(live))
        fs.listStatus(live).toSeq.filter { st =>
          val n = st.getPath.getName
          st.isFile && !n.startsWith("_") && !n.startsWith(".") &&
            !known.contains(n)
        }.foreach(st => fs.delete(st.getPath, false))
      else fs.mkdirs(live)
      listDayFiles(arch).foreach { n =>
        fs.rename(new Path(arch, n), new Path(live, n)); ()
      }
      // a day the crashed swap CREATED (no archived files): rolling
      // back leaves an empty dir — drop it so the day reads as never
      // having existed
      if (fs.exists(live) && fs.listStatus(live).isEmpty)
        fs.delete(live, true)
    }
    if (fs.exists(archDir)) fs.delete(archDir, true)
    // DROP rolled-back days' blooms rather than rebuilding from live
    // dirs (the crashed writer may have refreshed them against the new
    // generation): missing blooms read as always-candidate —
    // conservative — and recovery stays free of distributed scans that
    // could race a concurrent writer's immediate re-swap of these days
    dropBlooms(processed)
    fs.delete(new Path(s"$snapDir/v$v.list"), false)
    ()
  }

  /** Finalize a [[claimCommit]]ed version after its data swap (the
    * last step of [[publish]]): rewrite the claimed file with the real
    * manifest, then advance CURRENT. The base is the newest finalized
    * manifest below `v` — COMPLETE, because commits never sequence past
    * an unfinalized claim ([[awaitClaimResolution]]); this op's touched
    * days take EXACTLY their new `entries` (a touched day with no entry
    * files was emptied and drops from the manifest).
    * File-exact, never directory-listed (soak-found fix): a listing
    * taken here would sweep a concurrent append's
    * landed-but-uncommitted files into this manifest — files that
    * append deletes when its own conflict walk aborts it, leaving this
    * manifest referencing nothing. Residual corner (documented, out of
    * normal operation): a version number freed by stale-claim recovery
    * and reclaimed while a HIGHER version is mid-finalize can still
    * finalize out of order — its manifest is then only ever visible at
    * its historical position (CURRENT never regresses).
    */
  private def finalizeCommit(op: String, touched: Seq[String],
      v: Long, entries: Map[String, Seq[String]]): Unit = {
    val prev = manifestBase(v)
    val updated = touched.foldLeft(prev) { (m, d) =>
      entries.get(d).filter(_.nonEmpty) match {
        case Some(files) => m.updated(d, files)
        case None => m - d
      }
    }
    writeMetaString(spark, s"$snapDir/v$v.list",
      renderManifest(op, touched, updated, batchesBase(v)))
    advanceCurrent(v)
  }

  /** The staged generation's day → file names (the files a swap moves
    * into each touched day; [[publish]] adds them to its new entries).
    * The staging dir is private to this writer, so the listing is
    * race-free.
    */
  private[sources] def stagedDayFiles(staging: String): Map[String, Seq[String]] = {
    val p = new Path(staging)
    if (!fs.exists(p)) Map.empty
    else fs.listStatus(p).toSeq
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith(s"$partitionCol="))
      .map(dir => dir.getPath.getName.stripPrefix(s"$partitionCol=") ->
        listDayFiles(dir.getPath))
      .filter(_._2.nonEmpty).toMap
  }

  /** Commit snapshot `version` for an APPEND-type op: the previous
    * manifest with EXACTLY this writer's landed files added to the
    * touched days' entries. File-exact (soak-found fix): a directory
    * listing here would sweep a CONCURRENT writer's
    * landed-but-uncommitted files into this manifest — files that
    * writer deletes when it aborts, leaving this manifest referencing
    * nothing. Driver-side metadata only; per-flush commit cost is
    * independent of table history.
    *
    * == Optimistic concurrency ==
    *
    * The version file doubles as the claim (create-if-absent, full body
    * in one write). `version` must be `readBase + 1` where `readBase`
    * is CURRENT before the op landed any file — the walk then examines
    * EVERY version committed since (the conflict window; starting at
    * claim-time CURRENT+1 would silently skip a swap that finalized
    * while our files were landing). On a lost claim an append
    * re-sequences: it rebases on the newest finalized manifest below
    * the next free version and re-adds its own files — additive and
    * uniquely named, so the union is exact (the auto-resolution Delta
    * applies to blind appends). When any winner in the walk is a SWAP
    * op on an overlapping day, the append aborts — the swap replaced
    * the generation this append landed into (the caller deletes its
    * landed files and rethrows). CURRENT only ever advances.
    */
  private[sources] def commitSnapshot(op: String, myFiles: Map[String, Seq[String]],
      version: Long, batchTag: Option[String] = None): Long = {
    val touched = myFiles.keys.toSeq.sorted
    @annotation.tailrec
    def attempt(v: Long, prev: Map[String, Seq[String]],
        prevBatches: Seq[String]): Long = {
      val updated = myFiles.foldLeft(prev) { case (m, (d, names)) =>
        m.updated(d, (m.getOrElse(d, Seq.empty) ++ names).distinct)
      }
      val batches = batchTag
        .fold(prevBatches)(t => pruneBatchTags(prevBatches, t) :+ t)
      // captured BEFORE the manifest write: the stale-slot guard below
      // positively confirms a vacuumed slot by finding a retained
      // finalized successor manifest whose commit time PRECEDES this
      // write — such a successor cannot have rebased on ours
      val writeStart = System.currentTimeMillis()
      if (tryWriteNewMetaString(spark, s"$snapDir/v$v.list",
          renderManifest(op, touched, updated, batches))) {
        // The manifest just written is DURABLE, so every failure below
        // is compensated (advisor-found): an uncompensated failure
        // would leave a finalized v.list the next commit rebases on
        // while the caller's cleanup deletes the data files it
        // references — committed-data loss. Failures whose published
        // state cannot be determined rethrow typed
        // ([[WarehouseTable.CommitIndeterminateException]]) so callers
        // keep their landed files.
        def indeterminate(why: String, cause: Throwable): Nothing =
          throw new WarehouseTable.CommitIndeterminateException(
            s"commit v$v of $root failed post-write — $why; published " +
              "state unknown, landed files must be kept", cause)
        val cur =
          try currentVersion
          catch { case io: java.io.IOException =>
            indeterminate("CURRENT unreadable", io) }
        if (v <= cur) {
          // v <= CURRENT admits TWO histories: the slot was a VACUUMED
          // committed version (CURRENT was already past it — our
          // manifest rebased on a base missing every commit in
          // (base, CURRENT] and must never publish; the r11 guard's
          // case), or a concurrent committer sequenced PAST our
          // finalized manifest in the microseconds since the write
          // (ours is in the chain via its rebase — publishing already
          // happened). The shared claim-path guard can assume the
          // first (a pending claim blocks successors); a finalized
          // append manifest cannot — so distinguish by the chain
          // itself: the CURRENT manifest carries our files iff a
          // successor rebased on us.
          val inChain =
            try {
              val chain = readManifest(cur)
              myFiles.forall { case (d, names) =>
                val have = chain.getOrElse(d, Seq.empty).toSet
                names.forall(have.contains)
              }
            } catch { case io: java.io.IOException =>
              indeterminate(s"chain manifest v$cur unreadable", io) }
          if (!inChain) {
            // v <= cur with our files absent from the chain still
            // admits a THIRD history (r12 advisor): a successor append
            // rebased on our manifest (publishing it) during a long
            // stall in this window, and a later swap legitimately
            // rewrote our files — deleting v.list then would orphan a
            // PUBLISHED version (readAsOf(v) breaks, an untagged retry
            // duplicates rows). Only a POSITIVELY confirmed vacuumed
            // slot may delete: the oldest retained finalized manifest
            // in (v, cur] committed BEFORE our write proves versions
            // through it were spent before us, so nothing ever rebased
            // on our manifest. No such witness (all vacuumed, or the
            // oldest postdates our write) ⇒ indeterminate — the caller
            // keeps its landed files for the operator.
            val confirmedVacuumed =
              try {
                val retained = fs.listStatus(new Path(snapDir)).toSeq
                  .map(_.getPath.getName)
                  .collect { case n if n.startsWith("v") && n.endsWith(".list") =>
                    n.stripPrefix("v").stripSuffix(".list").toLong }
                  .filter(w => w > v && w <= cur).sorted
                retained.iterator.map(w => commitMeta(w))
                  .find(m => !isPendingOp(m._1))
                  .exists(m => m._2 > 0L && m._2 < writeStart)
              } catch { case io: java.io.IOException =>
                indeterminate("stale-slot history unreadable", io) }
            if (!confirmedVacuumed)
              indeterminate(
                s"manifest v$v is off-chain at CURRENT=$cur but no " +
                  "retained successor predates this write — " +
                  "published-through-successor cannot be ruled out",
                null)
            try { fs.delete(new Path(s"$snapDir/v$v.list"), false); () }
            catch { case io: java.io.IOException =>
              indeterminate("stale-slot manifest could not be removed", io) }
            concurrentAbort(v, op,
              s"vacuumed committed version (CURRENT=$cur)", touched)
          }
          // published through the successor's rebase — success
        } else {
          try advanceCurrent(v)
          catch { case scala.util.control.NonFatal(e) =>
            val published =
              try Some(currentVersion >= v)
              catch { case _: java.io.IOException => None }
            published match {
              case Some(true) => () // advance landed (ours or a successor's)
              case Some(false) =>
                // verifiably unpublished: remove the manifest so the
                // caller's file cleanup is safe. (Residual corner,
                // documented like finalizeCommit's: a concurrent
                // committer that read this v.list as its rebase base
                // in the microseconds before this delete.)
                try { fs.delete(new Path(s"$snapDir/v$v.list"), false); () }
                catch { case io: java.io.IOException =>
                  indeterminate("unpublished manifest could not be removed",
                    io) }
                throw e
              case None => indeterminate("CURRENT unreadable", e)
            }
          }
        }
        v
      } else {
        val (theirOp, theirTs, theirDays) = commitMeta(v)
        if (isPendingOp(theirOp) && isStaleClaim(theirTs)) {
          // heal the crashed swap first. An overlapping-day append must
          // then abort: the rollback just deleted the day dirs its files
          // were already written into (re-run rewrites them); a disjoint
          // append reclaims the freed version.
          recoverCrashedClaim(v)
          if (theirDays.isEmpty || touched.exists(theirDays.contains))
            concurrentAbort(v, op, s"$theirOp [crashed claim, rolled back]",
              touched)
          attempt(v, prev, prevBatches)
        } else if (isPendingOp(theirOp)) {
          // never sequence past an UNFINALIZED claim (awaitClaimResolution
          // doc): wait, then re-examine this slot with the same base
          awaitClaimResolution(v, op, touched)
          attempt(v, prev, prevBatches)
        } else {
          val overlaps = theirDays.isEmpty || touched.exists(theirDays.contains)
          if (!appendSafeOps(op) || (!appendSafeOps(theirOp) && overlaps))
            concurrentAbort(v, op, theirOp, touched)
          attempt(v + 1, manifestBase(v + 1), batchesBase(v + 1))
        }
      }
    }
    attempt(version, manifestBase(version), batchesBase(version))
  }

  /** Committed snapshots, newest first: (version, operation, commit
    * epoch-millis). Versions already vacuumed are absent.
    */
  def history(): Seq[(Long, String, Long)] = {
    val p = new Path(snapDir)
    if (!fs.exists(p)) return Seq.empty
    fs.listStatus(p).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".list") =>
        n.stripPrefix("v").stripSuffix(".list").toLong }
      .sorted(Ordering[Long].reverse)
      .map { v =>
        val header = readMetaString(spark, s"$snapDir/v$v.list")
          .linesIterator.buffered.headOption.getOrElse("")
        val parts = header.stripPrefix("#").split("\t", 3)
        (v, parts.headOption.getOrElse("?"),
          parts.lift(1).flatMap(_.toLongOption).getOrElse(0L))
      }
      // in-flight (or crashed) swap claims are not committed snapshots
      .filterNot(h => isPendingOp(h._2))
  }

  /** One health/observability relation for the table — the maintenance
    * dashboard a 100 TB operator reads before deciding to compact,
    * rebuild or vacuum. Built ENTIRELY from existing metadata: live-dir
    * listings, the CURRENT manifest, bloom/zone-map sidecar headers and
    * the snapshot/archive directories — O(days) driver-side FS metadata
    * calls, never a data scan.
    *
    * One row per live day partition:
    *  - `files`, `bytes`: live data files and their size
    *  - `manifest_files`: files the CURRENT manifest references for the
    *    day; `unmanifested_files` > 0 flags landed-but-uncommitted
    *    leftovers (vacuum reconciles them once aged)
    *  - `bloom`: `ok` / `stale-format` (no GFB3 magic — read as
    *    always-candidate until the next exact pass heals it) / `missing`
    *  - `bloom_stale_versions`: committed versions that touched the day
    *    ABOVE the bloom's commit-version stamp (format-3 header) — an
    *    EXACT count, immune to clock skew and preserved mtimes; 0 in
    *    steady state, > 0 means merge probes over-scan this day until
    *    a compact or periodic exact pass tightens it
    *  - `small_files`: data files under `smallFileBytes` — the
    *    churn tail [[compactSmall]] consolidates (bin-packing
    *    maintenance cost stays proportional to churn, not residency)
    *  - `zonemap_cols`: columns with a range sidecar for the day
    *  - `archived_generations`: superseded generations [[vacuum]] can
    *    still reclaim
    *  - `needs_compact`: `files > maxFilesPerDay` — feed to
    *    [[compactFragmented]]
    *  - `snapshot_versions`, `current_version`: table-level constants on
    *    every row (retention decisions)
    */
  def describeHealth(maxFilesPerDay: Int = 64,
      smallFileBytes: Long = 32L << 20): DataFrame = {
    require(maxFilesPerDay > 0, s"maxFilesPerDay must be positive: $maxFilesPerDay")
    require(smallFileBytes > 0, s"smallFileBytes must be positive: $smallFileBytes")
    val cur = currentVersion
    val manifest = if (cur > 0L) readManifest(cur) else Map.empty[String, Seq[String]]
    val commits = history().map { case (v, _, ts) => (v, ts, commitMeta(v)._3) }
    val snapshotCount = commits.size.toLong
    val archived: Map[String, Long] =
      if (!fs.exists(new Path(historyDir))) Map.empty
      else fs.listStatus(new Path(historyDir)).toSeq.filter(_.isDirectory)
        .flatMap(vd => fs.listStatus(vd.getPath).toSeq
          .map(_.getPath.getName).filter(_.startsWith(s"$partitionCol="))
          .map(_.stripPrefix(s"$partitionCol=")))
        .groupBy(identity).map { case (d, xs) => d -> xs.size.toLong }
    val zmCols: Map[String, Long] =
      if (!fs.exists(new Path(zoneMapDir))) Map.empty
      else fs.listStatus(new Path(zoneMapDir)).toSeq.filter(_.isDirectory)
        .flatMap(cd => fs.listStatus(cd.getPath).toSeq
          .map(_.getPath.getName).filter(_.endsWith(".props"))
          .map(_.stripSuffix(".props")))
        .groupBy(identity).map { case (d, xs) => d -> xs.size.toLong }
    // flatMap + per-day tolerance: health reads run CONCURRENTLY with
    // writers, and a swap can archive a day dir (or its bloom) between
    // the listing and the stat calls — such a day is simply absent from
    // this health snapshot rather than crashing the report
    val rows = listDays().flatMap { d => try {
      val dir = new Path(s"$dataPath/$partitionCol=$d")
      val files = fs.listStatus(dir).toSeq.filter(st =>
        st.isFile && !st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith("."))
      val known = manifest.getOrElse(d, Seq.empty).toSet
      val unmanifested =
        if (cur == 0L) 0L
        else files.count(f => !known.contains(f.getPath.getName)).toLong
      val bloomPath = new Path(s"$bloomDir/$d.bloom")
      val bloomState =
        if (!fs.exists(bloomPath)) "missing"
        else if (bloomNeedsHeal(d)) "stale-format"
        else "ok"
      // EXACT staleness from the bloom's commit-version stamp (format-3
      // header): committed versions that touched the day strictly above
      // the version the bloom's content covers. No clocks, no mtime, no
      // claim-window tolerance — a bloom written by commit v reads 0
      // until the next touching commit regardless of clock skew, and a
      // DELETE that deliberately leaves the bloom a superset reads
      // exactly the number of commits it fell behind.
      val staleVersions =
        if (bloomState != "ok") 0L // not comparable — the state column says it all
        else {
          val stamp = WarehouseTable.readBloomStamp(fs, bloomPath).getOrElse(0L)
          commits.count { case (cv, _, touched) =>
            cv > stamp && (touched.isEmpty || touched.contains(d))
          }.toLong
        }
      Some(org.apache.spark.sql.Row(
        d, files.size.toLong, files.map(_.getLen).sum,
        manifest.getOrElse(d, Seq.empty).size.toLong, unmanifested,
        bloomState, staleVersions, zmCols.getOrElse(d, 0L),
        archived.getOrElse(d, 0L), files.size > maxFilesPerDay,
        snapshotCount, cur,
        files.count(_.getLen < smallFileBytes).toLong))
    } catch { case _: java.io.IOException => None } }
    val healthSchema = StructType(Seq(
      StructField("day", StringType, nullable = false),
      StructField("files", LongType, nullable = false),
      StructField("bytes", LongType, nullable = false),
      StructField("manifest_files", LongType, nullable = false),
      StructField("unmanifested_files", LongType, nullable = false),
      StructField("bloom", StringType, nullable = false),
      StructField("bloom_stale_versions", LongType, nullable = false),
      StructField("zonemap_cols", LongType, nullable = false),
      StructField("archived_generations", LongType, nullable = false),
      StructField("needs_compact", BooleanType, nullable = false),
      StructField("snapshot_versions", LongType, nullable = false),
      StructField("current_version", LongType, nullable = false),
      StructField("small_files", LongType, nullable = false)))
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      healthSchema)
  }

  /** Time-travel read: the table exactly as of snapshot `version`
    * (BigQuery `FOR SYSTEM_TIME AS OF` / Delta `VERSION AS OF` analog).
    *
    * Resolution is per FILE, driver-side metadata only: an as-of file
    * lives in exactly one place — the archive of the swap that replaced
    * it (every swap archives exactly the files it replaced), or the
    * live partition if it was never replaced (post-`version` appends
    * only ADD files, which the manifest's file list excludes). Candidate locations per day
    * are its post-`version` archives oldest-first then the live dir,
    * consulted only until every manifest file is bound. Each location
    * group becomes one parquet read (partition column inferred from the
    * directory layout under its basePath); the scan plan is the same
    * pruned explicit-schema read as [[read]]. Throws when the snapshot
    * or any of its files has been [[vacuum]]ed.
    */
  def readAsOf(version: Long): DataFrame = {
    val cur = currentVersion
    require(version >= 1 && version <= cur,
      s"version $version not in available range 1..$cur")
    if (version == cur) return read()
    if (!fs.exists(new Path(s"$snapDir/v$version.list")))
      throw new IllegalStateException(
        s"snapshot v$version has been vacuumed (available: " +
          s"${history().map(_._1).sorted.mkString(",")})")
    require(!isPendingOp(commitMeta(version)._1),
      s"snapshot v$version is an unfinalized concurrent claim")
    val manifest = readManifest(version)
    if (manifest.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        schema.add(partitionCol, "string"))
    // ONE directory listing per archive generation (not one existence
    // probe per day × archive — O(days × versions) round trips on an
    // object store): day → post-`version` archives holding it, oldest
    // first. Resolution is then per FILE: a swap ([[swapFilesGranular]])
    // archives only the files it replaced — the carried-forward
    // siblings live in a later archive or are still live, so each file
    // binds to the first location that holds it (files are immutable
    // and uniquely named: exactly one location ever does).
    readLocated(locateAsOf(version, manifest))
  }

  /** Resolve (day → wanted file names) to their physical locations as
    * of `version` — [[readAsOf]]'s per-file resolution, factored so
    * [[tableDiff]] can resolve file SUBSETS: each file binds to the
    * first post-`version` archive of its day that holds it, else the
    * live partition (files are immutable and uniquely named within
    * their day, so exactly one location ever does).
    */
  private def locateAsOf(version: Long,
      wanted: Map[String, Seq[String]]): Seq[(String, String, Seq[String])] = {
    val archives =
      if (!fs.exists(new Path(historyDir))) Seq.empty[Long]
      else fs.listStatus(new Path(historyDir)).toSeq.map(_.getPath.getName)
        .collect { case n if n.startsWith("v") => n.stripPrefix("v").toLong }
        .filter(_ > version).sorted
    val archivesOfDay: Map[String, Seq[Long]] = archives
      .flatMap { n =>
        fs.listStatus(new Path(s"$historyDir/v$n")).toSeq
          .map(_.getPath.getName)
          .filter(_.startsWith(s"$partitionCol="))
          .map(_.stripPrefix(s"$partitionCol=") -> n)
      }
      .groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2).sorted }
    wanted.toSeq.flatMap { case (d, files) =>
      val bases = archivesOfDay.getOrElse(d, Seq.empty)
        .map(n => s"$historyDir/v$n") :+ dataPath
      val groups = Seq.newBuilder[(String, String, Seq[String])]
      var remaining = files
      val it = bases.iterator
      while (remaining.nonEmpty && it.hasNext) {
        val base = it.next()
        val have = listDayFiles(new Path(s"$base/$partitionCol=$d")).toSet
        val (found, rest) = remaining.partition(have.contains)
        if (found.nonEmpty) groups += ((base, d, found))
        remaining = rest
      }
      if (remaining.nonEmpty) {
        // TOCTOU (soak-found): a concurrent vacuum deletes manifests
        // BEFORE archives, so if this snapshot's manifest is gone NOW,
        // the files vanished because the version was legitimately
        // vacuumed under this read — report that retryable condition,
        // not a spurious corruption
        if (!fs.exists(new Path(s"$snapDir/v$version.list")))
          throw new IllegalStateException(
            s"snapshot v$version was vacuumed concurrently with this read")
        throw new IllegalStateException(
          s"snapshot v$version: ${remaining.size} file(s) of " +
            s"$partitionCol=$d missing from every candidate location " +
            "(vacuumed or externally modified)")
      }
      groups.result()
    }
  }

  /** One pruned explicit-schema parquet read per resolved location
    * group; the empty location set reads as the empty table.
    */
  private def readLocated(
      located: Seq[(String, String, Seq[String])]): DataFrame =
    if (located.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        schema.add(partitionCol, "string"))
    else located.groupBy(_._1).toSeq.map { case (base, entries) =>
      conformToSchema(spark.read.schema(schema).option("basePath", base)
        .parquet(entries.flatMap { case (_, d, files) =>
          files.map(f => s"$base/$partitionCol=$d/$f") }: _*))
    }.reduce(_ unionByName _)

  /** Physical file groups for the `graft` DataSource connector
    * ([[GraftFileIndex]]): (day token → FileStatuses) resolved at
    * `version` (None = the CURRENT snapshot, pinned now). Exactly the
    * [[readAsOf]]/[[readCommitted]] semantics re-expressed as a file
    * listing the stock file-source planner can consume: committed
    * manifest files only (a concurrent writer's landed-but-uncommitted
    * files are invisible) and per-file archive resolution for
    * historical versions. One `listStatus` per (generation dir, day)
    * location group — O(days), never O(files), in driver round trips.
    */
  private[sources] def connectorFileGroups(
      version: Option[Long]): Seq[(String, Seq[org.apache.hadoop.fs.FileStatus])] = {
    val cur = currentVersion
    version.foreach(v => require(v >= 1 && v <= cur,
      s"version $v not in available range 1..$cur"))
    if (cur == 0L) return Seq.empty // CURRENT=0: nothing committed yet
    val v = version.getOrElse(cur)
    if (v != cur) {
      if (!fs.exists(new Path(s"$snapDir/v$v.list")))
        throw new IllegalStateException(
          s"snapshot v$v has been vacuumed (available: " +
            s"${history().map(_._1).sorted.mkString(",")})")
      require(!isPendingOp(commitMeta(v)._1),
        s"snapshot v$v is an unfinalized concurrent claim")
    }
    val manifest = readManifest(v)
    if (manifest.isEmpty) return Seq.empty
    resolvingAcrossSwaps {
      locateAsOf(v, manifest).groupBy(_._2).toSeq.sortBy(_._1).map {
        case (d, grps) =>
          d -> grps.flatMap { case (base, _, names) =>
            val wanted = names.toSet
            fs.listStatus(new Path(s"$base/$partitionCol=$d")).toSeq
              .filter(st => st.isFile && wanted.contains(st.getPath.getName))
          }
      }
    }
  }

  /** Run a [[locateAsOf]]-based resolution, retried across concurrent
    * swaps: a swap committing BETWEEN locateAsOf's archive listing and
    * its per-day live listing moves carry-forward files into an archive
    * generation the resolution never listed — the "missing from every
    * candidate location" IllegalStateException — or removes a listed
    * location under the listing (FileNotFoundException). A fresh
    * re-resolution finds them in the new archive, so retry a bounded
    * number of times before surfacing the protocol's typed retryable
    * abort (readCommitted's CME contract, which callers can retry on).
    */
  private def resolvingAcrossSwaps[T](resolve: => T): T = {
    var attempt = 0
    while (true) {
      try return resolve
      catch {
        case e: Exception if e.isInstanceOf[java.io.FileNotFoundException] ||
            (e.isInstanceOf[IllegalStateException] && String.valueOf(e.getMessage)
              .contains("missing from every candidate location")) =>
          attempt += 1
          if (attempt >= 3)
            throw new java.util.ConcurrentModificationException(
              "concurrent swaps kept moving this snapshot's files during " +
                s"resolution — re-run against the current table state: ${e.getMessage}")
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Columns with an on-disk zone-map sidecar cache — the set the
    * connector's planner-side data skipping is allowed to consult
    * (never triggering a first build).
    */
  private[sources] def zoneMapColumnsOnDisk: Seq[String] = {
    val p = new Path(zoneMapDir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath.getName)
  }

  /** Restore the LIVE table to snapshot `version` as a NEW commit
    * (Delta/Iceberg RESTORE analog, BigQuery's snapshot-recovery copy):
    * the as-of rows are rewritten through the clustering layout and
    * swapped in, and live partitions absent from the target snapshot are
    * swapped out. History is preserved — the restore is itself a
    * snapshot, so the pre-restore state remains time-travelable and a
    * restore can be restored away. Returns the partitions rewritten.
    */
  def restore(version: Long): Seq[String] = {
    val readBase = currentVersion
    require(version >= 1 && version <= readBase,
      s"version $version not in available range 1..$readBase")
    if (version < readBase) {
      if (!fs.exists(new Path(s"$snapDir/v$version.list")))
        throw new IllegalStateException(
          s"snapshot v$version has been vacuumed (available: " +
            s"${history().map(_._1).sorted.mkString(",")})")
      require(!isPendingOp(commitMeta(version)._1),
        s"snapshot v$version is an unfinalized concurrent claim")
    }
    // DAY-pruned (100 TB design): only days whose manifest entry
    // differs between the target and the current version rewrite —
    // restoring away a bad merge of 3 days on a 10,000-day table
    // touches 3 days, not the table. Unchanged days keep their files
    // AND their (still-exact) blooms byte-identical. (A day holding
    // only landed-but-uncommitted junk is invisible to both manifests
    // and is left to the vacuum sweep rather than swapped out here.)
    val target = readManifest(version)
    val curM = readManifest(readBase)
    val days = (target.keySet ++ curM.keySet).toSeq
      .filter(d => target.get(d).map(_.sorted) != curM.get(d).map(_.sorted))
      .sorted
    if (days.isEmpty) return Seq.empty
    val wanted = days.flatMap(d => target.get(d).map(d -> _)).toMap
    // guarded: the plan-time file-existence check races concurrent
    // swaps exactly like readCommitted's (typed retryable abort)
    val rows = guardStaleRead(readLocated(locateAsOf(version, wanted)))
    val staging = s"$root/.restore-${UUID.randomUUID().toString.take(8)}"
    guardStaleRead(clusteredWrite(rows).write
      .mode(SaveMode.Overwrite).partitionBy(partitionCol).parquet(staging))
    val stagedFiles = stagedDayFiles(staging)
    // restore CAN resurrect keys the current blooms don't cover:
    // exact blooms from the private staging dir, computed before the
    // claim (exactBlooms doc)
    val blooms = exactBlooms(Seq(staging -> stagedFiles))
    val v = claimCommit("restore", days, readBase + 1)
    publish("restore", v, days, Some(staging), stagedFiles, None)(_ =>
      writeExactBlooms(days, blooms, v))
    autoVacuum()
    days
  }

  /** Clone a snapshot into a NEW standalone table (BigQuery table
    * clone / Delta CLONE analog): the destination gets this table's
    * schema, key fields, and layout options, the snapshot's rows
    * written through the clustering layout, fresh blooms, and its own
    * version-1 snapshot — after which the two tables evolve
    * independently. Defaults to the current version.
    */
  def cloneTo(destRoot: String, version: Long = -1L): WarehouseTable = {
    val v = if (version < 0) currentVersion else version
    val dest = WarehouseTable.create(spark, destRoot, keyFields, schema, options)
    require(dest.listDays().isEmpty && dest.currentVersion == 0L,
      s"clone destination $destRoot is not empty")
    val rows = if (v == 0L) read() else readAsOf(v)
    dest.writeRouted(rows, "clone")
    dest
  }

  /** Byte-copy clone: the same result as [[cloneTo]] built by copying
    * the snapshot's parquet files verbatim (resolved per file through
    * [[locateAsOf]], so partial archives serve it) instead of
    * decoding, shuffling and re-encoding every row — at warehouse
    * scale a layout-preserving copy is several times cheaper in CPU
    * and needs no cluster-wide write job, and the source's clustering
    * layout (hence its file-skipping behavior) survives exactly.
    * Blooms: copied only when cloning the CURRENT version (they
    * describe the live key-set; an older snapshot may hold keys
    * deleted since, which the current blooms never covered — a copied
    * bloom could then MISS keys, the unsound direction), else rebuilt
    * exactly from the copied files' key columns.
    */
  def cloneToFast(destRoot: String, version: Long = -1L): WarehouseTable = {
    val cur = currentVersion
    val v = if (version < 0) cur else version
    require(v >= 1 && v <= cur, s"version $v not in available range 1..$cur")
    if (v < cur) {
      if (!fs.exists(new Path(s"$snapDir/v$v.list")))
        throw new IllegalStateException(
          s"snapshot v$v has been vacuumed (available: " +
            s"${history().map(_._1).sorted.mkString(",")})")
      require(!isPendingOp(commitMeta(v)._1),
        s"snapshot v$v is an unfinalized concurrent claim")
    }
    val dest = WarehouseTable.create(spark, destRoot, keyFields, schema, options)
    require(dest.listDays().isEmpty && dest.currentVersion == 0L,
      s"clone destination $destRoot is not empty")
    val manifest = readManifest(v)
    val located = resolvingAcrossSwaps(locateAsOf(v, manifest))
    val destFs = new Path(destRoot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    try located.foreach { case (base, d, files) =>
      val destDir = new Path(s"$destRoot/data/$partitionCol=$d")
      destFs.mkdirs(destDir)
      files.foreach { f =>
        org.apache.hadoop.fs.FileUtil.copy(
          fs, new Path(s"$base/$partitionCol=$d/$f"),
          destFs, new Path(destDir, f),
          false, spark.sparkContext.hadoopConfiguration)
      }
    } catch {
      // a concurrent swap/vacuum moved a resolved file mid-copy: the
      // protocol's retryable abort, same contract as a stale read plan
      case e: java.io.FileNotFoundException =>
        throw new java.util.ConcurrentModificationException(
          "a concurrent swap archived files under this clone — " +
            s"re-run against the current table state: ${e.getMessage}")
    }
    if (manifest.nonEmpty)
      dest.commitSnapshot("clone", manifest, dest.currentVersion + 1)
    if (v == cur)
      manifest.keys.foreach { d =>
        val src = new Path(s"$bloomDir/$d.bloom")
        if (fs.exists(src))
          org.apache.hadoop.fs.FileUtil.copy(fs, src,
            destFs, new Path(s"$destRoot/_graft/bloom2/$d.bloom"),
            false, spark.sparkContext.hadoopConfiguration)
      }
    else dest.refreshBloomsForClone(manifest.keys.toSeq)
    dest
  }

  /** Exact bloom rebuild over the clone's freshly copied days, stamped
    * at its version-1 snapshot (cloneToFast's non-current path).
    */
  private def refreshBloomsForClone(days: Seq[String]): Unit =
    refreshBlooms(days, 1L)

  /** Stage a partitioned write under a job-unique dir, then move the
    * (uniquely-named) part files into the live partitions. Writing
    * `mode(Append)` straight at `dataPath` makes every concurrent
    * append share the Hadoop committer's `$dataPath/_temporary/0` —
    * one job's commit deletes it under the other mid-write
    * (`TASK_WRITE_FAILED`, found by the multi-writer soak). A per-job
    * staging dir removes the shared mutable directory entirely; the
    * moves are O(files) driver-side renames of names that carry the
    * job's UUID (no collision), the pattern [[appendBatch]] already
    * uses for replay convergence.
    */
  /** Stage the append under a unique dir, then move its files into the
    * table partitions. Returns (day → moved file names, the days whose
    * partition dir pre-existed this write, total staged bytes, total
    * staged rows or -1) — the last three feed bloom maintenance for
    * free (no extra job). Rows come from the parquet footers, read
    * from the PRIVATE staging paths before the rename (the landed dest
    * paths can be archived by a concurrent swap mid-read — soak-found
    * FileNotFoundException); footer reads stop the moment cumulative
    * bytes blow the fold's byte gate (rows then report -1 = over), so
    * a bulk load never pays O(files) footer round trips for a gate it
    * already failed.
    */
  private def writeStagedInto(df: DataFrame):
      (Map[String, Seq[String]], Set[String], Long, Long, Path) = {
    val stagingId = UUID.randomUUID().toString.take(8)
    val staging = s"$root/.append-$stagingId"
    df.write.mode(SaveMode.Overwrite).partitionBy(partitionCol).parquet(staging)
    val byteGate = WarehouseTable.appendHashCollectMaxBytes
    try {
      val dayDirs = fs.listStatus(new Path(staging)).toSeq.filter(st =>
        st.isDirectory && st.getPath.getName.startsWith(s"$partitionCol="))
      // landing marker BEFORE the first rename (advisor-found): rename
      // preserves mtime, so the vacuum's landed-but-uncommitted sweep
      // would otherwise age these files from their staging WRITE time —
      // a landing whose bloom build + commit walk outlives the stale
      // window would have its files swept mid-protocol and the later
      // commit would publish a manifest referencing deleted files. The
      // marker's own mtime IS the landing time; the sweep skips its
      // days until the marker is released (commit or cleanup) or ages
      // past the long landing retention (crashed writer).
      val marker = writeLandingMarker(stagingId,
        dayDirs.map(_.getPath.getName.stripPrefix(s"$partitionCol=")))
      var bytes = 0L
      var rows = 0L
      val preExisting = Set.newBuilder[String]
      val files = dayDirs.map { dir =>
        val day = dir.getPath.getName.stripPrefix(s"$partitionCol=")
        val dest = new Path(s"$dataPath/${dir.getPath.getName}")
        if (fs.exists(dest)) preExisting += day else fs.mkdirs(dest)
        val names = fs.listStatus(dir.getPath).toSeq.filter(f => f.isFile &&
            !f.getPath.getName.startsWith("_")).map { f =>
          bytes += f.getLen
          if (rows >= 0L && bytes <= byteGate)
            rows += parquetRowCount(Seq(f.getPath))
          else rows = -1L
          fs.rename(f.getPath, new Path(dest, f.getPath.getName))
          f.getPath.getName
        }
        day -> names
      }.filter(_._2.nonEmpty).toMap
      (files, preExisting.result(), bytes, rows, marker)
    } finally { fs.delete(new Path(staging), true); () }
  }

  private def landingsDir = s"$root/_graft/landings"

  /** Durable record that a writer is mid-landing on the listed days:
    * created before the first staged-file rename, released once the
    * files are either committed (in the manifest, so the sweep's
    * known-set excludes them) or deleted by the failure cleanup. Its
    * mtime is the LANDING time — the staleness clock the vacuum sweep
    * needs, which the landed files' own (rename-preserved) mtimes do
    * not provide.
    */
  private def writeLandingMarker(id: String, days: Seq[String]): Path = {
    val p = new Path(s"$landingsDir/$id")
    writeMetaString(spark, p.toString, days.mkString("\n"))
    p
  }

  private def releaseLandingMarker(p: Path): Unit =
    try { fs.delete(p, false); () }
    catch { case _: java.io.IOException => () }

  /** Best-effort removal of files this writer landed but could not
    * commit (its claim walk hit an overlapping swap): leaving them
    * would double the rows when the caller retries. Files a concurrent
    * swap already archived are simply absent here — readAsOf ignores
    * archive files its manifest doesn't list, so they are inert.
    */
  private def deleteLanded(myFiles: Map[String, Seq[String]]): Unit =
    myFiles.foreach { case (d, names) =>
      names.foreach { n =>
        val p = new Path(s"$dataPath/$partitionCol=$d/$n")
        if (fs.exists(p)) fs.delete(p, false)
      }
    }

  /** Write pre-routed rows (carrying `_pday`) through the clustering
    * layout, refresh blooms, and commit a snapshot — the ingest half of
    * [[cloneTo]].
    */
  private def writeRouted(df: DataFrame, op: String): Unit = {
    val readBase = currentVersion
    val (myFiles, _, _, _, landing) = writeStagedInto(clusteredWrite(df))
    refreshBlooms(myFiles.keys.toSeq, readBase + 1)
    if (myFiles.nonEmpty) commitSnapshot(op, myFiles, readBase + 1)
    releaseLandingMarker(landing)
  }

  /** Time-based travel (BigQuery `FOR SYSTEM_TIME AS OF` analog): the
    * table as of the newest snapshot committed at or before `epochMs`.
    */
  def readAsOfTime(epochMs: Long): DataFrame = {
    val h = history()
    val hit = h.filter(_._3 <= epochMs).map(_._1).maxOption.getOrElse(
      throw new IllegalArgumentException(
        s"no snapshot committed at or before $epochMs" +
          h.map(_._3).minOption.fold("")(m => s" (earliest commit: $m)")))
    readAsOf(hit)
  }

  /** Auto-vacuum to the configured retention after a mutation; no-op
    * without `snapshotRetention`.
    */
  private def autoVacuum(): Unit =
    options.snapshotRetention.foreach { n => vacuum(n); () }

  /** Row-level changes between two snapshots (CDC read): rows present
    * at `toVersion` but not `fromVersion` tagged `added`, rows present
    * at `fromVersion` but not `toVersion` tagged `removed`
    * (multiset/`EXCEPT ALL` semantics — on a key-unique table an update
    * appears as one `removed` + one `added` of the same key). The
    * downstream-sync primitive the snapshot layer enables: a consumer
    * that applied `fromVersion` reaches `toVersion` by applying the
    * diff, without re-reading the table.
    *
    * == 100 TB design ==
    *
    * The manifests bound the work BEFORE any data is read — at FILE
    * granularity: only files whose manifest MEMBERSHIP differs between
    * the two snapshots are scanned (each side resolved per file through
    * [[locateAsOf]]). Sound because `exceptAll` is a multiset
    * difference and rows of files present in BOTH manifests appear
    * identically on both sides, cancelling exactly — so an append-only
    * span reads just the appended files (not whole days twice), a
    * one-key file-granular UPDATE reads the one replaced and one
    * replacement file, and a compaction reads the rewritten generation
    * pair and yields an empty diff.
    */
  def tableDiff(fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion,
      s"fromVersion $fromVersion > toVersion $toVersion")
    val withTag = (df: DataFrame, tag: String) =>
      df.withColumn("change_type", lit(tag))
    def empty = withTag(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      schema.add(partitionCol, "string")), "added")
    if (fromVersion == toVersion) return empty
    // explicit snapshot validation (readAsOf's checks, which the
    // file-granular path no longer routes through): a vacuumed
    // manifest must throw, never silently read as an empty side
    val cur = currentVersion
    Seq(fromVersion, toVersion).foreach { v =>
      require(v >= 1 && v <= cur, s"version $v not in available range 1..$cur")
      if (v < cur && !fs.exists(new Path(s"$snapDir/v$v.list")))
        throw new IllegalStateException(
          s"snapshot v$v has been vacuumed (available: " +
            s"${history().map(_._1).sorted.mkString(",")})")
      if (v < cur) require(!isPendingOp(commitMeta(v)._1),
        s"snapshot v$v is an unfinalized concurrent claim")
    }
    val from = readManifest(fromVersion)
    val to = readManifest(toVersion)
    def onlyIn(a: Map[String, Seq[String]],
        b: Map[String, Seq[String]]): Map[String, Seq[String]] =
      a.flatMap { case (d, names) =>
        val other = b.getOrElse(d, Seq.empty).toSet
        val own = names.filterNot(other.contains)
        if (own.isEmpty) None else Some(d -> own.sorted)
      }
    val removedFiles = onlyIn(from, to)
    val addedFiles = onlyIn(to, from)
    if (removedFiles.isEmpty && addedFiles.isEmpty) return empty
    val before = readLocated(locateAsOf(fromVersion, removedFiles))
    val after = readLocated(locateAsOf(toVersion, addedFiles))
    withTag(after.exceptAll(before), "added")
      .unionByName(withTag(before.exceptAll(after), "removed"))
  }

  /** Net-new rows landed by the APPEND commits in the version span
    * `(fromVersion, toVersion]` — the incremental-read primitive behind
    * the graft STREAMING SOURCE (`readStream.format("graft")`),
    * factored into the table for the same reason as [[tableDiff]]: it
    * needs the manifests and per-file archive resolution.
    *
    * Semantics (the Delta streaming-source contract re-expressed):
    *   - `append` / `append-batch` / `clone` commits contribute exactly
    *     their ADDED files — an append never removes files, so its
    *     added files hold precisely its rows — resolved through the
    *     archive generations if a later commit rewrote them;
    *   - `compact` / `compact-small` commits preserve rows and are
    *     always skipped silently;
    *   - every other FINALIZED op in the span changes rows (merge /
    *     delete / update / overwrite / restore / truncate / expire):
    *     throws unless `skipChangeCommits`, which skips them (their row
    *     changes are NOT emitted — the reader keeps streaming appends);
    *   - pending/aborted claims hold no file list and contribute
    *     nothing.
    *
    * == 100 TB design ==
    *
    * O(versions-in-span) manifest METADATA reads and one pruned
    * parquet read over just the appended files — a micro-batch
    * advancing one version reads one commit's files, never the table.
    */
  def appendedBetween(fromVersion: Long, toVersion: Long,
      skipChangeCommits: Boolean = false): DataFrame = {
    require(fromVersion <= toVersion,
      s"fromVersion $fromVersion > toVersion $toVersion")
    def emptyDf = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      schema.add(partitionCol, "string"))
    if (fromVersion == toVersion) return emptyDf
    val cur = currentVersion
    require(fromVersion >= 0 && toVersion <= cur,
      s"version span ($fromVersion, $toVersion] outside available 0..$cur")
    // the span's diff bases bottom out at fromVersion: it must still be
    // resolvable, or added-file sets would silently compute against an
    // OLDER manifest and re-emit rows (exactly-once violation). Above
    // it, a missing manifest can only be an aborted claim hole (vacuum
    // sweeps oldest-first), which safely contributes nothing.
    require(fromVersion == 0 ||
      fs.exists(new Path(s"$snapDir/v$fromVersion.list")),
      s"snapshot v$fromVersion has been vacuumed — the stream cannot " +
        "resume exactly-once from this offset; restart from a retained " +
        "version (raise vacuum retention above the stream's downtime)")
    val appending = Set("append", "append-batch", "clone")
    val preserving = Set("compact", "compact-small")
    val ops = ((fromVersion + 1) to toVersion).flatMap { v =>
      if (!fs.exists(new Path(s"$snapDir/v$v.list"))) None
      else Some(v -> commitMeta(v)._1)
    }
    val changers = ops.filter { case (_, op) =>
      !isPendingOp(op) && !appending(op) && !preserving(op) }
    if (changers.nonEmpty && !skipChangeCommits)
      throw new UnsupportedOperationException(
        "streaming a graft table requires append-only commits in the " +
          s"span; found ${changers.map { case (v, o) => s"v$v:$o" }
            .mkString(", ")} — set option skipChangeCommits=true to " +
          "stream past them (their row changes will not be emitted)")
    def onlyIn(a: Map[String, Seq[String]],
        b: Map[String, Seq[String]]): Map[String, Seq[String]] =
      a.flatMap { case (d, names) =>
        val other = b.getOrElse(d, Seq.empty).toSet
        val own = names.filterNot(other.contains)
        if (own.isEmpty) None else Some(d -> own.sorted)
      }
    val located = ops.collect { case (v, op) if appending(op) =>
      locateAsOf(v, onlyIn(readManifest(v), readManifest(finalizedBelow(v))))
    }.flatten
    if (located.isEmpty) emptyDf else readLocated(located)
  }

  /** Row-level CHANGES committed in the version span `(fromVersion,
    * toVersion]` — the change-data-feed primitive behind
    * `readStream.format("graft").option("readChangeFeed", true)`:
    * one row per net row change, tagged `change_type`
    * (`added`/`removed`; an upsert is the removed pre-image plus the
    * added post-image) and `_commit_version` (the committing snapshot).
    *
    * Per committed version this is [[tableDiff]]'s file-cancelling
    * core (replaced and replacement files of the SAME commit read once
    * each, carried rows cancelling through `exceptAll`), with two
    * short-circuits: append commits read only their added files (no
    * diff needed — an append removes nothing), and row-preserving
    * compactions are skipped outright instead of diffing to empty.
    * Availability guards are [[appendedBetween]]'s: the span's base
    * manifests must be resolvable or the read fails loudly — a stale
    * base would mis-attribute changes.
    */
  def changesBetween(fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion,
      s"fromVersion $fromVersion > toVersion $toVersion")
    val outSchema = schema.add(partitionCol, "string")
      .add("change_type", "string").add("_commit_version", "long")
    def emptyDf = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
    if (fromVersion == toVersion) return emptyDf
    val cur = currentVersion
    require(fromVersion >= 0 && toVersion <= cur,
      s"version span ($fromVersion, $toVersion] outside available 0..$cur")
    require(fromVersion == 0 ||
      fs.exists(new Path(s"$snapDir/v$fromVersion.list")),
      s"snapshot v$fromVersion has been vacuumed — the change feed " +
        "cannot resume exactly-once from this offset; restart from a " +
        "retained version")
    val preserving = Set("compact", "compact-small")
    def onlyIn(a: Map[String, Seq[String]],
        b: Map[String, Seq[String]]): Map[String, Seq[String]] =
      a.flatMap { case (d, names) =>
        val other = b.getOrElse(d, Seq.empty).toSet
        val own = names.filterNot(other.contains)
        if (own.isEmpty) None else Some(d -> own.sorted)
      }
    val parts = ((fromVersion + 1) to toVersion).flatMap { v =>
      if (!fs.exists(new Path(s"$snapDir/v$v.list"))) None
      else {
        val op = commitMeta(v)._1
        if (isPendingOp(op) || preserving(op)) None
        else {
          val base = finalizedBelow(v)
          val from = readManifest(base)
          val to = readManifest(v)
          val removed = onlyIn(from, to)
          val added = onlyIn(to, from)
          def tag(df: DataFrame, t: String) = df
            .withColumn("change_type", lit(t))
            .withColumn("_commit_version", lit(v))
          if (removed.isEmpty && added.isEmpty) None
          else if (removed.isEmpty)
            Some(tag(readLocated(locateAsOf(v, added)), "added"))
          else if (added.isEmpty)
            Some(tag(readLocated(locateAsOf(base, removed)), "removed"))
          else {
            val before = readLocated(locateAsOf(base, removed))
            val after = readLocated(locateAsOf(v, added))
            Some(tag(after.exceptAll(before), "added")
              .unionByName(tag(before.exceptAll(after), "removed")))
          }
        }
      }
    }
    if (parts.isEmpty) emptyDf else parts.reduce(_ unionByName _)
  }

  /** Drop snapshot manifests and archived partition generations not
    * reachable from the newest `retainVersions` snapshots. The live
    * table state is never touched; [[readAsOf]] of a vacuumed version
    * throws. Returns the vacuumed manifest versions.
    */
  def vacuum(retainVersions: Int): Seq[Long] = {
    require(retainVersions >= 1,
      s"retainVersions must be >= 1, got $retainVersions")
    val cur = currentVersion
    if (cur == 0L) return Seq.empty
    val minKept = math.max(1L, cur - retainVersions + 1)
    val removed = fs.listStatus(new Path(snapDir)).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".list") =>
        n.stripPrefix("v").stripSuffix(".list").toLong }
      .filter(_ < minKept).sorted
    removed.foreach(v => fs.delete(new Path(s"$snapDir/v$v.list"), false))
    // archive v<N> holds content visible only to versions < N; with
    // every readable version now >= minKept, archives N <= minKept are
    // unreachable
    if (fs.exists(new Path(historyDir)))
      fs.listStatus(new Path(historyDir)).toSeq.map(_.getPath.getName)
        .collect { case n if n.startsWith("v") => n.stripPrefix("v").toLong }
        .filter(_ <= minKept)
        .foreach(n => fs.delete(new Path(s"$historyDir/v$n"), true))
    // abandoned staging output (a crashed writer's not-yet-swapped
    // .merge-/.compact-/.restore-/.append- dir): claim recovery cannot
    // attribute a staging dir to its claim, so the vacuum sweeps any
    // older than the stale-claim timeout — a LIVE writer's staging is
    // always younger than that by the claim-liveness argument
    val cutoff = System.currentTimeMillis() - WarehouseTable.staleClaimTimeoutMs
    val stagingPrefixes = Seq(".merge-", ".compact-", ".restore-", ".append-")
    fs.listStatus(new Path(root)).toSeq
      .filter(st => st.isDirectory &&
        stagingPrefixes.exists(st.getPath.getName.startsWith) &&
        st.getModificationTime < cutoff)
      .foreach(st => fs.delete(st.getPath, true))
    // landed-but-uncommitted files in LIVE partition dirs (a writer
    // that crashed between writeStagedInto's moves and its snapshot
    // commit, before deleteLanded could run): invisible to
    // readCommitted, but phantom rows for the listing-based read()
    // forever. A live data file absent from the CURRENT manifest is
    // referenced by NO retained manifest — every swap (expire and
    // truncate included) archives the files it replaces out of live,
    // and append files enter CURRENT at commit or are swept by
    // deleteLanded. Age is NOT measurable from the
    // file's own mtime (rename preserves it — that would clock from
    // the staging WRITE, advisor-found): a LIVE landing is protected
    // by its landing marker, whose mtime is the true landing time;
    // only days under no young marker are swept. Crashed writers
    // leave their marker behind, so their files (and the marker) age
    // out together on the long landing retention.
    val landCutoff =
      System.currentTimeMillis() - WarehouseTable.landingRetentionMs
    val landings = new Path(landingsDir)
    val protectedDays: Set[String] =
      if (!fs.exists(landings)) Set.empty
      else fs.listStatus(landings).toSeq.filter(_.isFile).flatMap { st =>
        if (st.getModificationTime < landCutoff) {
          // aged marker: its writer is long dead; drop it so the
          // files it covered become sweepable below
          try { fs.delete(st.getPath, false); () }
          catch { case _: java.io.IOException => () }
          Seq.empty
        } else
          // a marker that vanishes mid-read was just released by its
          // writer — the files are committed (in the known-set) or
          // already deleted, so skipping the protection is safe
          try readMetaString(spark, st.getPath.toString)
            .linesIterator.filter(_.nonEmpty).toSeq
          catch { case _: java.io.IOException => Seq.empty }
      }.toSet
    val manifest = readManifest(cur)
    listDays().filterNot(protectedDays.contains).foreach { d =>
      val dir = new Path(s"$dataPath/$partitionCol=$d")
      val known = manifest.getOrElse(d, Seq.empty).toSet
      if (fs.exists(dir))
        fs.listStatus(dir).toSeq
          .filter { st =>
            val n = st.getPath.getName
            st.isFile && !n.startsWith("_") && !n.startsWith(".") &&
              !known.contains(n) && st.getModificationTime < cutoff
          }
          .foreach(st => fs.delete(st.getPath, false))
    }
    // exactly-once batch markers of dead checkpoint lineages: the
    // append path ages out its OWN stream's markers (sliding 64-id
    // window), but a stream restarted with a fresh checkpoint never
    // revisits its old namespace — those markers would sit forever.
    // Age them out on the same retention as the manifest batch tags.
    val batchesDir = new Path(s"$root/_graft/batches")
    if (fs.exists(batchesDir)) {
      val tagCutoff =
        System.currentTimeMillis() - WarehouseTable.batchTagRetentionMs
      fs.listStatus(batchesDir).toSeq
        .filter(st => st.isFile && st.getModificationTime < tagCutoff)
        .foreach(st => fs.delete(st.getPath, false))
    }
    // zone-map sidecars of days that no longer exist (expired/merged
    // away): harmless to queries — candidate enumeration starts from
    // listDays(), never from the sidecar dir — but they accumulate one
    // tiny file per dropped (day, column) forever without this sweep
    if (fs.exists(new Path(zoneMapDir))) {
      val live = listDays().toSet
      fs.listStatus(new Path(zoneMapDir)).filter(_.isDirectory).foreach { cd =>
        fs.listStatus(cd.getPath).toSeq
          .filter(st => st.isFile && st.getPath.getName.endsWith(".props") &&
            !live.contains(st.getPath.getName.stripSuffix(".props")))
          .foreach(st => fs.delete(st.getPath, false))
      }
    }
    removed
  }
}

/** Per-table layout options, the analog of the reference's table-level
  * sink configs (`config/BigQuerySinkConfig.java:477-499`,
  * `SchemaManager.java:73-74, 574-610`):
  *
  *  - `clusteringFields` — up to 4 columns; writes range-sort files by
  *    them so parquet min/max stats enable file skipping
  *    (`timestampPartitionFieldName`'s sibling `clusteringPartitionFieldNames`);
  *  - `partitionField` — partition on a named record timestamp column
  *    instead of ingestion/message `partitionTime`
  *    (`timestampPartitionFieldName`);
  *  - `granularity` — HOUR/DAY/MONTH/YEAR/NONE time-partitioning type;
  *  - `partitionExpirationMs` — TTL after which partitions are dropped
  *    during write bookkeeping (`partitionExpiration`);
  *  - `snapshotRetention` — auto-vacuum to the newest N snapshots after
  *    every mutation (BigQuery's 7-day time-travel window analog; None
  *    keeps history until an explicit [[WarehouseTable.vacuum]]).
  */
final case class TableOptions(
    clusteringFields: Seq[String] = Seq.empty,
    partitionField: Option[String] = None,
    granularity: String = "DAY",
    partitionExpirationMs: Option[Long] = None,
    snapshotRetention: Option[Int] = None,
    /** Within-partition file layout over `clusteringFields`: LINEAR
      * (lexicographic range sort — perfect skipping on the leading
      * field) or ZORDER (Morton interleave — skipping on every
      * clustering field; see [[ZOrder]]). ZORDER needs >= 2 fields of
      * rankable type.
      */
    layout: String = "LINEAR") {

  /** Validator, mirroring `BigQuerySinkConfig.java:480-499` (≤4 existing
    * clustering fields; known granularity; positive expiration; existing
    * partition field).
    */
  def validate(schema: StructType): Unit = {
    val errs = Seq.newBuilder[String]
    if (clusteringFields.size > 4)
      errs += s"at most 4 clustering fields allowed, got ${clusteringFields.size}"
    clusteringFields.filterNot(schema.fieldNames.contains).foreach(f =>
      errs += s"clustering field '$f' not in table schema")
    if (!TableOptions.Granularities.contains(granularity))
      errs += s"granularity must be one of ${TableOptions.Granularities.mkString("/")}, got '$granularity'"
    partitionExpirationMs.filter(_ <= 0).foreach(ms =>
      errs += s"partitionExpirationMs must be positive, got $ms")
    snapshotRetention.filter(_ < 1).foreach(n =>
      errs += s"snapshotRetention must be >= 1, got $n")
    partitionField.filterNot(schema.fieldNames.contains).foreach(f =>
      errs += s"partition field '$f' not in table schema")
    if (!TableOptions.Layouts.contains(layout))
      errs += s"layout must be one of ${TableOptions.Layouts.mkString("/")}, got '$layout'"
    if (layout == "ZORDER") {
      if (clusteringFields.size < 2)
        errs += s"ZORDER layout needs >= 2 clustering fields, got ${clusteringFields.size}"
      clusteringFields.filter(schema.fieldNames.contains)
        .filterNot(f => ZOrder.supports(schema(f).dataType)).foreach(f =>
          errs += s"ZORDER field '$f' has unsupported type " +
            schema(f).dataType.simpleString)
    }
    val found = errs.result()
    if (found.nonEmpty)
      throw new IllegalArgumentException(found.mkString("; "))
  }
}

object TableOptions {
  val Granularities: Set[String] = Set("HOUR", "DAY", "MONTH", "YEAR", "NONE")
  val Layouts: Set[String] = Set("LINEAR", "ZORDER")
}

/** One ANSI MERGE `WHEN` clause for [[WarehouseTable.mergeInto]]:
  * `cond` is the clause's extra `AND` predicate (None = uncondtional);
  * assignment keys are TARGET column names (including the partition
  * slice column), values follow the mergeInto column-reference
  * contract (`__t.`-qualified target refs, source frame attributes).
  * Clause order is evaluation order (first match wins, per ANSI).
  */
sealed trait MergeIntoClause { def cond: Option[Column] }
final case class MergeIntoUpdate(cond: Option[Column],
    assigns: Map[String, Column]) extends MergeIntoClause
final case class MergeIntoDelete(cond: Option[Column]) extends MergeIntoClause
final case class MergeIntoInsert(cond: Option[Column],
    assigns: Map[String, Column]) extends MergeIntoClause

object WarehouseTable {

  /** Flush-phase wall-clock attribution (r18): `GRAFT_WH_PROF=1` makes
    * [[WarehouseTable.prof]] print one stderr line per instrumented
    * phase of append/merge — the between-jobs driver time a Spark job
    * listener cannot attribute. Unset (production/bench), the
    * check is one static boolean and the phases run untouched.
    */
  private[sources] val profEnabled: Boolean =
    sys.env.get("GRAFT_WH_PROF").exists(_ != "0")
  private[sources] def prof[T](label: String)(body: => T): T =
    if (!profEnabled) body
    else {
      val t0 = System.nanoTime()
      val r = body
      System.err.println(
        f"[wh-prof] $label%-28s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
      r
    }

  /** Bloom file magic ("GFB3"): the magic is followed by an 8-byte
    * big-endian COMMIT-VERSION STAMP — the version whose committed
    * key-set the bloom covers — then the serialized filter. The stamp
    * is what makes [[WarehouseTable.describeHealth]]'s staleness
    * column exact (count committed versions touching the day above the
    * stamp) instead of the old mtime-vs-commit-timestamp heuristic,
    * which clock skew or archival mtime preservation misclassifies in
    * both directions.
    */
  private[sources] val BloomMagic: Array[Byte] = "GFB3".getBytes("UTF-8")

  /** Test-only crash injection for the kill-and-resume probe
    * ([[graft.streaming.KillResumeProbe]]): a JVM launched with
    * `-Dgraft.probe.haltPreCommit=N` hard-halts on its N-th passage
    * through the stage-written-but-unclaimed window (claimCommit
    * entry); `-Dgraft.probe.haltPostCommit=N` does the same after the
    * N-th table commit returns to the streaming flush loop, BEFORE the
    * checkpoint commits. `Runtime.halt` runs no shutdown hooks and no
    * cleanup — the in-process equivalent of SIGKILL at an exact
    * protocol point. Unset (production), the check is one atomic read.
    */
  private[graft] val haltPreCommitAt = new java.util.concurrent.atomic.AtomicInteger(
    sys.props.get("graft.probe.haltPreCommit").flatMap(_.toIntOption).getOrElse(-1))
  private[graft] val haltPostCommitAt = new java.util.concurrent.atomic.AtomicInteger(
    sys.props.get("graft.probe.haltPostCommit").flatMap(_.toIntOption).getOrElse(-1))
  private[graft] def maybeHalt(
      counter: java.util.concurrent.atomic.AtomicInteger): Unit =
    if (counter.get() > 0 && counter.decrementAndGet() == 0) {
      System.err.println("graft.probe: halting JVM at injection point")
      Runtime.getRuntime.halt(137)
    }

  /** Version-level journal of a [[swapFilesGranular]] swap,
    * `history/v<N>/_prelive`: one `day<TAB>file` line per file live in
    * each touched day the instant before the swap's first archive dir.
    * Crash recovery rolls back from THIS list — a listing taken after
    * the torn renames would count the torn new-generation files as
    * known and resurrect the archived originals alongside their
    * rewrites. Written before any archive day dir exists, so no crash
    * can leave a processed day without it.
    */
  private[sources] val LiveSwapJournal: String = "_prelive"

  /** Ceiling on a bloom file's size; anything larger is corrupt by
    * construction (the largest bloom we ever write is ~1.2 MB per 1 M
    * expected keys — 64 MB would be a 50-billion-key partition).
    */
  private[sources] val BloomMaxBytes: Long = 64L << 20

  /** Read a versioned bloom; None when the file is missing, truncated,
    * oversized, carries any magic but GFB3, claims a bit-array longer
    * than the file itself, or fails to deserialize for ANY non-fatal
    * reason — callers treat None as "no index, scan the partition",
    * which is always safe. A corrupt
    * body must never fail the merge job (`BloomFilter.readFrom` can
    * throw `NegativeArraySizeException` etc. from a damaged length
    * word, not just `IOException`), and the length word is validated
    * against the file size before `readFrom` may allocate from it.
    */
  private[graft] def readVersionedBloom(fs: FileSystem, p: Path): Option[BloomFilter] =
    readStampedBloom(fs, p).map(_._2)

  /** Read a bloom with its commit-version stamp: (stamp, filter). */
  private[graft] def readStampedBloom(fs: FileSystem,
      p: Path): Option[(Long, BloomFilter)] = {
    // spark BloomFilterImpl body layout: version int, numHashFunctions
    // int, numWords int, then numWords longs
    val headerLen = 12
    try {
      val len = fs.getFileStatus(p).getLen
      if (len > BloomMaxBytes || len < BloomMagic.length + 8 + headerLen)
        return None
      val in = new java.io.DataInputStream(new BufferedInputStream(fs.open(p)))
      try {
        val magic = new Array[Byte](BloomMagic.length)
        in.readFully(magic)
        if (!java.util.Arrays.equals(magic, BloomMagic)) return None
        val stamp = in.readLong()
        val body = new Array[Byte]((len - magic.length - 8).toInt)
        in.readFully(body)
        val numWords = java.nio.ByteBuffer.wrap(body).getInt(8)
        if (numWords < 0 || headerLen + 8L * numWords > body.length) None
        else Some((stamp,
          BloomFilter.readFrom(new java.io.ByteArrayInputStream(body))))
      } finally in.close()
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Header-only stamp read (12 bytes, no filter deserialization) for
    * the health relation; None for missing/unknown-format files.
    */
  private[graft] def readBloomStamp(fs: FileSystem, p: Path): Option[Long] =
    try {
      val in = new java.io.DataInputStream(fs.open(p))
      try {
        val magic = new Array[Byte](BloomMagic.length)
        in.readFully(magic)
        if (java.util.Arrays.equals(magic, BloomMagic)) Some(in.readLong())
        else None
      } finally in.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Times any writer took the over-gate BULK path (distributed day
    * agg + batch-bloom candidate probe instead of a per-row driver
    * collect) — a test witness, not a control knob.
    */
  private[graft] val bulkMergePaths = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Bloom sizing: expected keys per partition (1% fpp ⇒ ~1.2 MB at 1M
    * keys). At real scale this is a per-table config; oversizing costs
    * memory, undersizing costs false-positive partition scans, never
    * correctness.
    */
  val bloomExpectedItems: Long =
    sys.env.getOrElse("GRAFT_BLOOM_EXPECTED_ITEMS", "1000000").toLong

  /** Byte gate below which an append collects raw (day, key-hash) pairs
    * to the driver and builds day blooms locally (one cache-read job, no
    * aggregation exchange); above it the distributed bloom aggregation
    * runs instead — a bulk load's hash set would not fit the driver, and
    * its shuffle cost is amortized by the data volume anyway.
    */
  def appendHashCollectMaxBytes: Long =
    sys.props.get("graft.appendHashCollectMaxBytes")
      .orElse(sys.env.get("GRAFT_APPEND_HASH_COLLECT_MAX_BYTES"))
      .getOrElse((256L << 20).toString).toLong

  /** Row-count gate for the same driver-side fold (advisor-found): the
    * driver heap cost is rows × ~16 B regardless of on-disk bytes, and
    * rows-per-byte varies ~100× between fat-document and skinny-key
    * tables — a 250 MB batch of 8-byte keys is ~108 M hashes. Both
    * gates must pass; row counts come free from the staged parquet
    * footers (O(files) metadata reads, no data pages), fetched only
    * when the byte gate already passed. Default 8 M rows ≈ ~128 MB of
    * driver hash state.
    */
  def appendHashCollectMaxRows: Long =
    sys.props.get("graft.appendHashCollectMaxRows")
      .orElse(sys.env.get("GRAFT_APPEND_HASH_COLLECT_MAX_ROWS"))
      .getOrElse("8000000").toLong

  /** Fingerprint of a file set (names + sizes) — the staleness key for
    * zone-map sidecars. Static so a pinned-snapshot reader
    * ([[GraftFileIndex]]) can recompute a day's fingerprint from its
    * OWN resolved file list and compare to the sidecar's, instead of
    * trusting live-dir state that may have moved since the pin.
    */
  private[sources] def fileSetFingerprint(files: Seq[(String, Long)]): String = {
    val parts = files.map { case (n, len) => s"$n:$len" }.sorted.mkString(",")
    java.security.MessageDigest.getInstance("MD5")
      .digest(parts.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** The driver-vs-distributed bloom-fold decision, in one place for
    * both append paths: the fold collects one (day, hash) pair per row,
    * so BOTH the byte gate (scan cost) and the row gate (driver heap,
    * rows × ~16 B — rows-per-byte varies ~100× between fat-document and
    * skinny-key tables) must pass. `rowsOrOver < 0` means the caller
    * already found the batch over-gate and skipped exact counting.
    */
  private[graft] def useDriverBloomFold(stagedBytes: Long,
      rowsOrOver: Long): Boolean =
    stagedBytes <= appendHashCollectMaxBytes && rowsOrOver >= 0L &&
      rowsOrOver <= appendHashCollectMaxRows

  /** How long a checkpoint lineage's exactly-once records (manifest
    * batch tags + marker files) outlive its last commit. A live stream
    * replays a crashed batch within minutes; 7 days is generous slack
    * for a paused-and-resumed stream, while still bounding per-manifest
    * tag state at O(streams active in the window) instead of
    * O(restarts ever).
    */
  def batchTagRetentionMs: Long =
    sys.props.get("graft.batchTagRetentionMs")
      .orElse(sys.env.get("GRAFT_BATCH_TAG_RETENTION_MS"))
      .getOrElse((7L * 24 * 3600 * 1000).toString).toLong

  /** How long a landing marker (and the landed-but-uncommitted files it
    * covers) survives before the vacuum sweeps both. Deliberately much
    * longer than the stale-claim timeout: the marker is only ever left
    * behind by a CRASHED writer (live ones release it at commit or
    * cleanup), and the cost of waiting is a few orphan files invisible
    * to committed reads — while sweeping too early under a live writer
    * whose bloom build outlives the window is committed-data loss.
    */
  def landingRetentionMs: Long =
    sys.props.get("graft.landingRetentionMs")
      .orElse(sys.env.get("GRAFT_LANDING_RETENTION_MS"))
      .getOrElse((24L * 3600 * 1000).toString).toLong

  /** A commit failed after its finalized manifest was durably written
    * and the published/unpublished state could not be determined
    * (CURRENT unreadable mid-failure). Callers must NOT delete their
    * landed data files — the manifest may be live and referencing
    * them; the operator (or the next writer's recovery pass)
    * reconciles.
    */
  final class CommitIndeterminateException(msg: String, cause: Throwable)
    extends java.io.IOException(msg, cause)

  /** Cadence of the exact bloom rebuild on the merge flush: a flush
    * unions the batch's key hashes into the touched day blooms
    * driver-side (zero jobs — see `unionBloomsAfterSwap`), which keeps
    * the superset invariant but lets deleted keys linger as stale bits;
    * every N-th committed version's flush pays one distributed
    * key-column scan of its scanned days' new file sets (`exactBlooms`)
    * to tighten them. 1 restores rebuild-every-merge.
    */
  def bloomRebuildEvery: Long =
    math.max(1L, sys.props.get("graft.bloomRebuildEvery")
      .orElse(sys.env.get("GRAFT_BLOOM_REBUILD_EVERY"))
      .getOrElse("16").toLong)

  /** Batch-size ceiling for the file-granular merge flush, in both
    * merge modes; above it a batch rewrites its candidate days whole
    * through the sort-merge join. Micro-batches are bounded by
    * `mergeRecordsThreshold`/`maxOffsetsPerTrigger`, so the
    * file-granular flush is the norm; the ceiling guards ad-hoc bulk
    * merges.
    */
  val broadcastMergeMaxRows: Long =
    sys.env.getOrElse("GRAFT_BROADCAST_MERGE_MAX_ROWS", "1000000").toLong

  /** Age past which a `pending:` swap claim is presumed abandoned (its
    * writer crashed mid-swap) and eligible for rollback recovery by the
    * next writer that collides with it — see `recoverCrashedClaim`. A
    * healthy swap finalizes within seconds of claiming (the claim is
    * taken AFTER the staged output is fully written), so the default
    * leaves orders-of-magnitude headroom for slow object stores while
    * still unblocking the table automatically.
    */
  val staleClaimTimeoutMs: Long =
    sys.env.getOrElse("GRAFT_STALE_CLAIM_TIMEOUT_MS", "900000").toLong

  /** How long a committer waits for a LIVE pending claim below its
    * slot to finalize before treating it as a conflict
    * (ConcurrentModificationException). System property so tests can
    * shrink it; read per call.
    */
  def claimWaitMs: Long =
    sys.props.get("graft.claimWaitMs").map(_.toLong)
      .orElse(sys.env.get("GRAFT_CLAIM_WAIT_MS").map(_.toLong))
      .getOrElse(60000L)

  /** Age past which a held bloom lease is judged dead and broken
    * ([[WarehouseTable.withBloomLease]]): the critical sections are
    * driver-side metadata writes (milliseconds), so a minute of hold
    * can only be a crashed writer.
    */
  def bloomLeaseStaleMs: Long =
    sys.props.get("graft.bloomLeaseStaleMs").map(_.toLong)
      .orElse(sys.env.get("GRAFT_BLOOM_LEASE_STALE_MS").map(_.toLong))
      .getOrElse(60000L)

  /** Acquisition budget for the bloom lease before the caller takes
    * the conservative fallback (its own knob so tests can shorten it
    * without touching the commit-claim wait).
    */
  def bloomLeaseWaitMs: Long =
    sys.props.get("graft.bloomLeaseWaitMs").map(_.toLong)
      .orElse(sys.env.get("GRAFT_BLOOM_LEASE_WAIT_MS").map(_.toLong))
      .getOrElse(claimWaitMs)

  /** R6 — table-handle cache (`BigQuerySinkTask.java:351-365`,
    * `SchemaManager.java:80`): memoizes opens per root; schema stays
    * fresh (read from meta per call).
    */
  private val handleCache =
    new java.util.concurrent.ConcurrentHashMap[String, WarehouseTable]()

  def openCached(spark: SparkSession, root: String): WarehouseTable =
    handleCache.computeIfAbsent(root, r => open(spark, r))

  private[sources] def refreshCached(t: WarehouseTable): Unit = {
    handleCache.computeIfPresent(t.root, (_, _) => t); ()
  }

  /** S6 — create (or open if it exists) a table rooted at `root` with the
    * given flat destination schema, key fields, and layout options
    * (`SchemaManager.createTable`, `SchemaManager.java:212-281`; the
    * 409-tolerant "already exists" race becomes open-if-present, under
    * which the persisted options win, like BigQuery's table metadata).
    */
  def create(spark: SparkSession, root: String, keyFields: Seq[String],
      schema: StructType, options: TableOptions = TableOptions()): WarehouseTable = {
    val metaPath = s"$root/_graft/schema.json"
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(metaPath))) {
      options.validate(schema)
      writeTableMeta(spark, root, keyFields, schema, options)
      new WarehouseTable(spark, root, keyFields, options)
    } else {
      requireSnapshotVersioned(spark, root)
      new WarehouseTable(spark, root, keyFields, readOptions(spark, root))
    }
  }

  /** Write a new table's metadata. `schema.json` goes LAST: it is the
    * existence marker [[create]], `GraftCatalog` and `GraftDataSource`
    * look for, so a concurrent creator or opener that sees it also
    * sees the keys, the options and `CURRENT=0` (the snapshot-versioned
    * empty state every commit rebases on). `CURRENT` is create-if-absent:
    * a creator racing another must not reset a version that the
    * winner's first commits have already advanced.
    */
  private def writeTableMeta(spark: SparkSession, root: String,
      keyFields: Seq[String], schema: StructType, options: TableOptions): Unit = {
    tryWriteNewMetaString(spark, s"$root/_graft/snapshots/CURRENT", "0")
    writeMetaString(spark, s"$root/_graft/keys.json",
      keyFields.mkString("[\"", "\",\"", "\"]"))
    writeMetaString(spark, s"$root/_graft/options.props", optionsToProps(options))
    writeMetaString(spark, s"$root/_graft/schema.json", schema.json)
  }

  /** Reject a directory without `_graft/snapshots/CURRENT`: its
    * committed state has no source of truth (a directory listing would
    * count other writers' uncommitted files), and no writer of this
    * format produces one.
    */
  private def requireSnapshotVersioned(spark: SparkSession, root: String): Unit = {
    val current = new Path(s"$root/_graft/snapshots/CURRENT")
    if (!current.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(current))
      throw new IllegalStateException(
        s"$root is not a snapshot-versioned graft table: $current is missing")
  }

  def open(spark: SparkSession, root: String): WarehouseTable = {
    requireSnapshotVersioned(spark, root)
    val keys = readMetaString(spark, s"$root/_graft/keys.json")
      .stripPrefix("[").stripSuffix("]")
      .split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).toSeq
    new WarehouseTable(spark, root, keys, readOptions(spark, root))
  }

  private[sources] def optionsToProps(o: TableOptions): String = Seq(
    s"clusteringFields=${o.clusteringFields.mkString(",")}",
    s"partitionField=${o.partitionField.getOrElse("")}",
    s"granularity=${o.granularity}",
    s"partitionExpirationMs=${o.partitionExpirationMs.map(_.toString).getOrElse("")}",
    s"snapshotRetention=${o.snapshotRetention.map(_.toString).getOrElse("")}",
    s"layout=${o.layout}")
    .mkString("\n")

  private def readOptions(spark: SparkSession, root: String): TableOptions = {
    val kv = readMetaString(spark, s"$root/_graft/options.props").linesIterator
      .map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
    TableOptions(
      clusteringFields = kv.getOrElse("clusteringFields", "")
        .split(",").toSeq.filter(_.nonEmpty),
      partitionField = kv.get("partitionField").filter(_.nonEmpty),
      granularity = kv.getOrElse("granularity", "DAY"),
      partitionExpirationMs = kv.get("partitionExpirationMs")
        .filter(_.nonEmpty).map(_.toLong),
      snapshotRetention = kv.get("snapshotRetention")
        .filter(_.nonEmpty).map(_.toInt),
      layout = kv.getOrElse("layout", "LINEAR"))
  }

  /** S7 — intermediate (staging) location lifecycle
    * (`MergeBatches.java:114-132`: uniquely-suffixed per destination;
    * dropped on task stop, `BigQuerySinkTask.java:552-557`).
    */
  def intermediatePath(destRoot: String): String =
    s"$destRoot-staging-${UUID.randomUUID().toString.take(12)}"

  def dropIntermediates(spark: SparkSession, destRoot: String): Unit = {
    val parent = new Path(destRoot).getParent
    val name = new Path(destRoot).getName
    val fs = parent.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(parent)) {
      fs.listStatus(parent).toSeq
        .filter(_.getPath.getName.startsWith(s"$name-staging-"))
        .foreach(st => fs.delete(st.getPath, true))
    }
  }

  /** Meta I/O bypasses the local ChecksumFileSystem layer entirely
    * (soak-found): its create() opens the `.crc` SIDECAR with
    * overwrite=true BEFORE the exclusive data-file create, so two
    * racing claimants can leave the winner's claim file permanently
    * mismatched against the loser's truncated sidecar — every
    * subsequent read of that version then throws ChecksumException and
    * the table is bricked for the process. On local paths, writes go
    * through java.nio (temp + ATOMIC_MOVE for replace; hard-link for
    * create-if-absent — atomic AND full-content-visible), reads through
    * the raw filesystem (no sidecar verification). Non-local
    * filesystems (HDFS create is atomic, object stores map to
    * conditional puts) keep the plain Hadoop path.
    */
  private def localNioPath(p: Path): Option[java.nio.file.Path] = {
    val uri = p.toUri
    if (uri.getScheme == null || uri.getScheme == "file")
      Some(java.nio.file.Paths.get(uri.getPath))
    else None
  }

  private def rawFs(fs: FileSystem): FileSystem = fs match {
    case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
    case other => other
  }

  private def writeMetaString(spark: SparkSession, path: String, s: String): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    localNioPath(p) match {
      case Some(lp) =>
        java.nio.file.Files.createDirectories(lp.getParent)
        val tmp = lp.resolveSibling(
          s".tmp-${UUID.randomUUID().toString.take(8)}-${lp.getFileName}")
        java.nio.file.Files.write(tmp, s.getBytes("UTF-8"))
        java.nio.file.Files.move(tmp, lp,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        // drop any stale sidecar a ChecksumFileSystem writer left (test
        // helpers, pre-migration files) so checksum-layer readers don't
        // verify old sums against new content
        rawFs(fs).delete(new Path(p.getParent, s".${p.getName}.crc"), false)
        ()
      case None =>
        val out = fs.create(p, true)
        try out.write(s.getBytes("UTF-8")) finally out.close()
    }
  }

  /** Create-if-absent write: false when the path already exists (the
    * optimistic-concurrency claim primitive — hard-link publish on
    * local, atomic create on HDFS; map to a conditional put on object
    * stores).
    */
  private def tryWriteNewMetaString(spark: SparkSession, path: String,
      s: String): Boolean = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    localNioPath(p) match {
      case Some(lp) =>
        java.nio.file.Files.createDirectories(lp.getParent)
        val tmp = lp.resolveSibling(
          s".tmp-${UUID.randomUUID().toString.take(8)}-${lp.getFileName}")
        java.nio.file.Files.write(tmp, s.getBytes("UTF-8"))
        try { java.nio.file.Files.createLink(lp, tmp); true }
        catch { case _: java.nio.file.FileAlreadyExistsException => false }
        finally { java.nio.file.Files.deleteIfExists(tmp); () }
      case None =>
        try {
          val out = fs.create(p, false)
          try out.write(s.getBytes("UTF-8")) finally out.close()
          true
        } catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
          case e: java.io.IOException => if (fs.exists(p)) false else throw e
        }
    }
  }

  private def readMetaString(spark: SparkSession, path: String): String = {
    val p = new Path(path)
    val fs = rawFs(p.getFileSystem(spark.sparkContext.hadoopConfiguration))
    val in = fs.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val tmp = new Array[Byte](4096)
      var n = in.read(tmp)
      while (n > 0) { buf.write(tmp, 0, n); n = in.read(tmp) }
      buf.toString("UTF-8")
    } finally in.close()
  }
}
