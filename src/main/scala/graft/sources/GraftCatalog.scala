package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, Statistics, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportStatistics, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsOverwrite, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{BaseRelation, Filter, InsertableRelation, TableScan}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 `TableCatalog` over a directory of graft warehouse
  * tables — the SQL DDL/DML surface the reference's users get from the
  * destination warehouse (BigQuery DDL: `SchemaManager.java:155-260`
  * auto-create/evolve; here the user-facing twin):
  *
  * {{{
  * spark.sql.catalog.graft           = graft.sources.GraftCatalog
  * spark.sql.catalog.graft.warehouse = /data/warehouse
  *
  * CREATE TABLE graft.db.events (k1 BIGINT, f1 STRING, _pday STRING)
  *   USING graft TBLPROPERTIES ('keys' = 'k1')
  * INSERT INTO graft.db.events VALUES (1, 'a', '2024-01-01')
  * SELECT * FROM graft.db.events VERSION AS OF 3
  * ALTER TABLE graft.db.events ADD COLUMN f2 DOUBLE
  * MERGE INTO graft.db.events t USING src s ON t.k1 = s.k1 ...  -- (GraftDml)
  * }}}
  *
  * Identifiers map to paths: `graft.a.b.t` → `<warehouse>/a/b/t`;
  * namespaces are directories. The partition-slice column `_pday` is
  * part of the SQL schema (reads expose it, inserts must provide it in
  * the table's slice format — `yyyy-MM-dd` at DAY granularity); the
  * stored value-field schema is everything else. All writes route
  * through the table's commit protocol (snapshot isolation, exact
  * blooms, time travel) — never a raw file dump.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with ProcedureCatalog {

  private var catalogName: String = _
  private var warehouse: String = _

  private def spark: SparkSession = SparkSession.active

  private def fs = new Path(warehouse)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"graft catalog '$name' needs spark.sql.catalog.$name.warehouse " +
          "(the directory holding its tables)"))
    // Register the stats-forwarding rewrite in the session's "User
    // Provided Optimizers" batch — the ONLY logical batch that runs
    // after "Early Filter and Projection Push-Down" wraps this
    // catalog's V1 scans (every SparkSessionExtensions-injectable
    // batch, pre-CBO included, runs before it in Spark 4.1's order).
    // Without it, a catalog table's pruned size never reaches join
    // planning and a few-KB dimension can never auto-broadcast.
    val exp = spark.experimental
    exp.synchronized {
      if (!exp.extraOptimizations.contains(
          org.apache.spark.sql.graftbridge.ForwardV1ScanStats))
        exp.extraOptimizations =
          exp.extraOptimizations :+
            org.apache.spark.sql.graftbridge.ForwardV1ScanStats
    }
  }

  override def name(): String = catalogName

  private def tablePath(ident: Identifier): String =
    (warehouse +: ident.namespace().toSeq :+ ident.name()).mkString("/")

  private def isTableDir(p: Path): Boolean =
    fs.exists(new Path(p, "_graft/schema.json"))

  // ---- tables ----

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = new Path((warehouse +: namespace.toSeq).mkString("/"))
    if (!fs.exists(dir)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(dir).toSeq.filter(s => s.isDirectory && isTableDir(s.getPath))
      .map(s => Identifier.of(namespace, s.getPath.getName)).toArray
  }

  override def tableExists(ident: Identifier): Boolean =
    isTableDir(new Path(tablePath(ident)))

  override def loadTable(ident: Identifier): Table = {
    val path = tablePath(ident)
    if (!isTableDir(new Path(path))) throw new NoSuchTableException(ident)
    new GraftTableV2(ident, WarehouseTable.open(spark, path), path, None)
  }

  /** `SELECT ... FROM t VERSION AS OF n` */
  override def loadTable(ident: Identifier, version: String): Table = {
    val path = tablePath(ident)
    if (!isTableDir(new Path(path))) throw new NoSuchTableException(ident)
    val v = version.toLongOption.getOrElse(throw new IllegalArgumentException(
      s"graft: VERSION AS OF takes a snapshot version number, got '$version'"))
    new GraftTableV2(ident, WarehouseTable.open(spark, path), path, Some(v))
  }

  /** `SELECT ... FROM t TIMESTAMP AS OF ts` — Spark hands micros. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val path = tablePath(ident)
    if (!isTableDir(new Path(path))) throw new NoSuchTableException(ident)
    val t = WarehouseTable.open(spark, path)
    val ms = timestamp / 1000L
    val v = t.history().filter(_._3 <= ms).map(_._1).maxOption.getOrElse(
      throw new IllegalArgumentException(
        s"graft: no snapshot of $ident committed at or before $ms ms"))
    new GraftTableV2(ident, t, path, Some(v))
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val props = properties.asScala.toMap
    // both spellings reach us: TBLPROPERTIES ('keys'...) raw, OPTIONS
    // (keys ...) under the reserved "option." prefix
    def prop(k: String): Option[String] =
      props.get(k).orElse(props.get(s"${TableCatalog.OPTION_PREFIX}$k"))
    val keys = prop("keys").getOrElse(throw new IllegalArgumentException(
      "graft: CREATE TABLE needs TBLPROPERTIES ('keys' = 'k1,k2') — " +
        "the merge key set every upsert relies on"))
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    require(keys.nonEmpty, "graft: 'keys' must name at least one column")
    // `_pday` may appear in the DDL (it is the natural way to make it
    // INSERT-addressable) but is never a stored value field
    val stored = StructType(schema.fields.filterNot(_.name == GraftTableV2.PDay))
    keys.filterNot(stored.fieldNames.contains).foreach(k =>
      throw new IllegalArgumentException(s"graft: key column '$k' is not in the schema"))
    val okParts = partitions.isEmpty || (partitions.length == 1 &&
      partitions.head.toString == s"identity(${GraftTableV2.PDay})")
    require(okParts,
      s"graft tables are always slice-partitioned on ${GraftTableV2.PDay}; " +
        s"PARTITIONED BY must be omitted or exactly (${GraftTableV2.PDay}), " +
        s"got ${partitions.mkString(", ")}")
    val opts = TableOptions(
      clusteringFields = prop("clustering").map(
        _.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Seq.empty),
      partitionField = prop("partitionField"),
      granularity = prop("granularity").getOrElse("DAY"),
      partitionExpirationMs = prop("partitionExpirationMs").map(_.toLong),
      snapshotRetention = prop("snapshotRetention").map(_.toInt),
      layout = prop("layout").getOrElse("LINEAR"))
    val path = tablePath(ident)
    fs.mkdirs(new Path(path))
    val t = WarehouseTable.create(spark, path, keys, stored, opts)
    new GraftTableV2(ident, t, path, None)
  }

  /** `ALTER TABLE ... ADD COLUMN` routes through the same widening
    * schema evolution as the write paths (R3/R4); property changes and
    * drops/renames are refused — the stored files are immutable and
    * the key set is load-bearing.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val path = tablePath(ident)
    if (!isTableDir(new Path(path))) throw new NoSuchTableException(ident)
    val t = WarehouseTable.open(spark, path)
    // PASS 1 — classify every change WITHOUT applying any: a statement
    // mixing ADD COLUMN with a later unsupported change must reject as
    // a whole, not leave the schema already widened. Property changes
    // fold into ONE TableOptions so one statement's changes validate
    // together ('clustering'='a,b','layout'='ZORDER' must not reject
    // because layout was checked before clustering).
    val adds = scala.collection.mutable.ArrayBuffer.empty[StructField]
    val newOpts = changes.foldLeft(Option.empty[TableOptions]) { (acc, c) =>
      val base = acc.getOrElse(t.options)
      c match {
        case add: TableChange.AddColumn =>
          require(add.fieldNames.length == 1,
            s"graft: cannot add nested field ${add.fieldNames.mkString(".")}")
          adds += StructField(add.fieldNames.head, add.dataType,
            nullable = true)
          acc
        // layout metadata is alterable in place (BigQuery allows altering
        // clustering on existing tables); the new layout applies to every
        // LATER write/compaction — CALL recluster rewrites existing data
        case set: TableChange.SetProperty if set.property == "clustering" =>
          Some(base.copy(clusteringFields =
            set.value.split(",").map(_.trim).filter(_.nonEmpty).toSeq))
        case set: TableChange.SetProperty if set.property == "layout" =>
          Some(base.copy(layout = set.value))
        case set: TableChange.SetProperty
            if set.property == "partitionExpirationMs" =>
          Some(base.copy(partitionExpirationMs = Some(set.value.toLong)))
        case other => throw new UnsupportedOperationException(
          s"graft: unsupported ALTER TABLE change $other — ADD COLUMN " +
            "(widening evolution) and SET TBLPROPERTIES of clustering/" +
            "layout/partitionExpirationMs are allowed; files are immutable " +
            "and keys are fixed")
      }
    }
    // Still pass 1: validate the folded options against the CANDIDATE
    // post-add schema before anything is applied — otherwise ADD COLUMN
    // + SET 'clustering'='bogus' would evolve the schema in pass 2 and
    // only then fail option-value validation, leaving the schema
    // widened (the statement must reject as a whole).
    val candidate = StructType(t.schema.fields ++ adds)
    newOpts.foreach(_.validate(candidate))
    // PASS 2 — apply only once the whole statement classified cleanly
    // (same order as before: evolve, then options, so SET clustering
    // may reference a column added in the same statement)
    if (adds.nonEmpty)
      t.evolveSchema(candidate)
    newOpts.foreach(t.alterOptions)
    new GraftTableV2(ident, WarehouseTable.open(spark, path), path, None)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val p = new Path(tablePath(ident))
    if (!isTableDir(p)) false else fs.delete(p, true)
  }

  override def renameTable(from: Identifier, to: Identifier): Unit = {
    val src = new Path(tablePath(from))
    if (!isTableDir(src)) throw new NoSuchTableException(from)
    if (tableExists(to)) throw new TableAlreadyExistsException(to)
    val dst = new Path(tablePath(to))
    fs.mkdirs(dst.getParent)
    if (!fs.rename(src, dst))
      throw new IllegalStateException(s"graft: rename $from -> $to failed")
  }

  // ---- procedures (SQL CALL — table maintenance) ----

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    GraftProcedures.load(spark, warehouse, ident)

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (!namespace.sameElements(Array("system"))) Array.empty
    else GraftProcedures.All.map(n => Identifier.of(namespace, n)).toArray

  // ---- namespaces (directories) ----

  override def listNamespaces(): Array[Array[String]] =
    if (!fs.exists(new Path(warehouse))) Array.empty
    else fs.listStatus(new Path(warehouse)).toSeq
      .filter(s => s.isDirectory && !isTableDir(s.getPath))
      .map(s => Array(s.getPath.getName)).toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (namespace.isEmpty) return listNamespaces()
    val dir = new Path((warehouse +: namespace.toSeq).mkString("/"))
    if (!fs.exists(dir)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(dir).toSeq
      .filter(s => s.isDirectory && !isTableDir(s.getPath))
      .map(s => namespace :+ s.getPath.getName).toArray
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty ||
      fs.exists(new Path((warehouse +: namespace.toSeq).mkString("/")))

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    Map.empty[String, String].asJava
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    fs.mkdirs(new Path((warehouse +: namespace.toSeq).mkString("/")))
    ()
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft namespaces are plain directories; nothing to alter")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val p = new Path((warehouse +: namespace.toSeq).mkString("/"))
    if (!fs.exists(p)) false
    else {
      if (!cascade && fs.listStatus(p).nonEmpty)
        throw new IllegalStateException(
          s"graft: namespace ${namespace.mkString(".")} is not empty")
      fs.delete(p, true)
    }
  }
}

object GraftTableV2 {
  /** The partition-slice column, part of the SQL-visible schema. */
  val PDay = "_pday"
}

/** The catalog's `Table`: reads fall back to the battle-tested V1
  * relation ([[GraftDataSource]] — pinned-snapshot file index, zone
  * maps, partition pruning) via the public [[V1Scan]] bridge; writes
  * fall back to the commit-protocol append/overwrite via [[V1Write]].
  * SQL MERGE/UPDATE/DELETE against this table are intercepted by
  * [[graft.plans.GraftDml]].
  */
class GraftTableV2(ident: Identifier, private[graft] val table: WarehouseTable,
    private[graft] val path: String, private[graft] val versionAsOf: Option[Long])
    extends Table with SupportsRead with SupportsWrite with TruncatableTable {

  override def name(): String = ident.toString

  override def schema(): StructType =
    StructType(table.schema.fields :+
      StructField(GraftTableV2.PDay, StringType, nullable = true))

  override def partitioning(): Array[Transform] =
    Array(Expressions.identity(GraftTableV2.PDay))

  override def properties(): util.Map[String, String] = {
    val o = table.options
    (Map("provider" -> "graft", "keys" -> table.keyFields.mkString(","),
      "granularity" -> o.granularity, "layout" -> o.layout) ++
      (if (o.clusteringFields.isEmpty) Map.empty
       else Map("clustering" -> o.clusteringFields.mkString(","))) ++
      o.partitionExpirationMs.map(ms =>
        "partitionExpirationMs" -> ms.toString)).asJava
  }

  /** `AUTOMATIC_SCHEMA_EVOLUTION` turns on the analyzer's `MERGE WITH
    * SCHEMA EVOLUTION` support (`ResolveMergeIntoSchemaEvolution` →
    * this catalog's `alterTable` AddColumn → the same widening
    * evolution every write path uses, then the merge re-resolves
    * against the widened relation).
    */
  // no OVERWRITE_DYNAMIC here: dynamic INSERT OVERWRITE has no V1
  // write fallback in Spark (the capability check demands a full V2
  // BatchWrite), so GraftDmlRule claims OverwritePartitionsDynamic in
  // the analyzer instead — same interception as MERGE/UPDATE/DELETE
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)

  /** The V1 read relation this table's scans resolve to. */
  private[graft] def readDf(spark: SparkSession): DataFrame = {
    val r = spark.read.format("graft")
    versionAsOf.fold(r)(v => r.option("versionAsOf", v.toString)).load(path)
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(this, schema())

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(versionAsOf.isEmpty, "graft: cannot write to a time-travel snapshot")
    new GraftWriteBuilder(table, info)
  }

  override def truncateTable(): Boolean = { table.truncate(); true }
}

private[graft] class GraftScanBuilder(t: GraftTableV2, full: StructType)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  private var required: StructType = full
  private var pushed: Array[Filter] = Array.empty
  private var pushedAggs: Option[Seq[
    org.apache.spark.sql.connector.expressions.aggregate.AggregateFunc]] = None

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (ok, unhandled) =
      filters.partition(f => GraftScanBuilder.toColumn(f).isDefined)
    pushed = ok
    unhandled
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Metadata-only aggregates: an ungrouped aggregate whose only
    * predicates are day-slice filters can avoid touching row data —
    *
    *  - `COUNT(*)`: the pruned files' parquet FOOTERS hold exact row
    *    counts (committed files carry live rows only; deletes/merges
    *    rewrite files, so no tombstone correction is needed);
    *  - `COUNT(col)` / `MIN(col)` / `MAX(col)` over a zone-mapped
    *    column: the per-day sidecars hold (min, max, non-null) —
    *    `dayZoneMaps` refreshes stale days at EXECUTION time with a
    *    column-pruned job over exactly those days, so the answer is
    *    always exact. Types restricted to integral/string/date, whose
    *    string round-trip is lossless and whose orderings agree with
    *    the sidecar rendering; doubles/floats decline (NaN/-0.0
    *    ordering vs string rendering is not worth the risk).
    *
    * At warehouse scale that turns `SELECT count(*), max(id) FROM t
    * [WHERE _pday ...]` from a full scan into an O(files) footer sweep
    * plus O(stale days) sidecar refresh. Anything else — grouping,
    * other aggregates, value-column predicates, time-travel reads for
    * the sidecar aggregates (sidecars describe the CURRENT snapshot) —
    * declines and takes the normal scan path.
    */
  import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, Count, CountStar, Max, Min}

  private def aggColName(
      e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
    e match {
      case nr: org.apache.spark.sql.connector.expressions.NamedReference
          if nr.fieldNames.length == 1 => Some(nr.fieldNames.head)
      case _ => None
    }

  private def sidecarCapable(n: String): Boolean =
    t.versionAsOf.isEmpty &&
      full.fields.find(_.name.equalsIgnoreCase(n)).map(_.dataType).exists {
        case org.apache.spark.sql.types.ByteType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.IntegerType | LongType | StringType |
             org.apache.spark.sql.types.DateType => true
        case _ => false
      }

  private def aggAnswerable(agg: Aggregation): Boolean =
    agg.groupByExpressions.isEmpty && agg.aggregateExpressions.nonEmpty &&
      // complete pushdown must be EXACT: every pushed filter has to be
      // fully decidable per day token, or the metadata answer over
      // kept days would diverge from the filtered scan
      pushed.forall(GraftScanBuilder.evaluableDayFilter) &&
      agg.aggregateExpressions.forall {
        case _: CountStar => true
        case c: Count => !c.isDistinct && aggColName(c.column).exists(sidecarCapable)
        case m: Min => aggColName(m.column).exists(sidecarCapable)
        case m: Max => aggColName(m.column).exists(sidecarCapable)
        case _ => false
      }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    aggAnswerable(agg)

  override def pushAggregation(agg: Aggregation): Boolean = {
    if (!aggAnswerable(agg)) return false
    val aggs = agg.aggregateExpressions.toSeq
    pushedAggs = Some(aggs)
    required = StructType(aggs.zipWithIndex.map {
      case (_: CountStar, i) => StructField(s"_agg$i", LongType, nullable = false)
      case (_: Count, i) => StructField(s"_agg$i", LongType, nullable = false)
      case (m: Min, i) => StructField(s"_agg$i",
        full.fields.find(_.name.equalsIgnoreCase(
          aggColName(m.column).get)).get.dataType)
      case (m: Max, i) => StructField(s"_agg$i",
        full.fields.find(_.name.equalsIgnoreCase(
          aggColName(m.column).get)).get.dataType)
      case (other, _) => throw new IllegalStateException(s"unreachable: $other")
    })
    true
  }

  override def build(): Scan = {
    val (req, flt, aggs) = (required, pushed, pushedAggs)
    new V1Scan with SupportsReportStatistics {
      override def readSchema(): StructType = req
      override def description(): String =
        if (aggs.nonEmpty) "GraftMetadataAggregate" else "GraftScan"
      /** Day-pruned size estimate, so Catalyst's join planning sees a
        * catalog table's REAL footprint: without this the V2 scan
        * relation defaults to `defaultSizeInBytes` (effectively
        * infinite) and a 10 MB dimension read through the catalog
        * sort-merge-joins instead of broadcasting — at warehouse scale
        * that one missed broadcast is the whole query's shuffle bill.
        * The estimate is the manifest file sizes of the days surviving
        * the pushed `_pday` predicates (exact three-valued evaluation;
        * unknown shapes keep the day), the same pruning the V1 scan
        * will do at execution — metadata-only, O(days), no file reads.
        */
      override def estimateStatistics(): Statistics =
        GraftScanBuilder.prunedStats(t, flt)
      override def toV1TableScan[T <: BaseRelation with TableScan](
          context: SQLContext): T =
        new BaseRelation with TableScan {
          override def sqlContext: SQLContext = context
          override def schema: StructType = req
          // the inner plan already produces InternalRows; declaring
          // no-conversion hands them through as-is instead of paying
          // an InternalRow→Row→InternalRow round trip per row
          override def needConversion: Boolean = false
          override def buildScan(): RDD[Row] = {
            aggs.foreach { as =>
              return GraftScanBuilder.metadataAggregate(
                context.sparkSession, t, flt, as, req)
                .queryExecution.toRdd.asInstanceOf[RDD[Row]]
            }
            // filters + pruning land on the V1 relation, where `_pday`
            // predicates become partition pruning and the rest reach
            // the parquet scan as PushedFilters
            val base = t.readDf(context.sparkSession)
            val filtered = flt.flatMap(GraftScanBuilder.toColumn)
              .foldLeft(base)((df, c) => df.where(c))
            filtered.select(req.fieldNames.toSeq.map(n => col(s"`$n`")): _*)
              .queryExecution.toRdd.asInstanceOf[RDD[Row]]
          }
        }.asInstanceOf[T]
    }
  }
}

private[graft] object GraftScanBuilder {

  /** Post-pushdown scan statistics: sum of committed file sizes over
    * the days the pushed `_pday` predicates cannot exclude. Row count
    * is left empty (manifests track files, not rows); size alone is
    * what `autoBroadcastJoinThreshold` consults. Column pruning is NOT
    * folded in — an underestimate can broadcast a table that does not
    * fit, and the conservative direction only costs a missed broadcast
    * on very wide tables.
    */
  def prunedStats(t: GraftTableV2, pushed: Array[Filter]): Statistics = {
    val dayOnly = pushed.filter(f => f.references.nonEmpty &&
      f.references.forall(_.equalsIgnoreCase(GraftTableV2.PDay)))
    val bytes = t.table.connectorFileGroups(t.versionAsOf).iterator
      .filter { case (day, _) =>
        // conjunction of pushed filters: drop the day only when some
        // conjunct is PROVABLY false for it (None = unknown = keep)
        !dayOnly.exists(f => dayMatches(f, day).contains(false))
      }
      .flatMap(_._2).map(_.getLen).sum
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.empty()
    }
  }

  /** Exact three-valued evaluation of a `_pday`-only V1 `Filter`
    * against a concrete day token (never null, compared in UTF8String
    * binary order — the collation the execution-time pruning uses).
    * `None` = shape not understood; And/Or/Not propagate unknowns with
    * Kleene semantics so `Not(unknown)` stays unknown instead of
    * flipping an approximation into an unsound prune.
    */
  private[sources] def dayMatches(f: Filter, day: String): Option[Boolean] = {
    def cmp(v: Any): Option[Int] = v match {
      case s: String => Some(UTF8String.fromString(day)
        .compareTo(UTF8String.fromString(s)))
      case _ => None // non-string literal against the string slice col
    }
    f match {
      case sources.EqualTo(_, v) => cmp(v).map(_ == 0)
      case sources.EqualNullSafe(_, v) => cmp(v).map(_ == 0)
      case sources.GreaterThan(_, v) => cmp(v).map(_ > 0)
      case sources.GreaterThanOrEqual(_, v) => cmp(v).map(_ >= 0)
      case sources.LessThan(_, v) => cmp(v).map(_ < 0)
      case sources.LessThanOrEqual(_, v) => cmp(v).map(_ <= 0)
      case sources.In(_, vs) =>
        val ms = vs.toSeq.map(cmp(_).map(_ == 0))
        if (ms.contains(Some(true))) Some(true)
        else if (ms.forall(_.contains(false))) Some(false)
        else None
      case sources.IsNull(_) => Some(false) // a day token is never null
      case sources.IsNotNull(_) => Some(true)
      case sources.StringStartsWith(_, v) => Some(day.startsWith(v))
      case sources.StringEndsWith(_, v) => Some(day.endsWith(v))
      case sources.StringContains(_, v) => Some(day.contains(v))
      case sources.And(l, r) => (dayMatches(l, day), dayMatches(r, day)) match {
        case (Some(false), _) | (_, Some(false)) => Some(false)
        case (Some(true), Some(true)) => Some(true)
        case _ => None
      }
      case sources.Or(l, r) => (dayMatches(l, day), dayMatches(r, day)) match {
        case (Some(true), _) | (_, Some(true)) => Some(true)
        case (Some(false), Some(false)) => Some(false)
        case _ => None
      }
      case sources.Not(c) => dayMatches(c, day).map(!_)
      case sources.AlwaysTrue() => Some(true)
      case sources.AlwaysFalse() => Some(false)
      case _ => None
    }
  }

  /** Is `f` a day-slice predicate evaluable EXACTLY against a day
    * token — every leaf a `_pday`-vs-string-literal comparison
    * (equality, ranges, IN, prefix/suffix/contains, null tests) under
    * And/Or/Not? Exactness is load-bearing at both call sites: the
    * matching days are REPLACED (predicate overwrite) or their counts
    * returned AS the query answer (footer count), so an
    * approximable-only predicate must be declined, never guessed.
    */
  def evaluableDayFilter(f: Filter): Boolean = {
    def day(c: String) = c.equalsIgnoreCase(GraftTableV2.PDay)
    f match {
      case sources.EqualTo(c, _: String) => day(c)
      case sources.EqualNullSafe(c, _: String) => day(c)
      case sources.GreaterThan(c, _: String) => day(c)
      case sources.GreaterThanOrEqual(c, _: String) => day(c)
      case sources.LessThan(c, _: String) => day(c)
      case sources.LessThanOrEqual(c, _: String) => day(c)
      case sources.In(c, vs) =>
        day(c) && vs.nonEmpty && vs.forall(_.isInstanceOf[String])
      case sources.IsNull(c) => day(c)
      case sources.IsNotNull(c) => day(c)
      case sources.StringStartsWith(c, _) => day(c)
      case sources.StringEndsWith(c, _) => day(c)
      case sources.StringContains(c, _) => day(c)
      case sources.And(l, r) => evaluableDayFilter(l) && evaluableDayFilter(r)
      case sources.Or(l, r) => evaluableDayFilter(l) && evaluableDayFilter(r)
      case sources.Not(c) => evaluableDayFilter(c)
      case sources.AlwaysTrue() => true
      case sources.AlwaysFalse() => true
      case _ => false
    }
  }

  /** One-row frame answering a completely-pushed metadata aggregation
    * (see the builder's acceptance contract). EVERY figure derives from
    * ONE pinned file-group snapshot, so the row is internally
    * consistent under concurrent commits:
    *
    *  - `COUNT(*)`: footer row-count sum over the pinned files;
    *  - `COUNT/MIN/MAX(col)`: the per-day zone-map sidecars, used ONLY
    *    where the sidecar fingerprint matches the pinned day (the
    *    zoneSkippedDays discipline). Mismatched/missing days fall back
    *    to one exact COLUMN-PRUNED job over ONLY those days' pinned
    *    files, merged with the fresh days' sidecar values — still
    *    cheap (one column, stale days only), always snapshot-exact;
    *  - `COUNT/MIN/MAX(_pday)`: the partition column has no physical
    *    presence in the files and no sidecar; it is answered from the
    *    kept-day list + the per-day footer counts (a day contributes
    *    to MIN/MAX iff it holds >=1 row; `_pday` is never null so
    *    COUNT(_pday)=COUNT(*)).
    */
  def metadataAggregate(spark: SparkSession, t: GraftTableV2,
      pushed: Array[Filter],
      aggs: Seq[org.apache.spark.sql.connector.expressions.aggregate.AggregateFunc],
      out: StructType): DataFrame = {
    import org.apache.spark.sql.connector.expressions.aggregate.{Count, CountStar, Max, Min}
    def keptDay(day: String): Boolean =
      !pushed.exists(f => dayMatches(f, day).contains(false))
    def nameOf(e: org.apache.spark.sql.connector.expressions.Expression): String =
      e.asInstanceOf[org.apache.spark.sql.connector.expressions.NamedReference]
        .fieldNames.head
    def isPDay(c: String): Boolean = c.equalsIgnoreCase(GraftTableV2.PDay)
    val groups = t.table.connectorFileGroups(t.versionAsOf)
      .filter(g => keptDay(g._1))
    val dayList = groups.map(_._1)
    val pinnedFp: Map[String, String] = groups.map { case (d, files) =>
      d -> WarehouseTable.fileSetFingerprint(
        files.map(st => (st.getPath.getName, st.getLen)))
    }.toMap
    // one footer sweep keyed by day serves COUNT(*) AND the `_pday`
    // aggregates (min/max of day tokens over days with >=1 row; the
    // per-day split costs nothing extra — same footers read)
    lazy val perDayRows: Map[String, Long] = footerCountsByDay(spark,
      groups.flatMap { case (d, fs) => fs.map(st => (d, st.getPath.toString)) })
    lazy val starCount = perDayRows.valuesIterator.sum
    lazy val pdayMinMax: (Option[String], Option[String]) = {
      val utf8lt = Ordering.fromLessThan[String]((a, b) =>
        UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) < 0)
      val present = dayList.filter(d => perDayRows.getOrElse(d, 0L) > 0L)
      (if (present.isEmpty) None else Some(present.min(utf8lt)),
       if (present.isEmpty) None else Some(present.max(utf8lt)))
    }
    // per referenced VALUE column (`_pday` is answered from the day
    // list above — it has no sidecar and no physical column in the
    // files): sidecar stats for every kept day whose fingerprint
    // matches the pinned group; stale/missing days get one exact
    // column-pruned sweep over ONLY those days' pinned files, merged
    // with the fresh days' sidecar values
    val byCol: Map[String, (Option[String], Option[String], Long)] =
      aggs.collect {
        case c: Count => nameOf(c.column)
        case m: Min => nameOf(m.column)
        case m: Max => nameOf(m.column)
      }.distinct.filterNot(isPDay).map { c =>
        val cached = t.table.cachedZoneMaps(c, dayList)
        val freshSet = dayList.filter(d =>
          cached.get(d).exists(_._1 == pinnedFp(d))).toSet
        val field = t.table.schema.fields
          .find(_.name.equalsIgnoreCase(c)).get
        val numeric = field.dataType
          .isInstanceOf[org.apache.spark.sql.types.NumericType]
        def cmp(a: String, b: String): Int =
          if (numeric) BigDecimal(a).compare(BigDecimal(b))
          else UTF8String.fromString(a).compareTo(UTF8String.fromString(b))
        val lt = Ordering.fromLessThan[String](cmp(_, _) < 0)
        val fromSidecars: Seq[(Option[String], Option[String], Long)] =
          dayList.filter(freshSet).map(cached(_)._2)
        val staleFiles = groups.filterNot(g => freshSet(g._1))
          .flatMap(_._2).map(_.getPath.toString)
        val fromScan: Seq[(Option[String], Option[String], Long)] =
          if (staleFiles.isEmpty) Nil
          else {
            val row = spark.read.schema(StructType(Seq(field)))
              .parquet(staleFiles: _*)
              .agg(min(col(s"`$c`")).cast("string"),
                max(col(s"`$c`")).cast("string"),
                count(col(s"`$c`"))).head()
            Seq((Option(row.getString(0)), Option(row.getString(1)),
              row.getLong(2)))
          }
        val parts = fromSidecars ++ fromScan
        val mins = parts.flatMap(_._1)
        val maxs = parts.flatMap(_._2)
        c -> (
          if (mins.isEmpty) None else Some(mins.min(lt)),
          if (maxs.isEmpty) None else Some(maxs.max(lt)),
          parts.map(_._3).sum)
      }.toMap
    val cols = aggs.zipWithIndex.map { case (a, i) =>
      val f = out.fields(i)
      (a match {
        case _: CountStar => lit(starCount)
        // every stored row lives in a day directory, so `_pday` is
        // never null: COUNT(_pday)=COUNT(*), MIN/MAX from day tokens
        case c: Count if isPDay(nameOf(c.column)) => lit(starCount)
        case c: Count => lit(byCol(nameOf(c.column))._3)
        case m: Min if isPDay(nameOf(m.column)) =>
          pdayMinMax._1.map(lit(_)).getOrElse(lit(null))
        case m: Min =>
          byCol(nameOf(m.column))._1.map(lit(_)).getOrElse(lit(null))
        case m: Max if isPDay(nameOf(m.column)) =>
          pdayMinMax._2.map(lit(_)).getOrElse(lit(null))
        case m: Max =>
          byCol(nameOf(m.column))._2.map(lit(_)).getOrElse(lit(null))
        case other => throw new IllegalStateException(s"unreachable: $other")
      }).cast(f.dataType).as(f.name)
    }
    spark.range(1).select(cols: _*)
  }

  /** Per-day exact row counts of `(day, file)` pairs, summed from
    * their parquet FOOTERS in one distributed sweep — metadata-only,
    * no row data read. Same cost as [[footerSum]] over the same files;
    * the day split is free and serves the `_pday` aggregates.
    */
  def footerCountsByDay(spark: SparkSession,
      files: Seq[(String, String)]): Map[String, Long] = {
    if (files.isEmpty) return Map.empty
    val conf = new graft.util.SerializableHadoopConf(
      spark.sessionState.newHadoopConf())
    spark.sparkContext
      .parallelize(files, math.max(1, math.min(files.size, 64)))
      .map { case (day, p) =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new Path(p), conf.value)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try (day, r.getRecordCount) finally r.close()
      }.reduceByKey(_ + _).collect().toMap
  }

  /** Exact row count of `files`, summed from their parquet FOOTERS in
    * a distributed sweep — metadata-only, no row data read.
    */
  def footerSum(spark: SparkSession, files: Seq[String]): Long = {
    if (files.isEmpty) return 0L
    val conf = new graft.util.SerializableHadoopConf(
      spark.sessionState.newHadoopConf())
    spark.sparkContext
      .parallelize(files, math.max(1, math.min(files.size, 64)))
      .map { p =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new Path(p), conf.value)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRecordCount finally r.close()
      }.fold(0L)(_ + _)
  }

  /** V1 `Filter` → `Column`, for the subset we claim as handled; the
    * translation is EXACT (applied via `.where` on the relation), so
    * claiming them is safe. Nested-field references are left to Spark.
    */
  def toColumn(f: Filter): Option[Column] = {
    def attr(name: String): Option[Column] =
      if (name.contains(".")) None else Some(col(s"`$name`"))
    f match {
      case sources.EqualTo(a, v) => attr(a).map(_ === lit(v))
      case sources.EqualNullSafe(a, v) => attr(a).map(_ <=> lit(v))
      case sources.GreaterThan(a, v) => attr(a).map(_ > lit(v))
      case sources.GreaterThanOrEqual(a, v) => attr(a).map(_ >= lit(v))
      case sources.LessThan(a, v) => attr(a).map(_ < lit(v))
      case sources.LessThanOrEqual(a, v) => attr(a).map(_ <= lit(v))
      case sources.In(a, vs) => attr(a).map(_.isin(vs.toSeq: _*))
      case sources.IsNull(a) => attr(a).map(_.isNull)
      case sources.IsNotNull(a) => attr(a).map(_.isNotNull)
      case sources.StringStartsWith(a, v) => attr(a).map(_.startsWith(v))
      case sources.StringEndsWith(a, v) => attr(a).map(_.endsWith(v))
      case sources.StringContains(a, v) => attr(a).map(_.contains(v))
      case sources.And(l, r) =>
        for { lc <- toColumn(l); rc <- toColumn(r) } yield lc && rc
      case sources.Or(l, r) =>
        for { lc <- toColumn(l); rc <- toColumn(r) } yield lc || rc
      case sources.Not(c) => toColumn(c).map(!_)
      case sources.AlwaysTrue() => Some(lit(true))
      case sources.AlwaysFalse() => Some(lit(false))
      case _ => None
    }
  }
}

/** INSERT INTO → commit-protocol append; INSERT OVERWRITE / TRUNCATE /
  * `INSERT OVERWRITE ... PARTITION (_pday='d')` / `INSERT INTO ...
  * REPLACE WHERE <day-slice predicate>` (equality, IN, ranges — the
  * backfill-a-month shape) → the ONE-commit atomic
  * [[WarehouseTable.overwriteRouted]], scoped to every day or to the
  * slices the predicate matches: replace exactly those in one commit,
  * leave every other day untouched. The query arrives conformed to the
  * table schema (value fields + `_pday`), so rows are already routed.
  */
private[graft] class GraftWriteBuilder(table: WarehouseTable,
    info: LogicalWriteInfo) extends WriteBuilder with SupportsOverwrite {

  private var replaceAll = false
  private var replaceWhere: Option[Array[Filter]] = None

  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    // Spark pads the partition predicate with neutral conjuncts
    val constraining = filters.filterNot {
      case sources.AlwaysTrue() => true
      case sources.IsNotNull(c) => c.equalsIgnoreCase(GraftTableV2.PDay)
      case _ => false
    }
    if (constraining.isEmpty) { replaceAll = true; return this }
    require(constraining.forall(GraftScanBuilder.evaluableDayFilter),
      "graft: INSERT OVERWRITE is scoped by whole day slices — the " +
        s"predicate must constrain only ${GraftTableV2.PDay} with " +
        "literal comparisons (equality, ranges, IN, ...). For row-level " +
        "replacement use MERGE INTO or DELETE WHERE + INSERT. Got: " +
        constraining.mkString(", "))
    replaceWhere = Some(constraining)
    this
  }

  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation =
      new InsertableRelation {
        override def insert(data: DataFrame, overwrite: Boolean): Unit = {
          val routed = data // schema = value fields + _pday, pre-routed
          replaceWhere match {
            case Some(filters) =>
              table.overwriteRouted(routed, "REPLACE WHERE predicate",
                _ => day => filters.forall(f =>
                  GraftScanBuilder.dayMatches(f, day).contains(true)))
            case None =>
              if (replaceAll || overwrite) table.overwriteRouted(routed)
              else table.appendRouted(routed)
          }
          ()
        }
      }
  }
}
