package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Test-side capture of file-scan SELECTION metrics across every query
  * execution a block runs: the scan operator's `numFiles`/`filesSize`
  * report exactly the files chosen AFTER partition pruning — the
  * ground truth for "pruning bounds I/O" proofs. (Task-level
  * `inputMetrics.bytesRead` is useless for this on local disk: the
  * parquet reader's data-page reads bypass the Hadoop FS statistics
  * layer, so only footers get counted — measured 22 KB "read" for a
  * 32 MB scan.)
  */
object ScanMetrics {

  final case class ScanTotals(numFiles: Long, fileBytes: Long,
      readSchemas: List[Seq[String]] = Nil,
      numFilesPerScan: List[Long] = Nil) {
    def +(o: ScanTotals): ScanTotals =
      ScanTotals(numFiles + o.numFiles, fileBytes + o.fileBytes,
        readSchemas ++ o.readSchemas,
        numFilesPerScan ++ o.numFilesPerScan)
  }

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case r: ReusedExchangeExec => scans(r.child)
    case i: InMemoryTableScanExec => scans(i.relation.cachedPlan)
    case s: FileSourceScanExec => Seq(s)
    case other =>
      other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }

  /** Run `body`, return the summed file-scan selection totals of every
    * query execution it triggered (AQE final plans, reused stages,
    * subqueries and cached plans included). A scan NODE shared between
    * executions — e.g. the plan under a cached frame read by several
    * actions — is counted once, at its final metric values, so cache
    * reuse is not double-billed as I/O.
    */
  def selectedByQueries[A](spark: SparkSession)(body: => A): (A, ScanTotals) = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[FileSourceScanExec, java.lang.Boolean]())
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = {
        seen.synchronized { scans(qe.executedPlan).foreach(seen.add) }
        ()
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    // async listener bus: events of queries that finished BEFORE the
    // block would otherwise reach the listener late and be counted
    org.apache.spark.graftbridge.ListenerBusDrain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      val out = body
      // async listener bus: wait for the capture set to go quiet
      var last = -1; var now = seen.synchronized(seen.size); var spins = 0
      while (last != now && spins < 50) {
        last = now; Thread.sleep(200)
        now = seen.synchronized(seen.size); spins += 1
      }
      val totals = seen.synchronized {
        import scala.jdk.CollectionConverters._
        seen.asScala.toList.map { s =>
          val n = s.metrics.get("numFiles").map(_.value).getOrElse(0L)
          ScanTotals(n,
            s.metrics.get("filesSize").map(_.value).getOrElse(0L),
            List(s.requiredSchema.fieldNames.toSeq), List(n))
        }.foldLeft(ScanTotals(0, 0))(_ + _)
      }
      (out, totals)
    } finally spark.listenerManager.unregister(listener)
  }
}
