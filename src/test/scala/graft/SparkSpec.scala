package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    .getOrCreate()

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Files actually scanned (post-pruning) by every file-source scan
    * in the executed plan — descends into adaptive subtrees. Metrics
    * populate when the scan's partitions materialize, so an action
    * runs first. */
  def scannedFiles(df: org.apache.spark.sql.DataFrame,
                   pathContains: String = ""): Long = {
    df.collect()
    scannedFilesIn(df.queryExecution.executedPlan, pathContains)
  }

  /** [[scannedFiles]] over an already-executed physical plan. */
  def scannedFilesIn(plan: org.apache.spark.sql.execution.SparkPlan,
                     pathContains: String = ""): Long = {
    def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[Long] =
      p.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec
            if pathContains.isEmpty || s.relation.location.rootPaths
              .exists(_.toString.contains(pathContains)) =>
          Seq(s.metrics("numFiles").value)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scans(a.executedPlan)
        // materialized AQE stages hide their subplan (children = Nil)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scans(q.plan)
      }.flatten
    scans(plan).sum
  }

  /** Delete-set probes ([[graft.lake.InDeleteSet]]) in the filters of
    * `df`'s optimized plan: a read with merge-on-read debt has one per
    * commit group and delete kind. */
  def deleteSetProbes(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.optimizedPlan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        f.condition.collect { case _: graft.lake.InDeleteSet => 1 }.sum
    }.sum

  /** The query executions Spark completed while `body` ran. */
  def executionsDuring(body: => Unit)
      : Seq[org.apache.spark.sql.execution.QueryExecution] = {
    import org.apache.spark.sql.execution.QueryExecution
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    spark.listenerManager.register(l)
    try { body; org.apache.spark.ListenerBusDrain(spark.sparkContext) }
    finally spark.listenerManager.unregister(l)
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq
  }

  /** Spark jobs started while `body` ran, counted by a listener. */
  def jobsDuring(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try { body; org.apache.spark.ListenerBusDrain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(l)
    n.get
  }
}
