package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sf0001 = "/root/testdata/sf0.001"
  /** The large fixture — for the few tests whose regime (raw-HLL
    * NDVs) sf0.001 cannot reach; everything else stays on sf0001. */
  val sf01 = "/root/testdata/sf0.1"

  /** Run `body` with session confs set, RESTORING the previous values
    * after (SkewSpec's semantics — plain unset would lose a conf that
    * carried a non-default value before the block). ONE definition for
    * every conf-scoped spec: DedupSpec, SkewSpec, and
    * RetrievalOracleSpec each carried a private copy, and a fix to
    * the restore semantics needed three edits. */
  protected def withConf[A](kvs: (String, String)*)(body: => A): A = {
    val old = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try { kvs.foreach { case (k, v) => spark.conf.set(k, v) }; body }
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Run `body` and count the SQL actions it executed — checkpoints,
    * collects, writes — whose plan reads the table directory named
    * `table` (e.g. `documents.parquet`). Listener events are
    * asynchronous, so the bus is drained before the count is read. */
  protected def tableScans(table: String)(body: => Unit): Int = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
      LogicalRelation}
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.analyzed.collectWithSubqueries {
              case r: LogicalRelation => r.relation
            }.exists {
              case h: HadoopFsRelation =>
                h.location.rootPaths.exists(_.getName == table)
              case _ => false
            }) n.incrementAndGet()
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    org.apache.spark.GraftBus.drain(spark.sparkContext)
    spark.listenerManager.register(l)
    try { body; org.apache.spark.GraftBus.drain(spark.sparkContext) }
    finally spark.listenerManager.unregister(l)
    n.get
  }

  /** Run `body` and return the local properties of every Spark job it
    * launched, from any thread (null for a job launched without
    * any). */
  protected def jobProperties(body: => Unit): Seq[java.util.Properties] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val got =
      new java.util.concurrent.ConcurrentLinkedQueue[Option[java.util.Properties]]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        got.add(Option(e.properties))
    }
    org.apache.spark.GraftBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try { body; org.apache.spark.GraftBus.drain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(l)
    got.toArray(Array.empty[Option[java.util.Properties]]).toSeq
      .map(_.orNull)
  }
}

object SparkSpec {
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // static conf — must live on the JVM-wide SparkContext so that
    // ExtensionsSpec's fresh session (which shares the context) gets
    // the extensions applied; imperative register() stays idempotent
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    .getOrCreate()
}
