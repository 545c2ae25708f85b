package graft.etl

import graft.TestSpark
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicReference

/** The cost contract of `OrdersEtl.findSimilarProducts`: once the first
  * lookup has pinned the products, a lookup is exactly one Spark job; and
  * the pin stays out of `write()`, whose plan keeps broadcast-joining the
  * unpinned products (a checkpointed frame has no useful statistics).
  */
class OrdersEtlLookupJobsSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import LookupFixture._

  private val spark = TestSpark.spark
  private val groupKey = "spark.jobGroup.id"

  /** Polls until `read` has not changed for 200 ms (listener events are
    * delivered asynchronously).
    */
  private def settled[T](read: => T): T = {
    var last = read; var stableMs = 0
    while (stableMs < 200) {
      Thread.sleep(25)
      val now = read
      if (now == last) stableMs += 25 else { last = now; stableMs = 0 }
    }
    last
  }

  test("after the first lookup, each lookup starts exactly one job") {
    val jobs = new ConcurrentHashMap[String, Integer]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(groupKey)))
          .foreach(g => jobs.merge(g, 1, (a, b) => a + b))
    }
    val sc = spark.sparkContext
    def count(group: String): Int = Option(jobs.get(group)).fold(0)(_.intValue)
    def lookup(group: String)(run: => Any): Int = {
      sc.setJobGroup(group, group)
      try run finally sc.clearJobGroup()
      settled(count(group))
    }
    val etl = LookupFixture.etl(spark)
    sc.addSparkListener(listener)
    try {
      val first = lookup("lookup-first")(etl.findSimilarProducts(goldenTarget, Seq(296597L)))
      assert(first >= 2, "the first lookup pins the products, then collects")
      assert(lookup("lookup-goldens")(
        etl.findSimilarProducts(goldenTarget, goldens.keys.toSeq)) == 1)
      assert(lookup("lookup-empty")(etl.findSimilarProducts(700001L, Seq.empty)) == 1)
      assert(lookup("lookup-all")(
        etl.findSimilarProducts(800002L, productIds :+ 123456789L)) == 1)
    } finally sc.removeSparkListener(listener)
  }

  test("write() after a lookup broadcast-joins the unpinned products") {
    val written = new AtomicReference[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        if (funcName == "command") written.compareAndSet(null, qe)
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    val dir = Files.createTempDirectory("graft-lookup")
    val etl = LookupFixture.etl(spark, dir)
    etl.findSimilarProducts(goldenTarget, Seq(296597L))
    spark.listenerManager.register(listener)
    try {
      etl.write()
      eventually(timeout(10.seconds)) { assert(written.get != null) }
    } finally spark.listenerManager.unregister(listener)
    val qe = written.get
    val plan: SparkPlan = qe.executedPlan
    assert(collect(plan) { case j: BroadcastHashJoinExec => j }.size == 1, plan)
    assert(collect(plan) { case s: RDDScanExec => s }.isEmpty, plan)
    assert(qe.optimizedPlan.collect { case r: LogicalRDD => r }.isEmpty, qe.optimizedPlan)
    assert(spark.read.parquet(s"$dir/warehouse/shop/orders").count() == 4)
  }
}
