package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.scalatest.funsuite.AnyFunSuite

/** Streaming replays scope their conf to each query's `start()`
  * (`Streaming.startScoped`): two replays running at once on the shared
  * session must each get their own result and leave the session's conf
  * as they found it. */
class ReplayConfSpec extends AnyFunSuite {
  import TestSpark._

  private val keys = Seq("spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled",
    "spark.sql.streaming.noDataMicroBatches.enabled")
  private def confNow = keys.map(k => k -> spark.conf.getOption(k))

  private def tableLive(): Seq[String] =
    SparkEntry.queries("sql_app_table_live")(spark, sf)
      .collect().map(_.toString).toSeq.sorted
  private def streamJoin(): Seq[String] =
    engine.Streaming.streamStreamJoin(spark, sf)
      .collect().map(_.toString).toSeq.sorted

  test("concurrent deployApp and runStream replays: results as run " +
       "alone, session conf untouched") {
    val outer = confNow
    // values neither replay scopes, so a leaked scoped value shows
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "true")
    val pool = Executors.newFixedThreadPool(2)
    try {
      val before = confNow
      val soloTable = tableLive()
      val soloJoin = streamJoin()
      assert(soloTable.nonEmpty && soloJoin.nonEmpty)
      assert(confNow == before)

      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val go = new CountDownLatch(1)
      val fTable = Future { go.await(); tableLive() }
      val fJoin = Future { go.await(); streamJoin() }
      go.countDown()
      val wait = Duration(10, TimeUnit.MINUTES)
      assert(Await.result(fTable, wait) == soloTable)
      assert(Await.result(fJoin, wait) == soloJoin)
      assert(confNow == before)
    } finally {
      pool.shutdown()
      outer.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }
}
