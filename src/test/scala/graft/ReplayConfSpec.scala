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
    "spark.sql.streaming.noDataMicroBatches.enabled",
    engine.Streaming.FsCheckpoints._1)
  private def confNow = keys.map(k => k -> spark.conf.getOption(k))

  private def tableLive(): Seq[String] =
    SparkEntry.queries("sql_app_table_live")(spark, sf)
      .collect().map(_.toString).toSeq.sorted
  private def streamJoin(): Seq[String] =
    engine.Streaming.streamStreamJoin(spark, sf)
      .collect().map(_.toString).toSeq.sorted
  private def gate(name: String): Seq[String] =
    SparkEntry.queries(name)(spark, sf).collect().map(_.toString).toSeq.sorted

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

  test("replays commit through the scoped checkpoint manager, not the " +
       "session's") {
    val key = engine.Streaming.FsCheckpoints._1
    val bogus = classOf[CommitRefusingCheckpointFileManager].getName
    // the fold runner, the state store, a runStream replay and the two
    // foreachBatch replays
    val names = Seq("sql_app_table_live", "sql_app_rate_live",
      "stream_stream_join", "stream_table_upsert", "stream_batch_window")
    val outer = confNow
    try {
      val want = names.map(gate)
      assert(want.forall(_.nonEmpty))
      spark.conf.set(key, bogus)
      names.zip(want).foreach { case (name, rows) =>
        assert(gate(name) == rows, name)
        assert(spark.conf.get(key) == bogus, name)
      }
    } finally outer.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}

/** A checkpoint manager that refuses every commit: a replay that writes
  * a checkpoint file (offset or commit log entry, state-store file)
  * through the session's own manager instead of its scoped one fails.
  * Reads pass, because a started query still lists its checkpoint
  * directory through the session it was started on. */
class CommitRefusingCheckpointFileManager(path: org.apache.hadoop.fs.Path,
    conf: org.apache.hadoop.conf.Configuration)
    extends org.apache.spark.sql.execution.streaming.checkpointing
      .FileSystemBasedCheckpointFileManager(path, conf) {
  override def createAtomic(p: org.apache.hadoop.fs.Path,
      overwriteIfPossible: Boolean) =
    throw new IllegalStateException(s"commit through the session's manager: $p")
}
