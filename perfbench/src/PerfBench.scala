package perfbench

import java.nio.file.{Files, Paths}
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.{PerfBenchBridge, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.types.StructType

/** Benchmark JVM: runs one workload's calls in a closed loop and writes
  * the raw samples to `<out>/samples.json` for run.py to reduce.
  *
  * Order of a run: session start; a warm-up pass over every call, which
  * also keeps each call's first result as its reference; `setup_s` is
  * stamped there. Then, untimed, the references are written as parquet
  * with their oracle SQL for scripts/check.py, and each live result is
  * compared with its batch twin. Then whole passes run until `--seconds`
  * have elapsed (at least two); each timed call's result is compared with
  * its reference after its clock stops.
  *
  * Only the streaming progress listener is registered untraced (Spark
  * emits progress events regardless). `--trace 1` adds a SparkListener
  * and walks the scratch root around each call. */
object Main {

  final class StreamRec extends StreamingQueryListener {
    val starts = new ConcurrentLinkedQueue[Long]()
    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      starts.add(Instant.parse(e.timestamp).toEpochMilli)
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** A job's submission, end, `callSite.short` tag and its tasks' sums. */
  final class Job(val id: Int, val start: Long, val tag: String) {
    @volatile var end: Long = -1
    val sums = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
  }

  final class JobRec extends SparkListener {
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    private def add(j: Job, kvs: (String, Double)*): Unit =
      j.synchronized { kvs.foreach { case (k, v) => j.sums(k) += v } }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tag = Option(e.properties).flatMap(p =>
        Option(p.getProperty("callSite.short"))).getOrElse("")
      val j = new Job(e.jobId, e.time, tag)
      jobs.put(e.jobId, j)
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, j))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageJob.get(e.stageInfo.stageId)).foreach(add(_, "stages" -> 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).foreach { j =>
        add(j, "tasks" -> 1, "failures" -> (if (e.reason == Success) 0 else 1))
        val m = e.taskMetrics
        if (m != null) add(j,
          "run_ms" -> m.executorRunTime, "cpu_ms" -> m.executorCpuTime / 1e6,
          "gc_ms" -> m.jvmGCTime, "input_records" -> m.inputMetrics.recordsRead,
          "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
          "shuffle_records_written" -> m.shuffleWriteMetrics.recordsWritten,
          "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
          "fetch_wait_ms" -> m.shuffleReadMetrics.fetchWaitTime,
          "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
          "result_bytes" -> m.resultSize,
          "output_bytes" -> m.outputMetrics.bytesWritten)
      }
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val calls = Workloads.all(opt("workload"))
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val dir = opt("inputs"); val out = Paths.get(opt("out"))
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", opt("local"))
      .config("spark.sql.warehouse.dir", opt("local") + "/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val streams = new StreamRec
    spark.streams.addListener(streams)
    val jobs = new JobRec
    if (trace) spark.sparkContext.addSparkListener(jobs)
    val scratch = Paths.get(sys.env("SPARK_GRAFT_SCRATCH"))

    def canon(rows: Array[Row]): Vector[String] = rows.map(_.toString).sorted.toVector
    def walk(): Map[String, (Long, Long)] =
      scala.util.Using.resource(Files.walk(scratch)) { s =>
        s.iterator.asScala.filter(Files.isRegularFile(_)).flatMap { p =>
          scala.util.Try(p.toString -> (Files.size(p),
            Files.getLastModifiedTime(p).toMillis)).toOption
        }.toMap
      }

    /** Runs call `i`: the clock covers the public call through
      * `collect()`. Returns the result (schema and rows) or the error,
      * and the sample's fields. */
    def runCall(i: Int, pass: Int)
        : (Either[String, (StructType, Array[Row])], mutable.Map[String, Any]) = {
      val before = if (trace) walk() else Map.empty[String, (Long, Long)]
      val t0 = System.currentTimeMillis(); val n0 = System.nanoTime()
      var n1 = n0; var n2 = n0
      val res = try {
        val df = calls(i).run(spark, dir)
        n1 = System.nanoTime()
        PerfBenchBridge.executedPlan(df)
        n2 = System.nanoTime()
        Right((df.schema, df.collect()))
      } catch { case e: Throwable =>
        Left(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
      }
      val n3 = System.nanoTime(); val t1 = System.currentTimeMillis()
      def ms(a: Long, b: Long) = (b - a) / 1e6
      val s = mutable.LinkedHashMap[String, Any]("call" -> i, "pass" -> pass,
        "wall_ms" -> ms(n0, n3), "t0" -> t0, "t1" -> t1, "ok" -> res.isRight,
        "err" -> res.left.getOrElse(""), "build_ms" -> ms(n0, n1), "plan_ms" -> ms(n1, n2))
      if (trace) {
        val fresh = walk().filter { case (p, v) => !before.get(p).contains(v) }
        s("scratch_bytes") = fresh.values.map(_._1).sum
        s("scratch_files") = fresh.size
      }
      (res, s)
    }

    // warm-up pass: every call once; its result is the run's reference
    val warm = calls.indices.map(runCall(_, -1)._1)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val refs = warm.map(_.map { case (_, rows) => canon(rows) })

    // untimed checks: references out for the oracle, twins here
    val oracle = mutable.LinkedHashMap.empty[String, String]
    val callInfo = calls.indices.map { i =>
      val c = calls(i)
      warm(i).foreach { case (schema, rows) =>
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
          .write.mode("overwrite").parquet(out.resolve(s"call$i").toString)
        oracle(s"call$i") = graft.SparkEntry.oracleSql.getOrElse(c.oracle, "")
      }
      val error = (refs(i), c.twin) match {
        case (Left(e), _) => "warm-up failed: " + e
        case (Right(_), None) => ""
        case (Right(r), Some(t)) =>
          scala.util.Try(canon(t(spark, dir).collect())) match {
            case scala.util.Success(tr) if tr == r => ""
            case scala.util.Success(tr) =>
              s"live != batch twin: ${r.size} vs ${tr.size} rows; first diff " +
                r.diff(tr).headOption.orElse(tr.diff(r).headOption).getOrElse("")
            case scala.util.Failure(e) => "twin failed: " + e.getMessage.take(200)
          }
      }
      Map("name" -> c.name, "oracle" -> c.oracle, "live" -> c.live,
        "siddhiql" -> c.siddhiql, "error" -> error,
        "input_rows" -> spark.read.parquet(s"$dir/${c.table}.parquet").count())
    }

    // timed passes: whole passes until the budget is spent, at least two
    // so every run has the same minimum sample count
    val samples = mutable.ArrayBuffer.empty[mutable.Map[String, Any]]
    val passMs = mutable.ArrayBuffer.empty[Double]
    val tStart = System.nanoTime()
    while (passMs.size < 2 || (System.nanoTime() - tStart) / 1e9 < seconds) {
      val p0 = System.nanoTime()
      calls.indices.foreach { i =>
        val (res, s) = runCall(i, passMs.size)
        if (res.isRight && res.map { case (_, rows) => canon(rows) } != refs(i)) {
          s("ok") = false; s("err") = "result differs from the call's warm-up result"
        }
        samples += s
      }
      passMs += (System.nanoTime() - p0) / 1e6
    }
    PerfBenchBridge.drain(spark.sparkContext)
    val rssMb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(-1.0)

    // progress of the queries started inside timed calls, by call window
    val triggers = streams.progress.asScala.toSeq.flatMap { p =>
      val s0 = Instant.parse(p.timestamp).toEpochMilli
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val ops = p.stateOperators
      samples.indexWhere(s => s0 >= s("t0").asInstanceOf[Long] &&
          s0 <= s("t1").asInstanceOf[Long]) match {
        case -1 => None
        case si => Some(Map("sample" -> si, "start" -> s0,
          "batchDuration" -> p.batchDuration,
          "state_rows_total" -> ops.map(_.numRowsTotal).sum,
          "state_rows_updated" -> ops.map(_.numRowsUpdated).sum,
          "state_memory_bytes" -> ops.map(_.memoryUsedBytes).sum,
          "state_commit_ms" -> ops.map(_.commitTimeMs).sum) ++
          Seq("triggerExecution", "queryPlanning", "addBatch", "walCommit",
            "commitOffsets", "latestOffset").map(k => k -> d.getOrElse(k, 0L)))
      }
    }
    val result = Map("workload" -> opt("workload"), "setup_s" -> setupS,
      "cores" -> cores, "jvm_start_ms" -> jvmStart, "peak_rss_mb" -> rssMb,
      "pass_ms" -> passMs, "calls" -> callInfo, "samples" -> samples,
      "triggers" -> triggers, "query_starts" -> streams.starts.asScala.toSeq.sorted,
      "jobs" -> jobs.jobs.values.asScala.toSeq.sortBy(_.id).map(j =>
        Map("id" -> j.id, "start" -> j.start, "end" -> j.end, "tag" -> j.tag) ++ j.sums))
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(out.resolve("oracle_sql.json"), json.writeValueAsString(oracle))
    Files.writeString(out.resolve("samples.json"), json.writeValueAsString(result))
    spark.stop()
  }
}
