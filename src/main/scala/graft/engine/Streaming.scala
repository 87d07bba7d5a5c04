package graft.engine

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode, StreamingQuery}

/** Structured Streaming execution of the engine's operators (SURVEY.md
  * §2.3, §2.7, §2.6 streaming side).
  *
  * Siddhi analogs [unverified public-repo paths; /root/reference empty]:
  * the runtime event path `core/stream/StreamJunction.java` →
  * window/aggregator processors; snapshot recovery
  * `core/util/snapshot/SnapshotService.java` (≈ Spark checkpointing);
  * `update or insert into T` upserts compiled by
  * `core/util/parser/OutputParser.java`.
  *
  * Each query here REALLY runs through MicroBatchExecution: parquet rows →
  * MemoryStream (chunked into multiple micro-batches) → the same
  * declarative combinators as the batch module → memory sink → DataFrame.
  * Their DuckDB oracles are therefore checking streaming results — the
  * batch/stream parity Siddhi gets by construction, we get by Spark's
  * incremental planner, and the gate proves it.
  *
  * MemoryStream is the harness-side source (driver-fed, test scale); at
  * 100 TB the same pipelines read `readStream.format("parquet"/"kafka")` —
  * nothing in the transforms changes, which is the point of declaring them
  * as Dataset combinators.
  */
object Streaming {
  import Tables._
  import Cep.Ev
  type Q = (SparkSession, String) => DataFrame

  /** Output row of the timer-based absence pattern. */
  case class AbsenceHit(user_id: Long, event_id: Long)

  /** Ev + its µs event-time column (the watermark column). */
  case class EvT(eventId: Long, tsNs: Long, userId: Long, eventType: String,
                 value: Double, ts: java.sql.Timestamp)

  /** Time-ordered event rows for the MemoryStream harness feed, collected
    * once per sf directory and shared by every streaming query (the feed
    * is harness-side by definition; re-collecting identical rows per query
    * just re-pays the scan+sort+driver transfer a dozen times). */
  private val feedCache =
    scala.collection.concurrent.TrieMap.empty[String, Array[Ev]]

  /** Staged file-arrival directory for the file-source query, written once
    * per sf directory (same lifetime policy as `feedRows`): re-staging the
    * identical three parquet files per invocation was pure harness cost
    * (~25 s/run at sf0.1), not source cost — the timed work should be the
    * dir-watch + incremental listing itself. */
  private val stagedFeedCache =
    scala.collection.concurrent.TrieMap.empty[String, String]
  def feedRows(spark: SparkSession, dir: String): Array[Ev] = {
    ramCheckpoints(spark)
    feedRows0(spark, dir)
  }
  private def feedRows0(spark: SparkSession, dir: String): Array[Ev] =
    feedCache.getOrElseUpdate(dir, {
      import spark.implicits._
      events(spark, dir)
        .select(col("event_id").as("eventId"), col("ts_ns").as("tsNs"),
          col("user_id").as("userId"), col("event_type").as("eventType"),
          col("value"))
        .as[Ev].orderBy("tsNs", "eventId").collect()
    })

  /** Watermark-flush sentinel region. Append-mode windowed aggregations
    * only emit a window once the watermark passes its end; a finite
    * replay therefore needs events BEYOND the last real window to flush
    * it. Sentinels live at 2100-01-01 (far above any fixture), and every
    * windowed pipeline drops `ts >= FlushCutoff` RIGHT ABOVE its
    * watermark node — the predicate references the event-time column, so
    * Catalyst keeps it above EventTimeWatermark and the sentinel still
    * advances the watermark before being discarded. */
  val FlushNs: Long = 4102444800000000000L // 2100-01-01T00:00:00Z, ns

  /** HARNESS scratch root: RAM-backed when the platform offers it (a
    * real deployment uses durable storage). What a replay's per-trigger
    * checkpoint files cost is set out at [[FsCheckpoints]]. */
  private[graft] def scratchRoot: java.nio.file.Path =
    // SPARK_GRAFT_SCRATCH overrides the root (A/B lever: point it at
    // /tmp to measure the disk-vs-RAM checkpoint cost — BASELINE.md
    // round 14 records the attribution)
    sys.env.get("SPARK_GRAFT_SCRATCH")
      .map(java.nio.file.Paths.get(_))
      .getOrElse {
        val shm = new java.io.File("/dev/shm")
        if (shm.isDirectory && shm.canWrite) shm.toPath
        else java.nio.file.Paths.get(
          sys.props.getOrElse("java.io.tmpdir", "/tmp"))
      }

  def scratchDir(tag: String): String = {
    val p = java.nio.file.Files.createTempDirectory(scratchRoot, tag)
    scratchDirs.add(p.toString)
    p.toString
  }

  // scratch lives for the process (lazily-evaluated results read state
  // generations after their query returns), then a shutdown hook
  // reclaims it — RAM-backed dirs would otherwise outlive the JVM
  private val scratchDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  sys.addShutdownHook {
    scratchDirs.forEach { d =>
      scala.util.Try {
        new scala.reflect.io.Directory(new java.io.File(d))
          .deleteRecursively()
      }
      ()
    }
  }
  private val FlushCutoffUs: Long = 3786912000000000L // 2090-01-01, µs
  def flushCutoff: org.apache.spark.sql.Column =
    timestamp_micros(lit(FlushCutoffUs))

  /** Route the engine's streaming checkpoints and RocksDB's local
    * working dir through the [[scratchRoot]] instead of Spark's
    * default under java.io.tmpdir. `ramCheckpoints` sets the RocksDB
    * root once per session; `ckpt` gives each query START a fresh
    * scratch checkpoint (a session-wide checkpointLocation base would
    * key subdirs by query NAME and make a re-run try to RECOVER a
    * memory-sink query — unsupported). The per-trigger cost of those
    * files is the rename path, not the disk: see [[FsCheckpoints]]. A
    * real deployment points both at durable storage instead (same
    * knobs). */
  def ramCheckpoints(s: SparkSession): Unit = {
    if (s.conf.getOption(
        "spark.sql.streaming.stateStore.rocksdb.localRootDir").isEmpty)
      s.conf.set("spark.sql.streaming.stateStore.rocksdb.localRootDir",
        scratchDir("graft_rocksdb"))
  }
  def ckpt(tag: String): String = scratchDir(s"ckpt_$tag")

  /** Watermark + sentinel guard for Append-mode windowed aggregation:
    * event-time watermark on `ts`, then the flush-sentinel drop (above
    * the watermark node — see [[FlushNs]]). The 1-minute delay is the
    * late-data contract; at any runtime length state is evicted once the
    * watermark passes a window's end — the bounded-state Append design
    * (vs Complete mode's keep-every-bucket-forever). */
  def flushGuard(df: DataFrame): DataFrame =
    df.withWatermark("ts", "1 minute").filter(col("ts") < flushCutoff)

  /** The two watermark-flush sentinels (see [[FlushNs]]), fed as their
    * own micro-batches after the real rows: the first advances the
    * watermark past every real window, the second runs a batch UNDER
    * that advanced watermark so all remaining state emits and evicts.
    * Event ids MaxValue−2 and MaxValue−1 sit above every fixture id. */
  val flushSentinels: Seq[Ev] = (0 to 1).map(k => Ev(Long.MaxValue - 2 + k,
    FlushNs + k * 3600000000000L, -1L, "__flush", 0.0))

  // state-store partition count is fixed at query start from
  // spark.sql.shuffle.partitions; 8 is plenty for the harness feed and
  // writes 4× fewer state files per trigger than the batch setting
  // (each file's cost: [[FsCheckpoints]]). A real deployment sizes this
  // to the cluster, not per query.
  private[graft] val Width8 = "spark.sql.shuffle.partitions" -> "8"
  // sentinel and timer flushing is DATA-batch driven (the sentinels
  // advance the watermark, the batch after them emits and fires the
  // expired timers under it), so the extra no-data micro-batch Spark
  // schedules per watermark advance only repeats a finite replay's
  // per-trigger state-store commit and checkpoint for zero rows — ~2×
  // its trigger count. Expiry is condition-based, so the emitted rows
  // are identical either way. A long-running deployment keeps it on
  // for idle-stream timer progress.
  private[graft] val NoDataOff =
    "spark.sql.streaming.noDataMicroBatches.enabled" -> "false"
  // every replay commits its checkpoints (offset and commit logs,
  // state-store delta files, their `.crc` sidecars) through Spark's
  // FileSystem-based checkpoint manager. The default FileContext
  // manager renames through AbstractFileSystem.rename →
  // getFileLinkStatus → FileUtil.readLink, which forks a `readlink`
  // child process per rename when libhadoop is not loaded; those forks,
  // not fsync or disk latency, were a replay's per-trigger commit cost
  // (traced live_window on a 4-vCPU VM: state.commit_ms 1300 → 110 ms
  // and task run time 6.6 → 3.7 s per call; plans/fs_checkpoints/).
  // The FileSystem manager renames with File.renameTo and writes the
  // same files, Spark's state checksums included. Scoped by
  // [[startScoped]], so a stream the caller starts itself keeps its
  // own manager.
  private[graft] val FsCheckpoints =
    "spark.sql.streaming.checkpointFileManagerClass" ->
      ("org.apache.spark.sql.execution.streaming.checkpointing." +
        "FileSystemBasedCheckpointFileManager")
  // transformWithState (per-family state, timers) requires RocksDB
  private val RocksDb = "spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Serializes every [[startScoped]]: two replays starting at once on
    * one session would otherwise each save the other's scoped values as
    * their own "previous" values and leave them behind. */
  private val confLock = new Object

  /** Start a streaming query with [[FsCheckpoints]] and `conf` set on
    * `spark` around `start` only. A query clones its session when it is
    * constructed, inside `start()`; its shuffle width, no-data batch
    * flag, checkpoint manager (via the clone's Hadoop conf, executors
    * included) and `foreachBatch` batch session all read that clone, so
    * the scoped values need not outlive the start. Each key then gets
    * its old value back, or is unset if it had none. Replays start on
    * the caller's own session, not a new one: only its
    * `StreamingQueryListener`s see the queries it starts, and
    * memory-sink views must land where the caller reads them. */
  def startScoped(spark: SparkSession, conf: (String, String)*)
                 (start: => StreamingQuery): StreamingQuery =
    confLock.synchronized {
      val scoped = FsCheckpoints +: conf
      val prev = scoped.map { case (k, _) => k -> spark.conf.getOption(k) }
      try {
        scoped.foreach { case (k, v) => spark.conf.set(k, v) }
        start
      } finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }

  /** Finite replay of a started query: feed `rows` in `chunks`
    * micro-batches, then each sentinel as its own micro-batch, waiting
    * for every batch; stop the query. */
  def replay[T](ms: MemoryStream[T], q: StreamingQuery,
                rows: scala.collection.Seq[T], chunks: Int,
                sentinels: Seq[T] = Nil): Unit =
    try {
      rows.grouped(math.max(rows.length / chunks, 1)).foreach { g =>
        ms.addData(g); q.processAllAvailable()
      }
      sentinels.foreach { e => ms.addData(e); q.processAllAvailable() }
    } finally q.stop()

  /** Feed the events table through a MemoryStream in `chunks` micro-batches
    * (time-ordered), apply `build`, run to completion, return the sink.
    * `flush = true` appends the [[flushSentinels]] after the real rows
    * so Append-mode windows close — the builder must wrap its watermark
    * in [[flushGuard]] so the sentinels never reach the aggregation
    * itself. `conf` adds to the replay's own scoped conf. */
  def runStream(spark: SparkSession, dir: String, name: String,
                mode: OutputMode, chunks: Int = 2, flush: Boolean = false,
                conf: Seq[(String, String)] = Nil)
               (build: Dataset[Ev] => DataFrame): DataFrame = {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val rows = feedRows(spark, dir)
    val ms = MemoryStream[Ev]
    val q = startScoped(spark, Seq(Width8, NoDataOff) ++ conf: _*)(
      build(ms.toDS())
        .writeStream.format("memory").queryName(name).outputMode(mode)
        .option("checkpointLocation", ckpt(name))
        .start())
    replay(ms, q, rows, chunks, if (flush) flushSentinels else Nil)
    spark.table(name)
  }

  private def withTs(ds: Dataset[Ev]): DataFrame =
    ds.withColumn("ts", timestamp_micros(expr("tsNs div 1000")))

  /** stream_timebatch_sum: the flagship tumbling window, executed
    * incrementally in APPEND mode — each pane emits exactly once when the
    * watermark passes its end, and its state row is evicted (bounded
    * state at any runtime length; Complete mode would keep and re-emit
    * every pane forever). */
  def timeBatchSum(s: SparkSession, d: String): DataFrame =
    runStream(s, d, "stream_timebatch_sum", OutputMode.Append(),
        flush = true) { ds =>
      flushGuard(withTs(ds))
        .groupBy(window(col("ts"), "1 minute"))
        .agg(round(sum("value"), 2).as("sum_value"),
          count(lit(1)).as("cnt"))
        .select(unix_millis(col("window.start")).as("w_start_ms"),
          col("sum_value"), col("cnt"))
    }.orderBy("w_start_ms")

  /** stream_session: built-in session_window in APPEND mode — a session
    * emits (merged, final) once the watermark passes its close, then its
    * state is dropped. */
  def session(s: SparkSession, d: String): DataFrame =
    runStream(s, d, "stream_session", OutputMode.Append(),
        flush = true) { ds =>
      flushGuard(withTs(ds))
        .groupBy(session_window(col("ts"), "10 minutes"), col("userId"))
        .agg(count(lit(1)).as("n_events"),
          round(sum("value"), 2).as("sum_value"))
        .select(col("userId").as("user_id"),
          unix_millis(col("session_window.start")).as("sess_start_ms"),
          col("n_events"), col("sum_value"))
    }.orderBy("user_id", "sess_start_ms")

  /** stream_dedup_keys: streaming dropDuplicates — the `unique:*` window
    * family; emits each (user, type) key once (set semantics so the result
    * is order-independent and oracle-checkable). */
  def dedupKeys(s: SparkSession, d: String): DataFrame =
    runStream(s, d, "stream_dedup_keys", OutputMode.Append()) { ds =>
      ds.select(col("userId").as("user_id"), col("eventType")
        .as("event_type")).dropDuplicates("user_id", "event_type")
    }.orderBy("user_id", "event_type")

  /** stream_stream_join: watermarked self-join — every (error, purchase)
    * pair of the same user within 5 minutes (purchase after error). */
  def streamStreamJoin(s: SparkSession, d: String): DataFrame =
    runStream(s, d, "stream_stream_join", OutputMode.Append()) { ds =>
      val base = withTs(ds)
      // the harness feed is time-ordered, so the watermark delay only
      // needs to cover chunk-boundary ties — 1 minute instead of 10 keeps
      // ~10× less join state resident across micro-batches
      val err = base.filter(col("eventType") === "error")
        .select(col("userId").as("e_user"), col("eventId").as("error_id"),
          col("ts").as("e_ts")).withWatermark("e_ts", "1 minute")
      val pur = base.filter(col("eventType") === "purchase")
        .select(col("userId").as("p_user"), col("eventId").as("purchase_id"),
          col("ts").as("p_ts")).withWatermark("p_ts", "1 minute")
      err.join(pur,
        col("e_user") === col("p_user") &&
          col("p_ts") > col("e_ts") &&
          col("p_ts") <= col("e_ts") + expr("interval 5 minutes"))
        .select(col("e_user").as("user_id"), col("error_id"),
          col("purchase_id"))
    }.orderBy("error_id", "purchase_id")

  /** stream_cep_seq: the CEP NFA running INSIDE flatMapGroupsWithState —
    * per-key state buffers the history; each micro-batch re-folds and
    * emits only matches beyond the already-emitted watermark count
    * (prefix-stable because `->` matches finalize at their last event).
    * Same oracle as the batch cep_seq_followed_by. */
  def cepSeq(s: SparkSession, d: String): DataFrame = {
    val steps: IndexedSeq[Cep.PStep] = IndexedSeq(
      Cep.Single("e1", (e, _) => e.eventType == "error"),
      Cep.Single("e2", (e, _) => e.eventType == "purchase"))
    val withinNs = Some(5L * 60 * 1000 * 1000 * 1000)
    runStream(s, d, "stream_cep_seq", OutputMode.Append()) { ds =>
      import ds.sparkSession.implicits._
      ds.groupByKey(_.userId)
        .flatMapGroupsWithState[(Vector[Ev], Int), Cep.SeqMatch](
          OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
          case (_, batch: Iterator[Ev],
                state: GroupState[(Vector[Ev], Int)]) =>
            val (hist, emitted) = state.getOption.getOrElse((Vector.empty, 0))
            val all = (hist ++ batch).sortBy(e => (e.tsNs, e.eventId))
            val outs = Cep.run[Cep.SeqMatch](steps, withinNs, Cep.EveryMatch,
              b => Cep.SeqMatch(b("e1").head.userId, b("e1").head.eventId,
                b("e2").head.eventId, b("e2").head.value))(all.iterator)
              .toVector
            state.update((all, outs.length))
            outs.drop(emitted).iterator
        }.toDF()
    }.orderBy("start_id")
  }

  /** stream_table_upsert: Siddhi `update or insert into T` — foreachBatch
    * MERGE emulation without Delta: each micro-batch full-outer-merges into
    * the keyed table (latest event wins, counts accumulate), written to
    * alternating parquet generations. Returns the final table state. */
  def tableUpsert(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sq = s.sqlContext
    val rows = feedRows(s, d)
    val tmp = scratchDir("graft_upsert")
    var gen = 0
    val ms = MemoryStream[Ev]
    val q = startScoped(s)(ms.toDS().writeStream.outputMode("update")
      .option("checkpointLocation", ckpt("table_upsert"))
      .foreachBatch { (batch: Dataset[Ev], _: Long) =>
        // winner struct carries eventId so a tsNs tie resolves by the
        // later event_id — matching the oracle's ORDER BY ts DESC,
        // event_id DESC tie-break (not by larger value)
        val delta = batch
          .groupBy(col("userId").as("user_id"))
          .agg(max(struct(col("tsNs"), col("eventId"), col("value")))
            .as("latest"), count(lit(1)).as("n"))
          .select(col("user_id"), col("latest.tsNs").as("last_ts_ns"),
            col("latest.eventId").as("last_eid"),
            col("latest.value").as("last_value"), col("n"))
        val spark = batch.sparkSession
        val merged =
          if (gen == 0) delta
          else {
            val prev = spark.read.parquet(s"$tmp/gen$gen")
            val uKey = struct(
              coalesce(col("u.last_ts_ns"), lit(Long.MinValue)),
              coalesce(col("u.last_eid"), lit(Long.MinValue)))
            val tKey = struct(
              coalesce(col("t.last_ts_ns"), lit(Long.MinValue)),
              coalesce(col("t.last_eid"), lit(Long.MinValue)))
            prev.as("t").join(delta.as("u"),
                col("t.user_id") === col("u.user_id"), "full_outer")
              .select(
                coalesce(col("u.user_id"), col("t.user_id")).as("user_id"),
                when(uKey >= tKey, col("u.last_ts_ns"))
                  .otherwise(col("t.last_ts_ns")).as("last_ts_ns"),
                when(uKey >= tKey, col("u.last_eid"))
                  .otherwise(col("t.last_eid")).as("last_eid"),
                when(uKey >= tKey, col("u.last_value"))
                  .otherwise(col("t.last_value")).as("last_value"),
                (coalesce(col("t.n"), lit(0L)) + coalesce(col("u.n"),
                  lit(0L))).as("n"))
          }
        merged.write.mode("overwrite").parquet(s"$tmp/gen${gen + 1}")
        gen += 1
      }.start())
    replay(ms, q, rows, 4)
    s.read.parquet(s"$tmp/gen$gen")
      .select(col("user_id"), expr("last_ts_ns div 1000000")
        .as("last_ts_ms"), round(col("last_value"), 2).as("last_value"),
        col("n").as("n_events"))
      .orderBy("user_id")
  }

  /** CDC row state: is the key's row currently present, and its value. */
  case class CdcState(alive: Boolean, value: Double)
  /** One emitted change event (Debezium-shaped: op + before/after image). */
  case class CdcChange(user_id: Long, event_id: Long, op: String,
                       before_value: Option[Double],
                       after_value: Option[Double])

  /** stream_cdc_feed: CHANGE-DATA-CAPTURE emission — the cdc-source
    * connector class (Debezium / Delta CDF analog) as an engine
    * capability: the keyed table maintained by the stream also EMITS its
    * change feed, one Debezium-shaped record per applied mutation
    * (op c/u/d + before/after image). `signup` events are tombstones:
    * they delete the key's row (emitting 'd' with the before image) and
    * are ignored when the row is already absent; any other event creates
    * ('c') or updates ('u') the row. Per-key state is one (alive, value)
    * pair inside `flatMapGroupsWithState` — O(keys) state, one exchange,
    * the exact shape a production CDC emitter has at any scale. The
    * oracle reconstructs the same feed with lag() windows. */
  def cdcFeed(s: SparkSession, d: String): DataFrame =
    runStream(s, d, "stream_cdc_feed", OutputMode.Append()) { ds =>
      import ds.sparkSession.implicits._
      ds.groupByKey(_.userId)
        .flatMapGroupsWithState[CdcState, CdcChange](
          OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
          case (uid, it, st) =>
            var state = st.getOption.getOrElse(CdcState(alive = false, 0.0))
            val out = it.toVector.sortBy(e => (e.tsNs, e.eventId))
              .flatMap { e =>
                if (e.eventType == "signup") {
                  if (state.alive) {
                    val before = state.value
                    state = CdcState(alive = false, 0.0)
                    Some(CdcChange(uid, e.eventId, "d", Some(before), None))
                  } else None // delete of an absent row: no change event
                } else {
                  val change =
                    if (state.alive)
                      CdcChange(uid, e.eventId, "u", Some(state.value),
                        Some(e.value))
                    else
                      CdcChange(uid, e.eventId, "c", None, Some(e.value))
                  state = CdcState(alive = true, e.value)
                  Some(change)
                }
              }
            st.update(state)
            out.iterator
        }.toDF()
    }.orderBy("event_id")

  /** stream_batch_window: Siddhi `#window.batch()` — one aggregate per
    * arrival chunk ≡ per-micro-batch (foreachBatch). The feed is 4 equal
    * event-time-ordered chunks, so batch boundaries are deterministic. */
  def batchWindow(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sq = s.sqlContext
    val rows = feedRows(s, d)
    val acc = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Double)]
    val ms = MemoryStream[Ev]
    val q = startScoped(s)(ms.toDS().writeStream.outputMode("append")
      .option("checkpointLocation", ckpt("batch_window"))
      .foreachBatch { (batch: Dataset[Ev], _: Long) =>
        // batch_id = local counter over NON-EMPTY batches (engine batch ids
        // also tick on empty micro-batches, which would desync the oracle's
        // contiguous-chunk reconstruction)
        val r = batch.agg(count(lit(1)), round(sum("value"), 2)).collect()(0)
        if (r.getLong(0) > 0) {
          acc += ((acc.length.toLong, r.getLong(0), r.getDouble(1)))
        }
        ()
      }.start())
    replay(ms, q, rows, 4)
    s.createDataFrame(acc.toSeq).toDF("batch_id", "n", "sum_value")
      .orderBy("batch_id")
  }

  /** stream_cep_absence: timer-based absence detection — the SURVEY §7.4
    * "hard part". `every e1=error -> not purchase for 5 min` running live:
    * pending errors are per-key state with an event-time timeout at the
    * earliest deadline; purchases cancel pending errors; watermark
    * advancement fires the timer and emits confirmed absences. The feed
    * appends far-future sentinel rows (userId = -1, filtered out) so the
    * watermark provably passes every deadline before the query stops —
    * the streaming analog of the batch NFA's end-of-stream flush. */
  def cepAbsence(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sq = s.sqlContext
    val MIN5NS = 5L * 60 * 1000 * 1000 * 1000
    val rows = feedRows(s, d)
    val ms = MemoryStream[Ev]
    val q = startScoped(s, Width8, NoDataOff)(
      ms.toDS()
        .withColumn("ts", timestamp_micros(expr("tsNs div 1000")))
        .withWatermark("ts", "0 seconds")
        .as[EvT]
        .groupByKey(_.userId)
        .flatMapGroupsWithState[List[(Long, Long, Long)], AbsenceHit](
          OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
          case (uid, batch, state) =>
            // pending: (eventId, tsNs, deadlineNs)
            var pending = state.getOption.getOrElse(Nil)
            val out = scala.collection.mutable.ArrayBuffer.empty[AbsenceHit]
            if (!state.hasTimedOut) {
              val evs = batch.toVector.sortBy(e => (e.tsNs, e.eventId))
              evs.foreach { e =>
                if (e.eventType == "purchase")
                  pending = pending.filterNot { case (_, ets, ddl) =>
                    e.tsNs > ets && e.tsNs <= ddl
                  }
                else if (e.eventType == "error")
                  pending = (e.eventId, e.tsNs, e.tsNs + MIN5NS) :: pending
              }
            }
            // emit every pending error whose deadline the watermark passed
            val wmNs = state.getCurrentWatermarkMs() * 1000000L
            val (expired, alive) = pending.partition(_._3 < wmNs)
            expired.sortBy(_._1).foreach { case (id, _, _) =>
              out += AbsenceHit(uid, id)
            }
            if (alive.isEmpty) state.remove()
            else {
              state.update(alive)
              state.setTimeoutTimestamp(alive.map(_._3).min / 1000000L + 1)
            }
            out.iterator
        }
        .filter(col("user_id") =!= -1L)
        .writeStream.format("memory").queryName("stream_cep_absence")
        .option("checkpointLocation", ckpt("cep_absence"))
        .outputMode("append").start())
    replay(ms, q, rows, 3, absenceSentinels(rows))
    s.table("stream_cep_absence").orderBy("event_id")
  }

  /** The absence replays' two sentinels (userId -1, filtered out): the
    * first advances the watermark past every deadline, the second
    * triggers a batch that fires the timers. */
  private def absenceSentinels(rows: Array[Ev]): Seq[Ev] = {
    val maxTs = rows.map(_.tsNs).max
    val min5Ns = 5L * 60 * 1000 * 1000 * 1000
    Seq(Ev(-1, maxTs + 2 * min5Ns, -1, "sentinel", 0),
      Ev(-2, maxTs + 3 * min5Ns, -1, "sentinel", 0))
  }

  /** stream_length_sliding: count-based sliding window (`#window.length
    * (20)`) in streaming — SURVEY §7.4 hard part (no Spark primitive).
    * Per-key ring buffer in flatMapGroupsWithState; one output per event
    * carrying the last-20 running aggregate. Same oracle as the batch
    * window-function formulation. */
  def lengthSliding(s: SparkSession, d: String): DataFrame =
    runStream(s, d, "stream_length_sliding", OutputMode.Append()) { ds =>
      import ds.sparkSession.implicits._
      ds.groupByKey(_.userId)
        .flatMapGroupsWithState[Vector[Double], (Long, Long, Double, Long)](
          OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
          case (uid, batch, state) =>
            var ring = state.getOption.getOrElse(Vector.empty)
            val out = batch.toVector.sortBy(e => (e.tsNs, e.eventId))
              .map { e =>
                ring = (ring :+ e.value).takeRight(20)
                (e.eventId, uid,
                  BigDecimal(ring.sum).setScale(2,
                    BigDecimal.RoundingMode.HALF_UP).toDouble,
                  ring.length.toLong)
              }
            state.update(ring)
            out.iterator
        }
        .toDF("event_id", "user_id", "sum_last20", "n_last20")
    }.orderBy("event_id")

  /** stream_window_expired: `insert expired events into` semantics
    * (SURVEY §7.4) — a time(1 min) sliding window that EMITS its eviction
    * records: when a later event of the key advances that key's clock past
    * an occupant's ts + 1 min, the occupant leaves the window as an
    * expired event stamped with its expiry time. */
  def windowExpired(s: SparkSession, d: String): DataFrame =
    runStream(s, d, "stream_window_expired", OutputMode.Append()) { ds =>
      import ds.sparkSession.implicits._
      val WIN = 60L * 1000 * 1000 * 1000
      ds.groupByKey(_.userId)
        .flatMapGroupsWithState[Vector[(Long, Long)], (Long, Long)](
          OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
          case (_, batch, state) =>
            var held = state.getOption.getOrElse(Vector.empty)
            val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
            batch.toVector.sortBy(e => (e.tsNs, e.eventId)).foreach { e =>
              val (gone, kept) = held.partition(_._2 + WIN < e.tsNs)
              gone.foreach { case (id, ts) =>
                out += ((id, ts / 1000000L + 60000L))
              }
              held = kept :+ (e.eventId, e.tsNs)
            }
            state.update(held)
            out.iterator
        }
        .toDF("event_id", "expired_at_ms")
    }.orderBy("event_id")

  /** The same last-20 ring buffer as [[lengthSliding]], but on the modern
    * `transformWithState` API (Spark 4 StatefulProcessor + RocksDB state
    * store) — typed ValueState, explicit init/handle lifecycle. Identical
    * oracle to the flatMapGroupsWithState variant: the two stateful APIs
    * are proven interchangeable for this engine's window state. */
  class RingProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Ev, (Long, Long, Double, Long)] {
    @transient private var ring:
        org.apache.spark.sql.streaming.ValueState[Array[Double]] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      ring = getHandle.getValueState[Array[Double]]("ring",
        org.apache.spark.sql.Encoders.kryo[Array[Double]],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Ev],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(Long, Long, Double, Long)] = {
      var buf = Option(ring.get()).getOrElse(Array.empty[Double]).toVector
      val out = rows.toVector.sortBy(e => (e.tsNs, e.eventId)).map { e =>
        buf = (buf :+ e.value).takeRight(20)
        (e.eventId, key,
          BigDecimal(buf.sum).setScale(2,
            BigDecimal.RoundingMode.HALF_UP).toDouble,
          buf.length.toLong)
      }
      ring.update(buf.toArray)
      out.iterator
    }
  }

  /** Timer-based absence on the MODERN stateful API: ListState holds the
    * pending errors, `registerTimer` + `handleExpiredTimer` replace the
    * fMGWS timeout channel — the Spark 4 `transformWithState` twin of
    * [[cepAbsence]], sharing its oracle. */
  class AbsenceProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, EvT, AbsenceHit] {
    private val MIN5NS = 5L * 60 * 1000 * 1000 * 1000
    // pending error: (eventId, tsNs, deadlineNs)
    @transient private var pending:
        org.apache.spark.sql.streaming.ListState[(Long, Long, Long)] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      pending = getHandle.getListState[(Long, Long, Long)]("pending",
        org.apache.spark.sql.Encoders.kryo[(Long, Long, Long)],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    /** Emit deadline-passed entries, persist the rest, arm the next timer. */
    private def sweep(key: Long, cur: List[(Long, Long, Long)],
        wmNs: Long): Iterator[AbsenceHit] = {
      val (expired, alive) = cur.partition(_._3 < wmNs)
      pending.clear()
      if (alive.nonEmpty) {
        alive.foreach(pending.appendValue)
        getHandle.registerTimer(alive.map(_._3).min / 1000000L + 1)
      }
      expired.sortBy(_._1).map { case (id, _, _) =>
        AbsenceHit(key, id)
      }.iterator
    }

    override def handleInputRows(key: Long, rows: Iterator[EvT],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[AbsenceHit] = {
      var cur = pending.get().toList
      rows.toVector.sortBy(e => (e.tsNs, e.eventId)).foreach { e =>
        if (e.eventType == "purchase")
          cur = cur.filterNot { case (_, ets, ddl) =>
            e.tsNs > ets && e.tsNs <= ddl
          }
        else if (e.eventType == "error")
          cur = (e.eventId, e.tsNs, e.tsNs + MIN5NS) :: cur
      }
      sweep(key, cur, timers.getCurrentWatermarkInMs() * 1000000L)
    }

    override def handleExpiredTimer(key: Long,
        timers: org.apache.spark.sql.streaming.TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[AbsenceHit] =
      sweep(key, pending.get().toList,
        timers.getCurrentWatermarkInMs() * 1000000L)
  }

  /** stream_cep_absence_tws: the same absence query as [[cepAbsence]] but
    * executed by [[AbsenceProcessor]] on transformWithState + event-time
    * timers (same sentinel-driven watermark advance, same oracle). */
  def cepAbsenceTws(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sq = s.sqlContext
    val rows = feedRows(s, d)
    val ms = MemoryStream[Ev]
    val q = startScoped(s, Width8, RocksDb,
      // changelog checkpointing: per-commit cost = the delta, not a full
      // RocksDB snapshot upload — the per-trigger fixed cost that
      // dominates this finite replay (and any low-latency deployment)
      "spark.sql.streaming.stateStore.rocksdb." +
        "changelogCheckpointing.enabled" -> "true",
      NoDataOff)(
      ms.toDS()
        .withColumn("ts", timestamp_micros(expr("tsNs div 1000")))
        .withWatermark("ts", "0 seconds")
        .as[EvT]
        .groupByKey(_.userId)
        .transformWithState(new AbsenceProcessor,
          org.apache.spark.sql.streaming.TimeMode.EventTime(),
          OutputMode.Append())
        .filter(col("user_id") =!= -1L)
        .writeStream.format("memory").queryName("stream_cep_absence_tws")
        .option("checkpointLocation", ckpt("cep_absence_tws"))
        .outputMode("append").start())
    replay(ms, q, rows, 3, absenceSentinels(rows))
    s.table("stream_cep_absence_tws").orderBy("event_id")
  }

  /** stream_length_tws: transformWithState execution of the count window. */
  def lengthSlidingTws(s: SparkSession, d: String): DataFrame =
    runStream(s, d, "stream_length_tws", OutputMode.Append(),
        conf = Seq(RocksDb)) { ds =>
      import ds.sparkSession.implicits._
      ds.groupByKey(_.userId)
        .transformWithState(new RingProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(),
          OutputMode.Append())
        .toDF("event_id", "user_id", "sum_last20", "n_last20")
    }.orderBy("event_id")

  /** stream_file_source: the FILE streaming source end-to-end — Siddhi's
    * `@source(type='file', mode='line'/'regex')` dir-watching analog is
    * Spark's file stream source. The feed is staged as three parquet
    * files in a watched directory; `readStream.parquet` with
    * maxFilesPerTrigger=1 discovers them one micro-batch each (a REAL
    * multi-batch file-arrival sequence, not a MemoryStream), and a
    * complete-mode aggregation produces the per-type totals the oracle
    * checks. At 100 TB this is exactly the production ingest path —
    * files land in object storage, the source lists increments. */
  def fileSource(s: SparkSession, d: String): DataFrame = {
    val dir = stagedFeedCache.getOrElseUpdate(d, {
      import s.implicits._
      val rows = feedRows(s, d)
      val staged = scratchDir("graft_file_src")
      rows.grouped(math.max(rows.length / 3, 1)).foreach { g =>
        s.createDataset(g.toSeq).coalesce(1)
          .write.mode("append").parquet(staged)
      }
      staged
    })
    ramCheckpoints(s)
    val q = startScoped(s, Width8)(
      s.readStream
        .schema(s.read.parquet(dir).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(dir)
        .groupBy(col("eventType").as("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
        .writeStream.format("memory").queryName("stream_file_source")
        .option("checkpointLocation", ckpt("file_source"))
        .outputMode(OutputMode.Complete()).start())
    try q.processAllAvailable() finally q.stop()
    s.table("stream_file_source").orderBy("event_type")
  }

  /** stream_dim_join: STREAM-STATIC join — Siddhi's `stream join Table`
    * run live: the streaming events join a static dimension (per-user
    * spend band, computed batch-side from the same corpus) on user_id;
    * per-band running totals in complete mode. Structured Streaming
    * plans the static side as a regular batch relation re-read per
    * micro-batch and broadcast when small — the exact enrichment-join
    * shape of a 100 TB ingest (stream facts ⋈ broadcast dimension, no
    * stream-side state). */
  def dimJoin(s: SparkSession, d: String): DataFrame = {
    val dim = events(s, d)
      .groupBy("user_id")
      .agg(sum("value").as("spend"))
      .select(col("user_id").as("dim_user"),
        when(col("spend") >= 10000, "whale").otherwise("regular")
          .as("band"))
    runStream(s, d, "stream_dim_join", OutputMode.Complete()) { ds =>
      ds.join(broadcast(dim), col("userId") === col("dim_user"))
        .groupBy("band")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
    }.orderBy("band")
  }

  /** stream_rate_limit: `output first every 1 min` LIVE — streaming
    * dropDuplicates on (user, minute) emits exactly the first event of
    * each key-interval as it arrives. The interval id is a TIMESTAMP
    * event-time column carrying the watermark and part of the dedup key:
    * Spark only evicts streaming-dedup state when the watermarked
    * event-time column is among the keys, so a derived LONG id would
    * accumulate state forever (ADVICE r6) — this way a minute's state is
    * dropped once the watermark passes its start. */
  def rateLimitFirst(s: SparkSession, d: String): DataFrame =
    runStream(s, d, "stream_rate_limit", OutputMode.Append()) { ds =>
      withTs(ds)
        .withColumn("__w",
          timestamp_millis(expr("tsNs div 60000000000") * 60000L))
        .withWatermark("__w", "1 minute")
        .dropDuplicates("userId", "__w")
        .select(col("userId").as("user_id"),
          unix_millis(col("__w")).as("w_start_ms"),
          col("eventId").as("first_id"))
    }.orderBy("user_id", "w_start_ms")

  /** Staged line-oriented event log for the custom V2 source (one CSV
    * line per event, time-ordered), written once per sf directory. */
  private val stagedLogCache =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private[graft] def stagedEventLog(s: SparkSession, d: String): String =
    stagedLogCache.getOrElseUpdate(d, {
      val rows = feedRows(s, d)
      val f = java.nio.file.Files.createTempFile("graft_events", ".csv")
      val w = java.nio.file.Files.newBufferedWriter(f)
      rows.foreach { ev =>
        w.write(s"${ev.eventId},${ev.tsNs},${ev.userId},${ev.eventType}," +
          s"${ev.value}\n")
      }
      w.close()
      f.toString
    })

  /** stream_custom_source: the engine's own DataSource V2 streaming
    * source (sources/GraftEventsSource.scala) — the `Source` SPI analog
    * every reference transport connector implements. The staged event log
    * replays through `readStream.format("graft")` in four
    * admission-controlled micro-batches (row-position offsets,
    * checkpoint-recoverable — StreamingSourceSpec proves restart resumes
    * from the committed offset), and a complete-mode aggregation produces
    * the oracle-checked totals. */
  def customSource(s: SparkSession, d: String): DataFrame = {
    val path = stagedEventLog(s, d)
    val nRows = feedRows(s, d).length
    ramCheckpoints(s)
    val q = startScoped(s, Width8)(
      s.readStream.format("graft")
        .option("path", path)
        .option("rowsPerBatch", math.max(nRows / 4, 1).toString)
        .load()
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"),
          max("event_id").as("max_id"))
        .writeStream.format("memory").queryName("stream_custom_source")
        .option("checkpointLocation", ckpt("custom_source"))
        .outputMode(OutputMode.Complete()).start())
    try q.processAllAvailable() finally q.stop()
    s.table("stream_custom_source").orderBy("event_type")
  }

  val queries: Map[String, Q] = Map(
    "stream_cdc_feed"       -> (cdcFeed _),
    "stream_custom_source"  -> (customSource _),
    "stream_dim_join"       -> (dimJoin _),
    "stream_rate_limit"     -> (rateLimitFirst _),
    "stream_file_source"    -> (fileSource _),
    "stream_length_tws"     -> (lengthSlidingTws _),
    "stream_window_expired" -> (windowExpired _),
    "stream_length_sliding" -> (lengthSliding _),
    "stream_cep_absence"   -> (cepAbsence _),
    "stream_cep_absence_tws" -> (cepAbsenceTws _),
    "stream_batch_window"  -> (batchWindow _),
    "stream_timebatch_sum" -> (timeBatchSum _),
    "stream_session"       -> (session _),
    "stream_dedup_keys"    -> (dedupKeys _),
    "stream_stream_join"   -> (streamStreamJoin _),
    "stream_cep_seq"       -> (cepSeq _),
    "stream_table_upsert"  -> (tableUpsert _)
  )

  val oracle: Map[String, String] = Map(
    // lag() reconstruction: a key's state before an event is its previous
    // event (alive iff that event exists and wasn't a tombstone), so op
    // and before/after images are pure window arithmetic
    "stream_cdc_feed" ->
      """WITH o AS (
        |  SELECT user_id, event_id, event_type, value,
        |    lag(event_type) OVER w AS prev_type,
        |    lag(value) OVER w AS prev_value
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, event_id,
        |  CASE WHEN event_type = 'signup' THEN 'd'
        |       WHEN prev_type IS NULL OR prev_type = 'signup' THEN 'c'
        |       ELSE 'u' END AS op,
        |  CASE WHEN prev_type IS NOT NULL AND prev_type != 'signup'
        |       THEN prev_value END AS before_value,
        |  CASE WHEN event_type = 'signup' THEN NULL
        |       ELSE value END AS after_value
        |FROM o
        |WHERE NOT (event_type = 'signup'
        |  AND (prev_type IS NULL OR prev_type = 'signup'))
        |ORDER BY event_id""".stripMargin,
    "stream_custom_source" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value,
        |  max(event_id) AS max_id
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "stream_dim_join" ->
      """WITH dim AS (
        |  SELECT user_id,
        |    CASE WHEN sum(value) >= 10000 THEN 'whale' ELSE 'regular' END
        |      AS band
        |  FROM events GROUP BY user_id)
        |SELECT d.band, count(*) AS n, round(sum(e.value), 2) AS sum_value
        |FROM events e JOIN dim d ON e.user_id = d.user_id
        |GROUP BY d.band ORDER BY band""".stripMargin,
    "stream_rate_limit" ->
      """WITH ranked AS (
        |  SELECT user_id, epoch_ms(ts) // 60000 * 60000 AS w_start_ms,
        |    event_id,
        |    row_number() OVER (PARTITION BY user_id, epoch_ms(ts) // 60000
        |      ORDER BY ts, event_id) AS rn
        |  FROM events)
        |SELECT user_id, w_start_ms, event_id AS first_id FROM ranked
        |WHERE rn = 1 ORDER BY user_id, w_start_ms""".stripMargin,
    "stream_file_source" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "stream_length_tws" ->
      """SELECT event_id, user_id,
        |  round(sum(value) OVER w, 2) AS sum_last20,
        |  count(*) OVER w AS n_last20
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    // an event expires iff a later same-key event advances past its
    // ts + 1 min while the query runs
    "stream_window_expired" ->
      """SELECT e.event_id, epoch_ms(e.ts) + 60000 AS expired_at_ms
        |FROM events e WHERE EXISTS (
        |  SELECT 1 FROM events l WHERE l.user_id = e.user_id
        |    AND l.ts > e.ts + INTERVAL 1 MINUTE)
        |ORDER BY e.event_id""".stripMargin,
    "stream_length_sliding" ->
      """SELECT event_id, user_id,
        |  round(sum(value) OVER w, 2) AS sum_last20,
        |  count(*) OVER w AS n_last20
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "stream_cep_absence_tws" ->
      """SELECT e.user_id, e.event_id
        |FROM events e WHERE e.event_type = 'error' AND NOT EXISTS (
        |  SELECT 1 FROM events p WHERE p.event_type = 'purchase'
        |    AND p.user_id = e.user_id AND p.ts > e.ts
        |    AND p.ts <= e.ts + INTERVAL 5 MINUTE)
        |ORDER BY e.event_id""".stripMargin,
    "stream_cep_absence" ->
      """SELECT e.user_id, e.event_id
        |FROM events e WHERE e.event_type = 'error' AND NOT EXISTS (
        |  SELECT 1 FROM events p WHERE p.event_type = 'purchase'
        |    AND p.user_id = e.user_id AND p.ts > e.ts
        |    AND p.ts <= e.ts + INTERVAL 5 MINUTE)
        |ORDER BY e.event_id""".stripMargin,
    "stream_batch_window" ->
      """WITH ranked AS (
        |  SELECT value, row_number() OVER (ORDER BY ts, event_id) - 1 AS rn,
        |    count(*) OVER () AS total
        |  FROM events)
        |SELECT rn // greatest(total // 4, 1) AS batch_id, count(*) AS n,
        |  round(sum(value), 2) AS sum_value
        |FROM ranked GROUP BY 1 ORDER BY 1""".stripMargin,
    "stream_timebatch_sum" ->
      """SELECT epoch_ms(date_trunc('minute', ts)) AS w_start_ms,
        |  round(sum(value), 2) AS sum_value, count(*) AS cnt
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "stream_session" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |              <= INTERVAL 10 MINUTE THEN 0 ELSE 1 END AS new_sess
        |  FROM events),
        |sess AS (
        |  SELECT user_id, ts, value,
        |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS sess_id
        |  FROM flagged)
        |SELECT user_id, epoch_ms(min(ts)) AS sess_start_ms,
        |  count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM sess GROUP BY user_id, sess_id
        |ORDER BY user_id, sess_start_ms""".stripMargin,
    "stream_dedup_keys" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,
    "stream_stream_join" ->
      """SELECT e.user_id, e.event_id AS error_id, p.event_id AS purchase_id
        |FROM events e JOIN events p ON e.event_type = 'error'
        |  AND p.event_type = 'purchase' AND p.user_id = e.user_id
        |  AND p.ts > e.ts AND p.ts <= e.ts + INTERVAL 5 MINUTE
        |ORDER BY error_id, purchase_id""".stripMargin,
    "stream_cep_seq" ->
      """WITH err AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'error'),
        |pur AS (SELECT user_id, event_id, ts, value FROM events WHERE event_type = 'purchase')
        |SELECT user_id, start_id, next_id, next_value FROM (
        |  SELECT e.user_id, e.event_id AS start_id, p.event_id AS next_id,
        |    p.value AS next_value,
        |    row_number() OVER (PARTITION BY e.event_id
        |      ORDER BY p.ts, p.event_id) AS rk
        |  FROM err e JOIN pur p ON e.user_id = p.user_id
        |    AND p.ts > e.ts AND p.ts <= e.ts + INTERVAL 5 MINUTE) t
        |WHERE rk = 1 ORDER BY start_id""".stripMargin,
    "stream_table_upsert" ->
      """WITH latest AS (
        |  SELECT user_id, epoch_ms(ts) AS last_ts_ms, round(value, 2)
        |      AS last_value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rk,
        |    count(*) OVER (PARTITION BY user_id) AS n_events
        |  FROM events)
        |SELECT user_id, last_ts_ms, last_value, n_events FROM latest
        |WHERE rk = 1 ORDER BY user_id""".stripMargin
  )
}
